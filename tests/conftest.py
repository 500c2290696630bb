"""Shared pytest fixtures: one local SparkSession, synthetic corpora."""

from __future__ import annotations

import pytest

from ocrd_odem_spark import gen
from ocrd_odem_spark.schema import DOCS_SCHEMA, DOC_META_SCHEMA, PAGE_META_SCHEMA
from ocrd_odem_spark.session import get_spark

SEED = 42


@pytest.fixture(scope="session")
def spark():
    session = get_spark("ocrd-odem-spark-tests", cores=4, shuffle_partitions=8)
    yield session
    # removes the driver's Unix-domain socket file from java.io.tmpdir
    session.stop()


@pytest.fixture(scope="session")
def corpus():
    return gen.make_corpus(SEED, 40)


@pytest.fixture(scope="session")
def docs_df(spark, corpus):
    return spark.createDataFrame(corpus, DOCS_SCHEMA).cache()


@pytest.fixture(scope="session")
def page_meta_df(spark, corpus):
    return spark.createDataFrame(gen.make_page_meta(SEED, corpus), PAGE_META_SCHEMA)


@pytest.fixture(scope="session")
def doc_meta_df(spark, corpus):
    return spark.createDataFrame(gen.make_doc_meta(SEED, corpus), DOC_META_SCHEMA)
