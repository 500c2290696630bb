"""Real CLI run of jobs/extract_job.py (the spark-submit surface), with
the S8 export flags — own JVM via subprocess, tiny corpus."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

from ocrd_odem_spark import gen
from ocrd_odem_spark.schema import DOCS_SCHEMA

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.slow
def test_extract_job_cli_with_export(spark, tmp_path):
    corpus = gen.make_corpus(11, 12)
    spark.createDataFrame(corpus, DOCS_SCHEMA).coalesce(1).write.parquet(
        str(tmp_path / "in")
    )
    env = os.environ.copy()
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env["PYSPARK_SUBMIT_ARGS"] = "--master local[2] pyspark-shell"
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "extract_job.py"),
         "--input", str(tmp_path / "in"),
         "--output", str(tmp_path / "out"),
         "--state", str(tmp_path / "state"),
         "--dehyphenate", "--buckets", "4",
         "--export-dir", str(tmp_path / "share"),
         "--export-format", "saf",
         "--export-prefix", "odem_",
         "--export-collection", "123456789/11"],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["published"] == 4
    assert report["exported"] == len(corpus)
    zips = sorted(os.listdir(tmp_path / "share"))
    assert len(zips) == len(corpus)
    assert all(z.startswith("odem_") and z.endswith(".zip") for z in zips)
    with zipfile.ZipFile(tmp_path / "share" / zips[0]) as zf:
        names = set(zf.namelist())
    assert "dublin_core.xml" in names and "collections" in names


@pytest.mark.slow
def test_extract_job_cli_with_metadata(spark, tmp_path):
    """--page-meta / --doc-meta: the job drops irrelevant docs and
    blacklisted pages exactly as the in-process HOF tier does."""
    from ocrd_odem_spark.plans import pipeline
    from ocrd_odem_spark.schema import DOC_META_SCHEMA, PAGE_META_SCHEMA
    from ocrd_odem_spark.sources import state

    corpus = gen.make_corpus(13, 16)
    docs = spark.createDataFrame(corpus, DOCS_SCHEMA)
    page_meta = spark.createDataFrame(gen.make_page_meta(13, corpus), PAGE_META_SCHEMA)
    doc_meta = spark.createDataFrame(gen.make_doc_meta(13, corpus), DOC_META_SCHEMA)
    docs.coalesce(1).write.parquet(str(tmp_path / "in"))
    page_meta.coalesce(1).write.parquet(str(tmp_path / "page_meta"))
    doc_meta.coalesce(1).write.parquet(str(tmp_path / "doc_meta"))
    env = os.environ.copy()
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env["PYSPARK_SUBMIT_ARGS"] = "--master local[2] pyspark-shell"
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "extract_job.py"),
         "--input", str(tmp_path / "in"),
         "--output", str(tmp_path / "out"),
         "--state", str(tmp_path / "state"),
         "--page-meta", str(tmp_path / "page_meta"),
         "--doc-meta", str(tmp_path / "doc_meta"),
         "--dehyphenate", "--buckets", "2"],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["published"] == 2

    def spans(df):
        return {
            r["doc_id"]: [tuple(s) for s in r["spans"]]
            for r in df.select("doc_id", "spans").collect()
        }

    got = spans(state.read_output(spark, str(tmp_path / "out")))
    want = spans(pipeline.extract(
        docs, page_meta=page_meta, doc_meta=doc_meta, dehyphenate=True, mode="hof"
    ))
    assert 0 < len(want) < len(corpus)  # the relevance filter dropped docs
    assert got == want
