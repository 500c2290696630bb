"""Seeded benchmark inputs, built from ``ocrd_odem_spark.gen`` and cached.

Every input is a pure function of ``(workload, seed, size)``.  The rows are
generated in the driver, digested, and written as parquet with the engine's
contract schemas (``schema.DOCS_SCHEMA`` etc., so span ``offset`` is int32).
A finished input directory is published by one atomic rename and carries a
``manifest.json`` with its digest, so a later run with the same key reuses
it.  The engine only ever sees these parquet files.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from ocrd_odem_spark import gen
from ocrd_odem_spark.schema import DOC_META_SCHEMA, DOCS_SCHEMA, PAGE_META_SCHEMA

#: Input size per workload.  Sized so one run (set-up, a cold iteration and
#: the measured warm loop) stays well under a minute on a 4-core host.
SIZES: dict[str, dict] = {
    # 600 generated docs, each stored 4 times under its own doc_id (the
    # per-document work is the same for every copy; only generation is
    # saved), in 32 small files: 8 input splits per core on 4 cores
    "extract-flagship": {"distinct_docs": 600, "replicas": 4, "files": 32},
    # a few files; every 150th doc is a 150-page book (skew).  The traced
    # run's dedup chain reads page-length texts (>= 80 tokens), a fifth of
    # them planted near-duplicate copies with one line replaced
    "extract-job": {
        "docs": 300, "oversized_every": 150, "oversized_pages": 150, "files": 4,
        "texts": 120, "dup_share": 0.2, "min_tokens": 80,
    },
}

MANIFEST = "manifest.json"

#: parquet schema of every table a workload reads
SCHEMAS: dict[str, dict[str, pa.Schema]] = {
    "extract-flagship": {"docs": to_arrow_schema(DOCS_SCHEMA)},
    "extract-job": {
        "docs": to_arrow_schema(DOCS_SCHEMA),
        "page_meta": to_arrow_schema(PAGE_META_SCHEMA),
        "doc_meta": to_arrow_schema(DOC_META_SCHEMA),
        "texts": pa.schema(
            [pa.field("doc_id", pa.string(), False), pa.field("text", pa.string(), False)]
        ),
    },
}


def digest_dir(path: str) -> str:
    """sha256 over the relative names and bytes of every file under
    ``path`` (pyarrow writes the same bytes for the same rows)."""
    h = hashlib.sha256()
    for root, _, names in sorted(os.walk(path)):
        for name in sorted(names):
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, path).encode() + b"\0")
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def flagship_rows(seed: int, size: dict) -> list[dict]:
    base = gen.make_corpus(seed, size["distinct_docs"])
    return [
        {"doc_id": f"{doc['doc_id']}#{rep}", "spans": doc["spans"]}
        for rep in range(size["replicas"])
        for doc in base
    ]


def job_rows(seed: int, size: dict) -> dict[str, list[dict]]:
    every = size["oversized_every"]
    docs = gen.make_corpus(
        seed, size["docs"], oversized_every=every, oversized_pages=size["oversized_pages"]
    )
    doc_meta = gen.make_doc_meta(seed, docs)
    # the books set the stage time (the slowest task); keep them relevant
    # and left-to-right under every seed so the work per seed stays alike
    for i in range(every - 1, len(docs), every):
        doc_meta[i].update(mets_type="monograph", pica_type="Aa", languages=["ger"])
    return {
        "docs": docs,
        "page_meta": gen.make_page_meta(seed, docs),
        "doc_meta": doc_meta,
        **dedup_rows(seed, size),
    }


def _page_text(rng: random.Random, min_tokens: int) -> list[str]:
    lines: list[str] = []
    n_tokens = 0
    while n_tokens < min_tokens:
        line = gen.make_line(rng)
        if line:
            lines.append(line)
            n_tokens += line.count(" ") + 1
    return lines


def dedup_rows(seed: int, size: dict) -> dict:
    """``(doc_id, text)`` rows plus the planted ``(source, copy)`` pairs."""
    rng = random.Random(seed)
    n_copies = round(size["texts"] * size["dup_share"])
    n_base = size["texts"] - n_copies
    pages = [_page_text(rng, size["min_tokens"]) for _ in range(n_base)]
    rows = [
        {"doc_id": f"t{seed}_{i:06d}", "text": " ".join(lines)}
        for i, lines in enumerate(pages)
    ]
    planted = []
    for j, src in enumerate(sorted(rng.sample(range(n_base), n_copies))):
        lines = list(pages[src])
        replacement = ""
        while replacement.count(" ") < 2:
            replacement = gen.make_line(rng)
        lines[rng.randrange(len(lines))] = replacement
        copy_id = f"t{seed}_{n_base + j:06d}"
        rows.append({"doc_id": copy_id, "text": " ".join(lines)})
        planted.append([rows[src]["doc_id"], copy_id])
    # interleave copies with their sources across the input files
    rng.shuffle(rows)
    return {"texts": rows, "planted": planted}


def rows(workload: str, seed: int) -> dict[str, list]:
    """The generated tables of one workload and seed, by table name."""
    size = SIZES[workload]
    if workload == "extract-flagship":
        return {"docs": flagship_rows(seed, size)}
    if workload == "extract-job":
        return job_rows(seed, size)
    raise ValueError(f"unknown workload {workload!r}")



def _write(rows: list[dict], schema: pa.Schema, path: str, files: int) -> None:
    os.makedirs(path)
    per = -(-len(rows) // files)
    for i in range(files):
        table = pa.Table.from_pylist(rows[i * per:(i + 1) * per], schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def prepare(workload: str, seed: int, cache_dir: str) -> dict:
    """Generate (or reuse) the input of one workload and seed.

    Returns the manifest: ``workload``, ``seed``, ``size``, ``digest``,
    ``cached``, and the parquet directory per table in ``paths``."""
    size = SIZES[workload]
    # the key covers the generating code too, so an edit never reuses stale
    # inputs
    h = hashlib.sha256(json.dumps([workload, seed, size], sort_keys=True).encode())
    for module in (__file__, gen.__file__):
        with open(module, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()[:12]
    final = os.path.join(cache_dir, f"{workload}-s{seed}-{key}")
    manifest_path = os.path.join(final, MANIFEST)
    cached = os.path.exists(manifest_path)
    if not cached:
        _generate(workload, seed, size, cache_dir, final)
    with open(manifest_path) as fh:
        manifest = json.load(fh)
    manifest["cached"] = cached
    manifest["paths"] = {name: os.path.join(final, name) for name in SCHEMAS[workload]}
    return manifest


def _generate(workload: str, seed: int, size: dict, cache_dir: str, final: str) -> None:
    tmp = os.path.join(cache_dir, f".tmp-{uuid.uuid4().hex}")
    os.makedirs(tmp)
    try:
        tables = rows(workload, seed)
        for name, schema in SCHEMAS[workload].items():
            files = size["files"] if name in ("docs", "texts") else 1
            _write(tables[name], schema, os.path.join(tmp, name), files)
        manifest = {
            "workload": workload,
            "seed": seed,
            "size": size,
            "digest": digest_dir(tmp),
        }
        with open(os.path.join(tmp, MANIFEST), "w") as fh:
            json.dump(manifest, fh)
        try:
            os.rename(tmp, final)
        except OSError:
            if not os.path.exists(os.path.join(final, MANIFEST)):
                raise  # not a concurrent twin that published first
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
