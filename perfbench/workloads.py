"""The benchmark's workloads: set-up, one timed iteration, its checks and
the per-layer probes of a traced run.

Each workload drives the engine only through its public functions.  The
expected outputs come from the pure-Python ``oracle`` over the same
generated input, computed before any timing starts.
"""

from __future__ import annotations

import os
import re
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocrd_odem_spark import oracle
from ocrd_odem_spark.functions import dedup
from ocrd_odem_spark.plans import pipeline
from ocrd_odem_spark.schema import DOCS_SCHEMA
from ocrd_odem_spark.sources import export, state

import inputs
from tracing import Tracer, duration

#: physical-plan operators that run Python workers
PYTHON_NODE = re.compile(r"MapInArrow|MapInPandas|EvalPython|InPandas|PythonUDF")
CHECKPOINT_BUCKETS = 8
JACCARD_SAMPLE = 32
MIN_RECALL = 0.95


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def runs_python(df: DataFrame) -> bool:
    return bool(PYTHON_NODE.search(df._jdf.queryExecution().executedPlan().toString()))


def assert_schema(df: DataFrame, expected: str) -> None:
    """Fail set-up unless the scanned input has the contract column types
    (a pyarrow-inferred int64 ``offset`` breaks the HOF tier's analysis)."""
    got = df.schema.simpleString()
    if got != expected:
        raise ValueError(f"input schema {got} is not the contract schema {expected}")


def span_tuples(spans: list[dict]) -> list[tuple]:
    return [
        (s["kind"], s["text"], s["media_ref"], s["offset"])
        for s in sorted(spans, key=lambda s: s["offset"])
    ]


def compare_docs(expected: dict[str, list[dict]], got: dict[str, list[dict]]) -> list[str]:
    """Problems found comparing per-document span lists (empty when equal)."""
    problems = []
    missing = expected.keys() - got.keys()
    extra = got.keys() - expected.keys()
    if missing:
        problems.append(f"{len(missing)} docs missing from the output, e.g. {min(missing)}")
    if extra:
        problems.append(f"{len(extra)} unexpected docs in the output, e.g. {min(extra)}")
    differ = sorted(
        d for d in expected.keys() & got.keys()
        if span_tuples(expected[d]) != span_tuples(got[d])
    )
    if differ:
        problems.append(f"{len(differ)} docs differ from the oracle, e.g. {differ[0]}")
    return problems


def doc_totals(docs: dict[str, list[dict]]) -> dict[str, int]:
    return {
        "docs": len(docs),
        "spans": sum(len(s) for s in docs.values()),
        "chars": sum(len(x["text"] or "") for s in docs.values() for x in s),
    }


def collect_docs(df: DataFrame) -> dict[str, list[dict]]:
    return {r["doc_id"]: r["spans"] for r in df.select("doc_id", "spans").toArrow().to_pylist()}


def _boundary_probes(df: DataFrame, tracer: Tracer, nproc: int) -> dict[str, float]:
    """Scan -> noop against scan -> identity ``mapInArrow`` on ``doc_id``
    -> noop: the second minus the first is the JVM/Python boundary's cost,
    spread over its tasks and cores as a fixed cost per task."""

    def identity(batches):
        yield from batches

    with tracer.span("sources.scan_noop") as scan:
        noop(df)
    with tracer.span("pipeline.boundary_identity") as ident:
        noop(df.select("doc_id").mapInArrow(identity, "doc_id string"))
    extra_s = duration(ident) - duration(scan)
    return {
        "scan.noop_s": duration(scan),
        "scan.tasks": scan["tasks"],
        "pipeline.boundary_identity_s": duration(ident),
        "pipeline.task_overhead_ms": 1000.0 * extra_s * nproc / max(ident["tasks"], 1),
    }


class Workload:
    """Shared shape; subclasses fill in the engine calls."""

    name = ""

    def __init__(self, manifest: dict, nproc: int):
        self.paths = manifest["paths"]
        self.seed = manifest["seed"]
        self.nproc = nproc
        self.n_docs = 0
        self.oracle_us_per_span = 0.0
        self.first_counts: dict | None = None

    def check_repeat(self, counts: dict) -> list[str]:
        """Exact counts must repeat from iteration to iteration."""
        if self.first_counts is None:
            self.first_counts = dict(counts)
            return []
        if counts != self.first_counts:
            return [f"counts changed between iterations: {self.first_counts} -> {counts}"]
        return []

    def _time_oracle(self, docs: list[dict]) -> dict[str, list[dict]]:
        """The oracle's output per doc; records its cost per input span."""
        t0 = time.perf_counter()
        out = {d["doc_id"]: oracle.extract_document_dehyphenated(d["spans"]) for d in docs}
        n_spans = sum(len(d["spans"]) for d in docs)
        self.oracle_us_per_span = 1e6 * (time.perf_counter() - t0) / max(n_spans, 1)
        return out


class ExtractFlagship(Workload):
    """read -> ``extract_arrow(dehyphenate=True)`` -> count + chars."""

    name = "extract-flagship"

    def expected(self) -> None:
        docs = inputs.rows(self.name, self.seed)["docs"]
        self.n_docs = len(docs)
        # replicas differ only in the '#<replica>' doc_id suffix
        distinct = {d["doc_id"].split("#")[0]: d for d in docs}
        base = self._time_oracle(list(distinct.values()))
        self.oracle_out = {
            d["doc_id"]: base[distinct[d["doc_id"].split("#")[0]]["doc_id"]] for d in docs
        }
        self.totals = doc_totals(self.oracle_out)

    def setup(self, spark: SparkSession, tracer: Tracer) -> None:
        with tracer.span("sources.read_parquet"):
            self.docs = spark.read.parquet(self.paths["docs"])
            assert_schema(self.docs, DOCS_SCHEMA.simpleString())

    def iterate(self, spark: SparkSession, tracer: Tracer, workdir: str) -> dict:
        with tracer.span("pipeline.extract_arrow"):
            out = pipeline.extract_arrow(self.docs, dehyphenate=True)
        with tracer.span("sink.collect"):
            row = out.select(
                F.count("*").alias("docs"),
                F.sum(F.size("spans")).alias("spans"),
                F.sum(
                    F.aggregate("spans", F.lit(0).cast("long"),
                                lambda acc, s: acc + F.length(s["text"]))
                ).alias("chars"),
            ).collect()[0]
        return row.asDict()

    def check(self, counts: dict, workdir: str) -> list[str]:
        if counts != self.totals:
            return [f"totals {counts} differ from the oracle's {self.totals}"]
        return self.check_repeat(counts)

    def final_check(self, spark: SparkSession, workdir: str) -> list[str]:
        # the same stage on fewer, larger tasks: per-document output does
        # not depend on the split layout, and the totals of every timed
        # iteration were already checked on the measured layout
        got = collect_docs(
            pipeline.extract_arrow(self.docs.coalesce(self.nproc), dehyphenate=True)
        )
        return compare_docs(self.oracle_out, got)

    def probes(self, spark: SparkSession, tracer: Tracer, workdir: str) -> tuple[dict, list[str]]:
        m = _boundary_probes(self.docs, tracer, self.nproc)
        out = pipeline.extract_arrow(self.docs, dehyphenate=True)
        with tracer.span("pipeline.extract_arrow_noop") as rec:
            noop(out)
        m["pipeline.extract_arrow_noop_s"] = duration(rec)
        m["pipeline.python_tasks"] = rec["tasks"] if runs_python(out) else 0
        m["oracle.us_per_span"] = self.oracle_us_per_span
        m["pipeline.docs_out"] = self.totals["docs"]
        m["pipeline.spans_out"] = self.totals["spans"]
        m["pipeline.chars_out"] = self.totals["chars"]
        return m, []


_RTL_LANGS = {"ara", "heb", "fas"}
_BLACK_LABELS = ("Colorchecker", "Leerseite")
_BLACK_TYPES = {"cover_front", "cover_back"}


def _rtl_text(text: str) -> str:
    """The HOF tier's RTL fold of one line: strip marks, reverse tokens."""
    return " ".join(reversed(oracle.strip_marks(text).split(" ")))


class ExtractJob(Workload):
    """The extract job's public calls: ``extract`` with both metadata
    dimensions and no ``mode=`` (as ``jobs/extract_job.py`` calls it) under
    ``run_with_checkpoint``, a no-op resume, then the zip export.  Its
    traced run also measures the dedup layer (``NearDupChain``)."""

    name = "extract-job"

    def expected(self) -> None:
        tables = inputs.rows(self.name, self.seed)
        self.chain = NearDupChain(self.paths["texts"], tables["texts"], tables["planted"])
        docs = tables["docs"]
        self.n_docs = len(docs)
        rtl = {}
        for r in tables["doc_meta"]:
            if r["mets_type"] in ("monograph", "volume", "issue", "additional") and (
                (r["pica_type"] or "")[1:2] in ("a", "f", "F", "Z", "B")
            ):
                rtl[r["doc_id"]] = bool(_RTL_LANGS & set(r["languages"] or ()))
        self.blacklisted: dict[str, set] = {}
        for r in tables["page_meta"]:
            if any(t in (r["label"] or "") for t in _BLACK_LABELS) or (
                _BLACK_TYPES & set(r["log_types"] or ())
            ):
                self.blacklisted.setdefault(r["doc_id"], set()).add(r["media_ref"])
        kept = []
        for d in docs:
            if d["doc_id"] not in rtl:
                continue
            black = self.blacklisted.get(d["doc_id"], set())
            spans = [s for s in d["spans"] if s["media_ref"] not in black]
            if rtl[d["doc_id"]]:
                spans = [
                    {**s, "text": _rtl_text(s["text"])} if s["kind"] == "text" else s
                    for s in spans
                ]
            kept.append({"doc_id": d["doc_id"], "spans": spans})
        self.oracle_out = self._time_oracle(kept)
        self.totals = doc_totals(self.oracle_out)

    def setup(self, spark: SparkSession, tracer: Tracer) -> None:
        with tracer.span("sources.read_parquet"):
            self.docs = spark.read.parquet(self.paths["docs"])
            assert_schema(self.docs, DOCS_SCHEMA.simpleString())
            self.page_meta = spark.read.parquet(self.paths["page_meta"])
            self.doc_meta = spark.read.parquet(self.paths["doc_meta"])

    def _transform(self, tracer: Tracer):
        def transform(df: DataFrame) -> DataFrame:
            with tracer.span("pipeline.extract"):
                return pipeline.extract(
                    df, page_meta=self.page_meta, doc_meta=self.doc_meta, dehyphenate=True
                )
        return transform

    def iterate(self, spark: SparkSession, tracer: Tracer, workdir: str) -> dict:
        out, st = os.path.join(workdir, "out"), os.path.join(workdir, "state")
        transform = self._transform(tracer)
        with tracer.span("state.run_with_checkpoint"):
            first = state.run_with_checkpoint(
                spark, self.docs, transform, out, st, n_buckets=CHECKPOINT_BUCKETS
            )
        with tracer.span("state.resume"):
            again = state.run_with_checkpoint(
                spark, self.docs, transform, out, st, n_buckets=CHECKPOINT_BUCKETS
            )
        with tracer.span("export.export_documents"):
            table = export.export_documents(state.read_output(spark, out))
        with tracer.span("export.materialize_zips"):
            zips = export.materialize_zips(table, os.path.join(workdir, "zips"))
        return {
            "published": first["published"],
            "resume_published": again["published"],
            "resume_skipped": again["skipped"],
            "zips": zips,
        }

    def check(self, counts: dict, workdir: str) -> list[str]:
        problems = []
        if not 1 <= counts["published"] <= CHECKPOINT_BUCKETS:
            problems.append(f"published {counts['published']} buckets")
        if counts["resume_published"] != 0:
            problems.append(f"the resume published {counts['resume_published']} buckets")
        if counts["resume_skipped"] != counts["published"]:
            problems.append("the resume did not skip every published bucket")
        if counts["zips"] != self.totals["docs"]:
            problems.append(f"{counts['zips']} zips for {self.totals['docs']} published docs")
        return problems + self.check_repeat(counts)

    def final_check(self, spark: SparkSession, workdir: str) -> list[str]:
        got = collect_docs(state.read_output(spark, os.path.join(workdir, "out")))
        problems = compare_docs(self.oracle_out, got)
        on_black = sum(
            1 for doc_id, spans in got.items() for s in spans
            if s["media_ref"] in self.blacklisted.get(doc_id, ())
        )
        if on_black:
            problems.append(f"{on_black} spans sit on blacklisted pages")
        return problems

    @staticmethod
    def _dir_stats(path: str) -> tuple[int, int]:
        files = size = 0
        for root, _, names in os.walk(path):
            for n in names:
                if not n.startswith(".") and not n.startswith("_"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
        return files, size

    def probes(self, spark: SparkSession, tracer: Tracer, workdir: str) -> tuple[dict, list[str]]:
        m = _boundary_probes(self.docs, tracer, self.nproc)
        out = self._transform(tracer)(self.docs)
        with tracer.span("pipeline.extract_meta_noop") as rec:
            noop(out)
        m["pipeline.extract_meta_noop_s"] = duration(rec)
        m["pipeline.python_tasks"] = rec["tasks"] if runs_python(out) else 0
        with tracer.span("pipeline.meta_dims") as rec:
            noop(pipeline.blacklisted_pages(self.page_meta))
            noop(pipeline.relevance_filter(self.doc_meta))
        m["pipeline.meta_dims_s"] = duration(rec)
        m["oracle.us_per_span"] = self.oracle_us_per_span
        files, size = self._dir_stats(os.path.join(workdir, "out", "_data"))
        m["state.files_written"] = files
        m["state.bytes_per_doc"] = size / max(self.totals["docs"], 1)
        zips, zip_bytes = self._dir_stats(os.path.join(workdir, "zips"))
        m["export.zips"] = zips
        m["export.bytes"] = zip_bytes
        m["pipeline.docs_out"] = self.totals["docs"]
        m["pipeline.spans_out"] = self.totals["spans"]
        m["pipeline.chars_out"] = self.totals["chars"]
        tracer.iteration = "dedup"
        chain, problems = self.chain.run(spark, tracer, workdir)
        return {**m, **chain}, problems


def _shingles(text: str, k: int = 3) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i:i + k]) for i in range(max(len(toks) - (k - 1), 1))}


def jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


class NearDupChain:
    """The dedup job's chain over page-length texts with planted
    near-duplicates: LSH candidates (with stats) -> Jaccard verify ->
    connected components + canonical election -> parquet.  It runs once in
    a traced run of the extract job, checked like an iteration, then each
    step runs alone into a noop sink."""

    def __init__(self, path: str, rows: list[dict], planted: list[list[str]]):
        self.path = path
        self.texts = {r["doc_id"]: r["text"] for r in rows}
        self.planted = [tuple(p) for p in planted]

    def run(self, spark: SparkSession, tracer: Tracer, workdir: str) -> tuple[dict, list[str]]:
        docs = spark.read.parquet(self.path)
        assert_schema(docs, "struct<doc_id:string,text:string>")
        out = os.path.join(workdir, "annotated")
        with tracer.span("dedup.minhash_lsh_candidates"):
            cand, cstats = dedup.minhash_lsh_candidates(docs, with_stats=True)
            stats = cstats.collect()[0]
        with tracer.span("dedup.jaccard_verify"):
            verified = dedup.jaccard_verify(docs, cand.select("id_a", "id_b"))
            verified = verified.localCheckpoint(eager=True)
        with tracer.span("dedup.dedup_keep_canonical"):
            annotated = dedup.dedup_keep_canonical(docs, verified.select("id_a", "id_b"))
            annotated.write.mode("overwrite").parquet(out)
        rows = spark.read.parquet(out).select("doc_id", "component", "is_duplicate").collect()
        sample = verified.orderBy("id_a", "id_b").limit(JACCARD_SAMPLE).collect()
        m = {
            "dedup.oversized_buckets": stats["n_oversized_buckets"],
            "dedup.verified_pairs": verified.count(),
            "dedup.duplicates": sum(r["is_duplicate"] for r in rows),
            "dedup.components": len({r["component"] for r in rows}),
        }
        verified.unpersist()
        problems = self.check({r["doc_id"]: r["component"] for r in rows}, sample)

        tracer.iteration = "probe"
        cand = dedup.minhash_lsh_candidates(docs)
        with tracer.span("dedup.lsh_noop") as rec:
            noop(cand)
        m["dedup.lsh_s"] = duration(rec)
        cand = cand.localCheckpoint(eager=True)
        m["dedup.candidate_pairs"] = cand.count()
        m["dedup.verify_yield"] = m["dedup.verified_pairs"] / max(m["dedup.candidate_pairs"], 1)
        with tracer.span("dedup.verify_noop") as rec:
            noop(dedup.jaccard_verify(docs, cand))
        m["dedup.verify_s"] = duration(rec)
        verified = dedup.jaccard_verify(docs, cand).select("id_a", "id_b")
        verified = verified.localCheckpoint(eager=True)
        # the components rounds run eagerly inside the call
        with tracer.span("dedup.canonical_noop") as rec:
            noop(dedup.dedup_keep_canonical(docs, verified))
        m["dedup.canonical_s"] = duration(rec)
        cand.unpersist()
        verified.unpersist()
        return m, problems

    def check(self, component: dict[str, str], sample: list) -> list[str]:
        problems = []
        if len(component) != len(self.texts):
            problems.append(f"{len(component)} docs written for {len(self.texts)} read")
        for r in sample:
            j = jaccard(self.texts[r["id_a"]], self.texts[r["id_b"]])
            if abs(j - r["jaccard"]) > 1e-6 or j < 0.6:
                problems.append(f"pair {r['id_a']},{r['id_b']}: Jaccard {r['jaccard']}, {j:.6f} in Python")
        found = sum(1 for a, b in self.planted if component.get(a) == component.get(b))
        recall = found / max(len(self.planted), 1)
        if recall < MIN_RECALL:
            problems.append(f"recall of planted duplicates {recall:.3f} < {MIN_RECALL}")
        members: dict[str, set] = {}
        for doc_id, c in component.items():
            members.setdefault(c, set()).add(doc_id)
        planted = {frozenset(p) for p in self.planted}
        wrong = [g for g in members.values() if len(g) > 1 and frozenset(g) not in planted]
        if wrong:
            problems.append(f"{len(wrong)} components join unplanted docs, e.g. {sorted(wrong[0])}")
        return problems


WORKLOADS = {w.name: w for w in (ExtractFlagship, ExtractJob)}
