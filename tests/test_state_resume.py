"""Exact-resume protocol: crash mid-run -> rerun -> identical output, no dupes."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from ocrd_odem_spark.plans import pipeline
from ocrd_odem_spark.sources import state


def _transform(df):
    return pipeline.extract(df, dehyphenate=True)


def test_finished_resume_starts_no_spark_job(spark, docs_df):
    """Resuming a finished run returns before planning: zero Spark jobs."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    with tempfile.TemporaryDirectory() as tmp:
        out_dir, st_dir = f"{tmp}/out", f"{tmp}/state"
        try:
            sc.setJobGroup("first-run", "checkpointed run")
            first = state.run_with_checkpoint(
                spark, docs_df, _transform, out_dir, st_dir, n_buckets=4
            )
            sc.setJobGroup("finished-resume", "resume of a finished run")
            again = state.run_with_checkpoint(
                spark, docs_df, _transform, out_dir, st_dir, n_buckets=4
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert first["published"] == 4
        assert tracker.getJobIdsForGroup("first-run")  # the probe sees jobs
        assert again["published"] == 0 and again["skipped"] == 4
        assert tracker.getJobIdsForGroup("finished-resume") == []


def test_crash_resume_no_dupes(spark, docs_df, corpus):
    with tempfile.TemporaryDirectory() as tmp:
        out_dir = f"{tmp}/out"
        st_dir = f"{tmp}/state"

        # crash after publishing 3 of 16 buckets
        r1 = state.run_with_checkpoint(
            spark, docs_df, _transform, out_dir, st_dir,
            n_buckets=16, fail_after_buckets=3,
        )
        assert r1["published"] == 3

        # resume: remaining buckets processed, completed ones skipped
        r2 = state.run_with_checkpoint(
            spark, docs_df, _transform, out_dir, st_dir, n_buckets=16
        )
        assert r2["skipped"] == 3
        assert r1["published"] + r2["published"] >= 16 - 3

        out = state.read_output(spark, out_dir)
        ids = [r["doc_id"] for r in out.select("doc_id").collect()]
        assert sorted(ids) == sorted(d["doc_id"] for d in corpus), "dupes or losses"

        # third run is a complete no-op
        r3 = state.run_with_checkpoint(
            spark, docs_df, _transform, out_dir, st_dir, n_buckets=16
        )
        assert r3["published"] == 0

        # output equals a direct single-shot run
        direct = {
            r["doc_id"]: [tuple(s) for s in r["spans"]]
            for r in _transform(docs_df).collect()
        }
        resumed = {
            r["doc_id"]: [tuple(s) for s in r["spans"]]
            for r in out.collect()
        }
        assert direct == resumed

        # lineage metrics cover every bucket with plausible counts,
        # including the north rule's extraction metrics: pages parsed,
        # spans emitted, de-hyphenation fixes per partition
        metrics = state.StateStore(st_dir).metrics(spark)
        agg = metrics.agg(
            F.sum("n_docs").alias("docs"),
            F.countDistinct("bucket").alias("buckets"),
            F.sum("n_pages").alias("pages"),
            F.sum("n_spans_out").alias("spans"),
            F.min("n_dehyphenated").alias("min_fixes"),
        ).collect()[0]
        assert agg["docs"] == len(corpus)
        n_media = sum(
            1 for d in corpus for s in d["spans"] if s["kind"] == "media"
        )
        assert agg["pages"] == n_media
        assert agg["spans"] > 0
        assert agg["min_fixes"] == 0  # plain extract emits no metrics column


def test_writer_lock_guards_concurrent_runs(spark, docs_df, tmp_path):
    """Two runs sharing an output_path must not sweep each other's live
    staging (ADVICE r2/r3): a held flock rejects the second writer; a
    crashed writer's lock (fd gone, file left behind) is free — the kernel
    released the flock with the process, so there is no reclaim race."""
    import fcntl
    import os

    import pytest as _pytest

    out_dir = str(tmp_path / "out")
    st_dir = str(tmp_path / "state")
    os.makedirs(out_dir, exist_ok=True)

    # simulate a LIVE concurrent writer: hold the flock ourselves
    lock = os.path.join(out_dir, "_writer.lock")
    fd = os.open(lock, os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    os.write(fd, b"12345:deadbeef0000")
    try:
        with _pytest.raises(RuntimeError, match="locked by live writer"):
            state.run_with_checkpoint(
                spark, docs_df, lambda d: d, out_dir, st_dir, n_buckets=4
            )
    finally:
        os.close(fd)

    # a crashed writer leaves the FILE but not the lock (fd closed above
    # stands in for process death) -> next run acquires immediately
    assert os.path.exists(lock)
    r = state.run_with_checkpoint(
        spark, docs_df, lambda d: d, out_dir, st_dir, n_buckets=4
    )
    assert r["published"] > 0


def test_lineage_carries_dehyphenation_fixes(spark, docs_df, corpus, tmp_path):
    """A metrics-emitting transform (extract with_metrics=True) folds its
    de-hyphenation fix counts into the per-bucket lineage."""
    out_dir = str(tmp_path / "out")
    st_dir = str(tmp_path / "state")
    r = state.run_with_checkpoint(
        spark, docs_df,
        lambda d: pipeline.extract(d, dehyphenate=True, with_metrics=True),
        out_dir, st_dir, n_buckets=8,
    )
    assert r["published"] == 8
    agg = state.StateStore(st_dir).metrics(spark).agg(
        F.sum("n_dehyphenated").alias("fixes"),
        F.sum("n_pages").alias("pages"),
    ).collect()[0]
    n_fixes_direct = (
        pipeline.extract(docs_df, dehyphenate=True, with_metrics=True)
        .agg(F.sum("n_dehyphenated")).collect()[0][0]
    )
    assert agg["fixes"] == n_fixes_direct and n_fixes_direct > 0
    n_media = sum(1 for d in corpus for s in d["spans"] if s["kind"] == "media")
    assert agg["pages"] == n_media


def test_state_dir_mixed_schema_reads_deterministically(spark, tmp_path):
    """A pre-upgrade 5-column state file mixed with current 7-column files
    must not lose columns or throw (ADVICE r3): the explicit read schema
    surfaces nulls for the old file's missing lineage columns."""
    st_dir = str(tmp_path / "state")
    store = state.StateStore(st_dir)

    # current-schema file via the normal append path
    store.mark_done(
        spark,
        [{"bucket": 1, "n_docs": 2, "n_spans_out": 10,
          "n_pages": 3, "n_dehyphenated": 1}],
        "run_new",
    )
    # pre-upgrade file: five columns only, written directly
    old = spark.createDataFrame(
        [(0, "ocr_done", 5, 50, "run_old")],
        "bucket int, state string, n_docs long, n_spans_out long, run_id string",
    )
    import glob
    import os
    import shutil

    tmp_old = str(tmp_path / "_old")
    old.coalesce(1).write.mode("overwrite").parquet(tmp_old)
    src = glob.glob(os.path.join(tmp_old, "*.parquet"))[0]
    shutil.move(src, os.path.join(st_dir, "run_old_legacy.parquet"))

    assert sorted(store.done_buckets(spark)) == [0, 1]
    rows = {r["bucket"]: r for r in store.metrics(spark).collect()}
    assert rows[1]["n_pages"] == 3 and rows[1]["n_dehyphenated"] == 1
    assert rows[0]["n_pages"] is None and rows[0]["n_dehyphenated"] is None
    assert rows[0]["n_docs"] == 5


def test_crash_between_data_move_and_commit_no_torn_reads(
    spark, docs_df, corpus, tmp_path
):
    """The publish window's crash point (VERDICT r4 item 5): a run that
    dies AFTER moving staged data under _data/<run_id>/ but BEFORE the
    manifest rename must leave readers seeing exactly the previously
    committed snapshot — not one row more (no torn reads) — and resume
    must re-process the uncommitted buckets to full equality."""
    import os

    out_dir = str(tmp_path / "out")
    st_dir = str(tmp_path / "state")

    # snapshot 1: three buckets committed
    r1 = state.run_with_checkpoint(
        spark, docs_df, _transform, out_dir, st_dir,
        n_buckets=16, fail_after_buckets=3,
    )
    assert r1["published"] == 3
    visible_after_commit = sorted(
        r["doc_id"] for r in state.read_output(spark, out_dir).collect()
    )

    # crash in the publish window: data moved, manifest never written
    r2 = state.run_with_checkpoint(
        spark, docs_df, _transform, out_dir, st_dir,
        n_buckets=16, fail_before_commit=True,
    )
    assert r2["published"] == 0 and r2["skipped"] == 3
    data_root = os.path.join(out_dir, "_data")
    uncommitted = [
        d for d in os.listdir(data_root) if d != r1["run_id"]
    ]
    assert uncommitted, "crash hook should leave moved-but-uncommitted data"

    # torn-read check: the reader still sees EXACTLY snapshot 1
    visible_mid_crash = sorted(
        r["doc_id"] for r in state.read_output(spark, out_dir).collect()
    )
    assert visible_mid_crash == visible_after_commit

    # resume: sweeps the uncommitted debris, re-processes those buckets
    r3 = state.run_with_checkpoint(
        spark, docs_df, _transform, out_dir, st_dir, n_buckets=16
    )
    assert r3["skipped"] == 3
    n_nonempty = (
        docs_df.select(F.pmod(F.xxhash64("doc_id"), F.lit(16)).cast("int"))
        .distinct()
        .count()
    )
    assert r3["published"] == n_nonempty - 3
    left = set(os.listdir(data_root))
    assert not (set(uncommitted) & left), "uncommitted data dir not swept"

    direct = {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in _transform(docs_df).collect()
    }
    resumed = {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in state.read_output(spark, out_dir).collect()
    }
    assert direct == resumed

    # and the commit log is the only visibility channel: every visible
    # bucket path is manifest-listed
    committed = state._committed_buckets(out_dir)
    assert len(committed) == n_nonempty
    for rel in committed.values():
        assert os.path.isdir(os.path.join(out_dir, rel))
