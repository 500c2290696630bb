"""The worker daemon: stat-checked zip import-cache reset, frozen heap, socket.

Unit cases run the patched ``zipimporter.invalidate_caches`` in-process on
archives under ``tmp_path``; worker cases run in the session's Python workers,
which start from ``ocrd_odem_spark.worker_daemon``.  All checks count reads,
objects or threads; none is timed.
"""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pytest

from ocrd_odem_spark import worker_daemon
from ocrd_odem_spark.session import SOCKET_PATH_MAX, check_socket_dir, get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def _load(importer, name: str):
    spec = importer.find_spec(name)
    assert spec is not None, name
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.fixture
def reads(monkeypatch):
    """Install the patch and count central-directory reads."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)
    calls: list[str] = []
    stock = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_not_reread(tmp_path, reads):
    path = tmp_path / "a.zip"
    _write_zip(path, {"odem_zip_a": "VALUE = 1\n"})
    importer = zipimport.zipimporter(str(path))
    assert _load(importer, "odem_zip_a").VALUE == 1
    importer.invalidate_caches()  # first call on this archive reads it
    del reads[:]
    importer.invalidate_caches()
    zipimport.zipimporter(str(path)).invalidate_caches()  # same archive, new importer
    assert reads == []
    assert _load(importer, "odem_zip_a").VALUE == 1


def test_rewritten_archive_is_reread(tmp_path, reads):
    path = tmp_path / "b.zip"
    _write_zip(path, {"odem_zip_b": "VALUE = 1\n"})
    importer = zipimport.zipimporter(str(path))
    importer.invalidate_caches()
    mtime = os.stat(path).st_mtime_ns
    _write_zip(path, {"odem_zip_b": "VALUE = 2\n", "odem_zip_b_new": "VALUE = 3\n"})
    os.utime(path, ns=(mtime + 10**9, mtime + 10**9))
    del reads[:]
    importer.invalidate_caches()
    assert reads == [str(path)]
    assert _load(importer, "odem_zip_b").VALUE == 2
    assert _load(importer, "odem_zip_b_new").VALUE == 3
    del reads[:]
    importer.invalidate_caches()
    assert reads == []


def test_deleted_archive_behaves_as_stock(tmp_path, reads):
    outcomes = []
    for name, method in (
        ("patched", worker_daemon.invalidate_caches),
        ("stock", worker_daemon._stock_invalidate),
    ):
        path = tmp_path / f"{name}.zip"
        _write_zip(path, {f"odem_zip_{name}": "VALUE = 1\n"})
        importer = zipimport.zipimporter(str(path))
        method(importer)
        os.remove(path)
        del reads[:]
        method(importer)
        outcomes.append(
            (len(reads), importer._files, str(path) in zipimport._zip_directory_cache)
        )
    assert outcomes[0] == outcomes[1] == (1, {}, False)


def test_import_starts_no_daemon():
    env = dict(os.environ, PYTHONPATH=REPO)
    code = (
        "import gc, sys, zipimport, ocrd_odem_spark.worker_daemon; "
        "print(zipimport.zipimporter.invalidate_caches.__module__, gc.get_freeze_count(), "
        "'pyarrow' in sys.modules, 'pandas' in sys.modules)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        env=env,
        stdin=subprocess.DEVNULL,
        capture_output=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.decode().split() == ["zipimport", "0", "False", "False"]


def test_worker_reset_reads_nothing(spark):
    def second_reset_reads(batches):
        import importlib
        import zipimport

        import pyarrow as pa

        calls = []
        stock = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return stock(archive)

        importlib.invalidate_caches()
        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist(
            [{"reads": len(calls), "module": zipimport.zipimporter.invalidate_caches.__module__}]
        )

    rows = (
        spark.range(4, numPartitions=4)
        .mapInArrow(second_reset_reads, "reads long, module string")
        .collect()
    )
    assert len(rows) == 4
    assert {r["module"] for r in rows} == {"ocrd_odem_spark.worker_daemon"}
    assert [r["reads"] for r in rows] == [0, 0, 0, 0]


def test_worker_imports_added_py_file(spark, tmp_path):
    name = f"odem_pyfile_{uuid.uuid4().hex}"
    path = tmp_path / f"{name}.zip"
    _write_zip(path, {name: f"VALUE = {name!r}\n"})
    spark.sparkContext.addPyFile(str(path))

    def load(batches):
        import importlib

        import pyarrow as pa

        value = importlib.import_module(name).VALUE
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{"value": value}])

    rows = spark.range(2, numPartitions=2).mapInArrow(load, "value string").collect()
    assert [r["value"] for r in rows] == [name, name]


@pytest.fixture(scope="module")
def worker_state(spark):
    """What a reused worker holds after a task: one row per task, one per core."""

    def probe(batches):
        import gc
        import os
        import weakref

        import pyarrow as pa

        for _ in batches:
            pass

        class Node:
            pass

        node = Node()
        node.self = node  # a cycle: only the collector can free it
        ref = weakref.ref(node)
        del node
        alive = ref() is not None
        gc.collect()
        yield pa.RecordBatch.from_pylist(
            [
                {
                    "frozen": gc.get_freeze_count(),
                    "tracked": len(gc.get_objects()),
                    "cycle_alive_before": alive,
                    "cycle_freed": ref() is None,
                    "unix_domain": os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", ""),
                }
            ]
        )

    schema = (
        "frozen long, tracked long, cycle_alive_before boolean, "
        "cycle_freed boolean, unix_domain string"
    )
    return spark.range(4, numPartitions=4).mapInArrow(probe, schema).collect()


def test_worker_heap_is_frozen(worker_state):
    assert all(r["frozen"] > 0 for r in worker_state)


def test_worker_collects_only_task_objects(worker_state):
    # the stock daemon leaves the Arrow stack's ~73k objects to every collection
    assert max(r["tracked"] for r in worker_state) < 5000


def test_worker_frees_task_cycles(worker_state):
    assert all(r["cycle_alive_before"] and r["cycle_freed"] for r in worker_state)


def test_worker_uses_unix_domain_socket(worker_state):
    assert {r["unix_domain"].lower() for r in worker_state} == {"true"}


def test_forked_worker_runs_threaded_arrow(spark):
    """pyarrow (and jemalloc's background thread) start in the daemon before
    the fork; a worker still runs a multi-threaded Arrow aggregation."""

    def aggregate(batches):
        import os

        import numpy as np
        import pyarrow as pa

        for _ in batches:
            pass
        n = 200_000
        table = pa.table({"k": np.arange(n) % 7, "v": np.arange(n)})
        cores = pa.cpu_count()
        pa.set_cpu_count(4)
        try:
            out = table.group_by("k", use_threads=True).aggregate([("v", "sum")])
        finally:
            pa.set_cpu_count(cores)
        sums = dict(zip(out["k"].to_pylist(), out["v_sum"].to_pylist()))
        expected = {k: int(np.arange(k, n, 7).sum()) for k in range(7)}
        yield pa.RecordBatch.from_pylist(
            [{"ok": sums == expected, "threads": len(os.listdir("/proc/self/task"))}]
        )

    rows = (
        spark.range(4, numPartitions=4)
        .mapInArrow(aggregate, "ok boolean, threads long")
        .collect()
    )
    assert [r["ok"] for r in rows] == [True] * 4
    assert all(r["threads"] > 1 for r in rows)


def test_socket_path_limit():
    check_socket_dir("/" + "d" * 63)  # 64 bytes + "/.<uuid4>.sock" = 107
    with pytest.raises(ValueError, match=f"{SOCKET_PATH_MAX}-byte AF_UNIX"):
        check_socket_dir("/" + "d" * 64)


def test_get_spark_refuses_long_socket_dir(tmp_path, monkeypatch):
    long_dir = str(tmp_path / ("d" * 80))
    with pytest.raises(ValueError, match="AF_UNIX"):
        get_spark(extra_conf={"spark.python.unix.domain.socket.dir": long_dir})
    # Spark's default directory is the JVM's java.io.tmpdir
    monkeypatch.setenv("SPARK_GRAFT_JAVA_OPTS", f"-XX:+UseParallelGC -Djava.io.tmpdir={long_dir}")
    with pytest.raises(ValueError, match="AF_UNIX"):
        get_spark()
