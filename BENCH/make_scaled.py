"""Build a scaled replica of a testdata dir for at-scale smoke measurement.

The driver's round-end measurement may run at a larger, driver-generated
scale factor than the local sf0.1 (BENCH_r05.json recorded sf=1.0).  The
driver's generator is not available locally, so this tool approximates a
larger sf by replicating an existing sf dir N times with disjoint key
spaces:

* int64 primary keys and their foreign-key references into replicated
  tables get `key + copy * 10**7` (`OFFSET`), so joins stay 1:1-shaped (no
  cross-copy fan-out) and every copy's keys are globally unique; `doc_id`
  gets `doc_id + copy * 10**5` (`DOC_OFFSET`, see below).  Both need every
  source key below its offset, and the last copy's `doc_id` below 10**6;
  the tool checks that before writing and refuses otherwise, since a key
  past either bound silently collides with another copy's;
* the tiny fixed dimensions (region, nation) are copied once, and the
  int32 nation/region FK columns are left untouched so those joins keep
  their original fan-in;
* text payloads get a per-copy suffix token appended so exact-dedup /
  fingerprint stages do not see byte-identical duplicates of the whole
  corpus (the result is still *harder* than an organically larger corpus
  for near-dup queries: each doc has N-1 near-identical siblings).

This is measurement tooling only: it writes to a caller-chosen scratch
dir and nothing in the engine or bench reads it unless pointed there via
SPARK_GRAFT_SF_DIR.

  python BENCH/make_scaled.py /root/testdata/sf0.1 /tmp/sfx10 10
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

OFFSET = 10**7

# table -> columns remapped per copy (int64 key spaces)
REMAP = {
    "customer": ["c_custkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
}

# the span corpus derives its doc key via lpad(str(doc_id), 6, '0'), and
# Spark's lpad TRUNCATES longer strings — a doc_id offset must keep every
# id within 6 digits or whole copies collapse into a few monster docs
# (first probe run did exactly that: 9 docs of 5000x normal size).
DOC_OFFSET = 10**5
DOC_ID_BOUND = 10**6  # lpad(6) keeps six digits
SINGLETON = {"region", "nation"}


def check_key_space(t: pa.Table, name: str, copies: int) -> None:
    """Refuse a replica whose remapped keys would collide across copies."""
    for col in REMAP.get(name, ()):
        off = DOC_OFFSET if col == "doc_id" else OFFSET
        lo, hi = pc.min_max(t.column(col)).values()
        if hi.as_py() is None:
            continue
        if lo.as_py() < 0 or hi.as_py() >= off:
            raise ValueError(
                f"{name}.{col} spans [{lo}, {hi}], outside [0, {off}): copies would collide"
            )
        if col == "doc_id" and hi.as_py() + (copies - 1) * DOC_OFFSET >= DOC_ID_BOUND:
            raise ValueError(
                f"{name}.doc_id {hi} + {copies - 1} * {DOC_OFFSET} reaches "
                f"{DOC_ID_BOUND}: lpad(6) would truncate it into another doc's key"
            )


def scale_table(src: str, dst: str, name: str, copies: int) -> int:
    t = pq.read_table(src)
    if name in SINGLETON:
        pq.write_table(t, dst)
        return t.num_rows
    parts = []
    for c in range(copies):
        cols = {}
        for field in t.schema:
            col = t.column(field.name)
            if c and field.name in REMAP.get(name, ()):
                off = DOC_OFFSET if field.name == "doc_id" else OFFSET
                col = pc.add(col, pa.scalar(c * off, type=field.type))
            elif c and name == "documents" and field.name == "text":
                col = pc.binary_join_element_wise(col, f"kopie{c:02d}", " ")
            cols[field.name] = col
        parts.append(pa.table(cols, schema=t.schema if c == 0 else None))
    out = pa.concat_tables(parts, promote_options="permissive")
    pq.write_table(out.cast(t.schema), dst)
    return out.num_rows


def main() -> None:
    src_dir, dst_dir = sys.argv[1], sys.argv[2]
    copies = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    names = sorted(f[: -len(".parquet")] for f in os.listdir(src_dir) if f.endswith(".parquet"))
    for name in names:  # every table passes before any is written
        keys = pq.read_table(os.path.join(src_dir, f"{name}.parquet"), columns=REMAP.get(name, []))
        check_key_space(keys, name, copies)
    os.makedirs(dst_dir, exist_ok=True)
    for name in names:
        f = f"{name}.parquet"
        n = scale_table(os.path.join(src_dir, f), os.path.join(dst_dir, f), name, copies)
        print(f"{name}: {n} rows")


if __name__ == "__main__":
    main()
