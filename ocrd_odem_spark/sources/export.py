"""Per-document export packaging (S8): SAF / flat-zip artifacts.

The reference packages each finished document for delivery — a flat zip of
the work dir or a DSpace Simple Archive Format (SAF) bundle with a
filename mapping, optional prefix and collection handle
(``lib/odem/odem_process_impl.py:580-651``, ``export_data`` +
``compress_flat``).  It shells out to ``zip`` once per document.

Spark-first restatement: packaging is a per-document pure function, so it
runs as one Arrow-batched ``mapInPandas`` stage producing a BINARY-column
sink table ``(doc_id, saf_name, n_entries, bundle_chars, zip_bytes,
zip_size)`` — no driver loop, no subprocess, embarrassingly parallel, and
the delivery step (materializing ``.zip`` files to an export share) is a
trivial consumer of that table.  Zips are built deterministically
(``ZIP_STORED``, fixed timestamp), so export output is reproducible and
hashable across runs and engines.
"""

from __future__ import annotations

import io
import os
import zipfile
from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F

EXPORT_SCHEMA = (
    "doc_id string, saf_name string, n_entries int, bundle_chars long, "
    "zip_bytes binary, zip_size long"
)

_ZIP_EPOCH = (1980, 1, 1, 0, 0, 0)  # fixed entry timestamp -> stable bytes


def _fs_safe(doc_id: str) -> str:
    """Filesystem-safe artifact name for a raw identifier.

    OAI-style ids carry ':' and '/' (``oai:host:path/123``); a raw join
    into the export share could escape it via '/' or '..' segments
    (ADVICE r4).  The reference derives safe names the same way: every
    path separator and non-portable character maps to '_', and dot-only
    segments are neutralized."""
    import re as _re

    safe = _re.sub(r"[^A-Za-z0-9._+-]", "_", str(doc_id).replace(os.sep, "_"))
    safe = _re.sub(r"\.{2,}", "_", safe)  # no '..' anywhere
    safe = safe.lstrip(".")  # no hidden files
    return safe or "_"


def _zip_deterministic(entries: list[tuple[str, bytes]]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
        for name, payload in sorted(entries):
            info = zipfile.ZipInfo(name, date_time=_ZIP_EPOCH)
            info.external_attr = 0o666 << 16  # reference chmods 0o666
            zf.writestr(info, payload)
    return buf.getvalue()


def _saf_entries(doc_id: str, bundle: str, collection: str | None,
                 mets_xml: str | None, stem: str | None = None) -> list[tuple[str, bytes]]:
    """SAF bundle layout: content + manifest + minimal dublin_core, the
    shape DSpace ingests (reference delegates to digiflow's SAF writer)."""
    entries = [(f"{stem or _fs_safe(doc_id)}.txt", bundle.encode("utf-8"))]
    if mets_xml is not None:
        entries.append(("mets.xml", mets_xml.encode("utf-8")))
    dc = (
        '<?xml version="1.0" encoding="utf-8"?>\n'
        '<dublin_core schema="dc">\n'
        f'  <dcvalue element="identifier" qualifier="none">{doc_id}</dcvalue>\n'
        "</dublin_core>\n"
    )
    entries.append(("dublin_core.xml", dc.encode("utf-8")))
    if collection:
        entries.append(("collections", (collection + "\n").encode("utf-8")))
    entries.append(
        ("contents", "".join(f"{n}\n" for n, _ in sorted(entries)).encode("utf-8"))
    )
    return entries


def export_documents(
    extracted: DataFrame,
    fmt: str = "flat",
    prefix: str | None = None,
    collection: str | None = None,
    mets_col: str | None = None,
) -> DataFrame:
    """Package each document's text bundle as a deterministic zip.

    ``extracted``: nested (doc_id, spans) AFTER extraction.  ``fmt``:
    ``"flat"`` (text bundle only, the compress_flat analogue) or
    ``"saf"`` (adds dublin_core/contents/collections manifest files).
    ``prefix`` prepends to the artifact name as the reference's
    ``export_prefix`` does; ``mets_col`` names an optional METS-XML string
    column mapped to the canonical ``mets.xml`` entry (the reference's
    ``export_mets`` mapping override).
    """
    if fmt not in ("flat", "saf"):
        raise ValueError(f"unknown export format {fmt!r}")
    import pandas as pd

    bundle = F.array_join(
        F.transform(
            F.filter(
                F.array_sort(
                    F.col("spans"),
                    lambda a, b: F.when(a["offset"] < b["offset"], -1)
                    .when(a["offset"] > b["offset"], 1)
                    .otherwise(0),
                ),
                lambda s: s["kind"] == "text",
            ),
            lambda s: s["text"],
        ),
        "\n",
    ).alias("bundle0")
    cols = [F.col("doc_id"), bundle]
    if mets_col is not None:
        cols.append(F.col(mets_col).alias("mets0"))
    narrow = extracted.select(*cols)

    pfx = prefix or ""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for rec in pdf.itertuples(index=False):
                doc_id = rec.doc_id
                bundle_text = rec.bundle0 or ""
                mets_xml = getattr(rec, "mets0", None)
                stem = _fs_safe(doc_id)
                saf_name = f"{pfx}{stem}"
                if fmt == "saf":
                    entries = _saf_entries(doc_id, bundle_text, collection,
                                           mets_xml, stem=stem)
                else:
                    entries = [(f"{stem}.txt", bundle_text.encode("utf-8"))]
                    if mets_xml is not None:
                        entries.append(("mets.xml", mets_xml.encode("utf-8")))
                payload = _zip_deterministic(entries)
                out.append(
                    (doc_id, saf_name, len(entries), len(bundle_text),
                     payload, len(payload))
                )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "saf_name", "n_entries", "bundle_chars",
                         "zip_bytes", "zip_size"],
            )

    return narrow.mapInPandas(run, schema=EXPORT_SCHEMA)


def materialize_zips(export_table: DataFrame, out_dir: str) -> int:
    """Delivery step: write each row's zip to ``out_dir`` (the export
    share).  Runs on the driver over a collected manifest ONLY when asked;
    a production share-mount would instead ``foreachPartition`` this.

    The next partition's export job runs while the driver writes the
    current one's files (``prefetchPartitions``): at most two partitions
    sit on the driver at a time."""
    os.makedirs(out_dir, exist_ok=True)
    n = 0
    seen: set[str] = set()
    rows = export_table.select("saf_name", "zip_bytes").toLocalIterator(
        prefetchPartitions=True
    )
    for row in rows:
        name = row["saf_name"]
        if os.sep in name or name.startswith(".") or ".." in name:
            raise ValueError(f"unsafe export artifact name {name!r}")
        if name in seen:
            # distinct doc_ids can sanitize to one stem ('oai:a/b' and
            # 'oai:a:b' both become 'oai_a_b'); overwriting would silently
            # lose a document's export (ADVICE r5) — fail loudly instead
            raise ValueError(
                f"export artifact name collision: {name!r} maps to more "
                "than one document; disambiguate doc_ids before export"
            )
        seen.add(name)
        with open(os.path.join(out_dir, name + ".zip"), "wb") as fh:
            fh.write(bytes(row["zip_bytes"]))
        n += 1
    return n
