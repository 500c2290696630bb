"""The end-to-end extraction plan (reference lifecycle §3.4 of SURVEY.md).

Design: the whole extract path is NARROW per-document work over the nested
``spans`` array — sort, blacklist drop, RTL fold, token post-process,
empty-line drop, optional de-hyphenation fold, re-offset.  The default tier
(``extract_arrow``) runs all of it as ONE ``mapInArrow`` stage executing the
oracle loops; the metadata dimensions (relevance filter, page blacklist)
broadcast-join onto the fact table ahead of that stage.  The second tier
(``mode="hof"``) states the same semantics as Catalyst higher-order array
expressions, and the stage registry below composes those expressions.  At
100 TB this means: zero shuffles of the fact table, linear scaling with
input splits, and skew from oversized "book" documents bounded by
single-row cost rather than hot shuffle keys.

Stage order reproduces the reference (``ocr_files.py:62-91``): blacklist
filters precede token ops; the trailing-punct split precedes the min-length
drop; de-hyphenation (quality path) runs on the post-processed lines.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame, functions as F

from ..operators.dehyphen import dehyphenate_spans
from ..operators.tokens import postprocess_line, reversed_line, strip_marks

SPAN_FIELDS = ("kind", "text", "media_ref", "offset")


def _span(kind: Column, text: Column, media_ref: Column, offset: Column) -> Column:
    return F.struct(
        kind.alias("kind"),
        text.alias("text"),
        media_ref.alias("media_ref"),
        offset.alias("offset"),
    )


def sorted_spans(spans: Column) -> Column:
    """Order a span array by its offset column (input order contract)."""
    return F.array_sort(
        spans,
        lambda left, right: F.when(left["offset"] < right["offset"], -1)
        .when(left["offset"] > right["offset"], 1)
        .otherwise(0),
    )


def reoffset(spans: Column) -> Column:
    """Dense 0-based offsets in array order (final output contract)."""
    return F.transform(
        spans,
        lambda s, i: _span(s["kind"], s["text"], s["media_ref"], i.cast("int")),
    )


def postprocess_spans(spans: Column, rtl: Column | None = None) -> Column:
    """Token post-processing of every text span + empty-line cascade drop.

    ``rtl`` (optional boolean column): fold the line right-to-left first,
    after stripping directional marks (reference O3/T8).
    """

    def fix_text(s: Column) -> Column:
        line = s["text"]
        if rtl is not None:
            line = F.when(rtl, reversed_line(strip_marks(line))).otherwise(line)
        return _span(
            s["kind"],
            F.when(s["kind"] == "text", postprocess_line(line)).otherwise(s["text"]),
            s["media_ref"],
            s["offset"],
        )

    processed = F.transform(spans, fix_text)
    return F.filter(
        processed, lambda s: (s["kind"] == "media") | (s["text"] != "")
    )


def drop_blacklisted(spans: Column, blacklisted_refs: Column) -> Column:
    """Remove every span of a blacklisted page (F3/F4 net effect).  A span
    without a ``media_ref`` sits on no blacklisted page and stays."""
    refs = F.coalesce(blacklisted_refs, F.array().cast("array<string>"))
    return F.filter(
        spans,
        lambda s: ~F.coalesce(F.array_contains(refs, s["media_ref"]), F.lit(False)),
    )


RTL_LANGS = ("ara", "heb", "fas")


def join_metadata(
    docs: DataFrame,
    page_meta: DataFrame | None = None,
    doc_meta: DataFrame | None = None,
) -> DataFrame:
    """Broadcast-join the metadata dimensions onto the fact table.

    * ``doc_meta``: INNER join with ``relevance_filter`` (F1 drops the
      irrelevant docs) adding the boolean ``_rtl`` — the doc's languages
      overlap ``RTL_LANGS`` (NULL languages read as False).
    * ``page_meta``: LEFT join with ``blacklisted_pages`` adding
      ``_blacklisted_refs`` — NULL for a doc without a blacklisted page.

    Both dimensions are per-doc small and broadcast: the fact table never
    shuffles for them.
    """
    out = docs
    if doc_meta is not None:
        rtl = F.coalesce(
            F.arrays_overlap("languages", F.array(*[F.lit(x) for x in RTL_LANGS])),
            F.lit(False),
        )
        relevant = relevance_filter(doc_meta).select("doc_id", rtl.alias("_rtl"))
        out = out.join(F.broadcast(relevant), "doc_id", "inner")
    if page_meta is not None:
        out = out.join(F.broadcast(blacklisted_pages(page_meta)), "doc_id", "left")
    return out


def extract(
    docs: DataFrame,
    page_meta: DataFrame | None = None,
    doc_meta: DataFrame | None = None,
    dehyphenate: bool = False,
    with_metrics: bool = False,
    mode: str = "arrow",
) -> DataFrame:
    """Full extraction plan: (doc_id, spans) -> (doc_id, spans[, metrics]).

    ``mode``:
      * ``"arrow"`` (default) — ``extract_arrow``: one ``mapInArrow`` stage
        running the oracle loops over Arrow batches, metadata joins and
        metrics included.
      * ``"hof"`` — the same semantics as pure-JVM higher-order
        expressions (zero Python, zero shuffle; HOFs are
        CodegenFallback-interpreted).  Both tiers are proven span-for-span
        identical in tests.

    * ``page_meta``: optional page dimension with ``label`` / ``log_types``;
      blacklisted pages (Colorchecker/Leerseite labels, cover_* log types)
      are aggregated per doc and BROADCAST-joined — the fact table never
      shuffles.
    * ``doc_meta``: optional doc dimension; docs failing the METS-type /
      PICA relevance filter (F1) are dropped; RTL language docs ('ara',
      'heb', 'fas') get the mark-strip + right-to-left line fold.
    * ``dehyphenate``: run the per-page wrap-merge fold (quality path T4).
    * ``with_metrics``: add per-doc n_pages, n_lines_in (input text spans,
      counted before the blacklist drop), n_lines_out, n_tokens_out and
      n_dehyphenated.
    """
    if mode not in ("arrow", "hof"):
        raise ValueError(f"unknown mode {mode!r}")
    out = join_metadata(docs, page_meta, doc_meta)
    if mode == "arrow":
        return extract_arrow(out, dehyphenate=dehyphenate, with_metrics=with_metrics)

    rtl_col = F.col("_rtl") if doc_meta is not None else None
    spans = sorted_spans(F.col("spans"))
    if page_meta is not None:
        spans = drop_blacklisted(spans, F.col("_blacklisted_refs"))

    spans = postprocess_spans(spans, rtl=rtl_col)
    n_lines_in = F.size(F.filter(F.col("spans"), lambda s: s["kind"] == "text"))

    if dehyphenate:
        folded = dehyphenate_spans(spans)
        spans, n_merges = folded["spans"], folded["n_merges"]
    else:
        n_merges = F.lit(0)

    result = out.withColumn("_out", reoffset(spans)).withColumn(
        "_n_merges", n_merges
    ).withColumn("_n_lines_in", n_lines_in)

    cols = [F.col("doc_id"), F.col("_out").alias("spans")]
    if with_metrics:
        text_spans = F.filter(F.col("_out"), lambda s: s["kind"] == "text")
        cols += [
            F.size(F.filter(F.col("_out"), lambda s: s["kind"] == "media"))
            .cast("long")
            .alias("n_pages"),
            F.col("_n_lines_in").cast("long").alias("n_lines_in"),
            F.size(text_spans).cast("long").alias("n_lines_out"),
            F.aggregate(
                text_spans,
                F.lit(0),
                lambda acc, s: acc + F.size(F.split(s["text"], " ")),
            )
            .cast("long")
            .alias("n_tokens_out"),
            F.col("_n_merges").cast("long").alias("n_dehyphenated"),
        ]
    return result.select(*cols)


def extract_arrow(
    docs: DataFrame, dehyphenate: bool = False, with_metrics: bool = False
) -> DataFrame:
    """Arrow-batched extraction: ``mapInArrow`` running the exact oracle
    loops per document over flat columnar buffers.

    Why this exists alongside the HOF plan: Spark's higher-order array
    functions are CodegenFallback (interpreted, per-element object churn),
    while this path moves each Arrow batch into Python once and runs plain
    tight loops.  It is still narrow (no shuffle), still per-partition
    parallel, and the payload crosses the Arrow boundary exactly twice.

    r6.2 boundary rewrite (guide §4.2): the earlier ``mapInPandas`` form
    paid one Python dict per SPAN on the way in (pyarrow's
    list<struct>→pandas conversion) and one tuple per span on the way out —
    at the driver's sf1.0 that is ~240 M dict/tuple constructions around
    ~6 s of real loop work.  ``mapInArrow`` hands us the list<struct>
    column directly: the per-doc offset sort collapses to ONE stable
    ``np.lexsort`` per batch, field access is flat-array indexing, and the
    output list<struct> is assembled from four flat arrays + a lengths
    vector (`pa.ListArray.from_arrays`).  The per-document loop itself is
    unchanged oracle semantics (``postprocess_line_tokens`` /
    ``dehyphenate_lines``), proven identical by the dual-mode equality
    tests and the seed-sweep oracle invariant.

    ``with_metrics`` (r6): the same per-document loop also counts the hof
    tier's metric columns — pages/lines/tokens out, input text lines, and
    the de-hyphenation merge count — value-identical to the hof
    expressions (pinned by ``test_r06_optimizations``).

    Metadata: when ``docs`` carries the ``_rtl`` / ``_blacklisted_refs``
    columns that ``join_metadata`` adds, each document drops the spans of
    its blacklisted pages and, if RTL, folds its text lines right-to-left
    after stripping directional marks — both read once per document, so
    the bare path pays nothing for them.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..oracle import dehyphenate_lines, postprocess_line_tokens, strip_marks

    meta_cols = [c for c in ("_rtl", "_blacklisted_refs") if c in docs.columns]
    col_idx = {c: 2 + k for k, c in enumerate(meta_cols)}
    rtl_idx, black_idx = col_idx.get("_rtl"), col_idx.get("_blacklisted_refs")

    def extract_doc(is_media, texts, refs, span_ids):
        """Oracle loops for one document's spans at flat positions
        ``span_ids``, already offset-sorted (stable, matching the previous
        ``sorted(spans, key=offset)``)."""
        out: list[tuple] = []
        n_merges = 0
        for j in span_ids:
            if is_media[j]:
                out.append(("media", texts[j], refs[j]))
                continue
            toks = postprocess_line_tokens((texts[j] or "").split(" "))
            if toks:
                out.append(("text", " ".join(toks), refs[j]))
        if dehyphenate:
            merged: list[tuple] = []
            page_lines: list[str] = []
            page_ref: str | None = None

            def flush() -> int:
                n = 0
                if page_lines:
                    lines, n = dehyphenate_lines(page_lines)
                    for text in lines:
                        merged.append(("text", text, page_ref))
                    page_lines.clear()
                return n

            for row in out:
                if row[0] == "media":
                    n_merges += flush()
                    page_ref = row[2]
                    merged.append(row)
                else:
                    if row[2] != page_ref:
                        n_merges += flush()
                        page_ref = row[2]
                    page_lines.append(row[1])
            n_merges += flush()
            out = merged
        return out, n_merges

    def run(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            doc_ids = batch.column(0)
            spans_col = batch.column(1)
            lengths = pc.list_value_length(spans_col)
            lengths = (
                lengths.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
            )
            flat = spans_col.flatten()
            offs = flat.field("offset").to_numpy(zero_copy_only=False)
            doc_idx = np.repeat(np.arange(n, dtype=np.int64), lengths)
            # one stable sort for the whole batch == per-doc sorted(key=offset)
            perm = pa.array(np.lexsort((offs, doc_idx)))
            texts = flat.field("text").take(perm).to_pylist()
            refs = flat.field("media_ref").take(perm).to_pylist()
            media = pc.equal(flat.field("kind"), "media")
            # plain Python lists: per-span numpy scalar indexing in the hot
            # loop costs ~3x a list index
            is_media = media.take(perm).to_pylist()
            rtl = None if rtl_idx is None else batch.column(rtl_idx).to_pylist()
            black = (
                None if black_idx is None else batch.column(black_idx).to_pylist()
            )
            bounds = np.concatenate(([0], np.cumsum(lengths))).tolist()
            out_k: list[str] = []
            out_t: list = []
            out_r: list = []
            out_o: list[int] = []
            # int32 list offsets (Spark's array type): one output batch holds
            # at most 2**31 - 1 spans
            list_off = np.empty(n + 1, dtype=np.int32)
            list_off[0] = 0
            metrics = None
            if with_metrics:
                metrics = np.empty((5, n), dtype=np.int64)
                # input text spans per doc, before any blacklist drop
                not_media = ~media.fill_null(False).to_numpy(zero_copy_only=False)
                metrics[1] = np.bincount(doc_idx[not_media], minlength=n)
            for i in range(n):
                span_ids = range(bounds[i], bounds[i + 1])
                if black is not None and black[i]:
                    dropped = set(black[i])
                    span_ids = [j for j in span_ids if refs[j] not in dropped]
                if rtl is not None and rtl[i]:
                    for j in span_ids:
                        if not is_media[j]:
                            texts[j] = " ".join(
                                reversed(strip_marks(texts[j] or "").split(" "))
                            )
                rows, n_merges = extract_doc(is_media, texts, refs, span_ids)
                for o, (k, t, r) in enumerate(rows):
                    out_k.append(k)
                    out_t.append(t)
                    out_r.append(r)
                    out_o.append(o)
                list_off[i + 1] = len(out_k)
                if metrics is not None:
                    n_pages = sum(1 for row in rows if row[0] == "media")
                    # split(' ') semantics: n_tokens = count(' ') + 1/line
                    n_tokens_out = sum(
                        row[1].count(" ") + 1 for row in rows if row[0] == "text"
                    )
                    metrics[0, i] = n_pages
                    metrics[2, i] = len(rows) - n_pages
                    metrics[3, i] = n_tokens_out
                    metrics[4, i] = n_merges
            struct = pa.StructArray.from_arrays(
                [
                    pa.array(out_k, pa.string()),
                    pa.array(out_t, pa.string()),
                    pa.array(out_r, pa.string()),
                    pa.array(out_o, pa.int32()),
                ],
                names=["kind", "text", "media_ref", "offset"],
            )
            spans_out = pa.ListArray.from_arrays(
                pa.array(list_off, pa.int32()), struct
            )
            cols = [doc_ids, spans_out]
            names = ["doc_id", "spans"]
            if metrics is not None:
                cols += [pa.array(metrics[m]) for m in range(5)]
                names += [
                    "n_pages",
                    "n_lines_in",
                    "n_lines_out",
                    "n_tokens_out",
                    "n_dehyphenated",
                ]
            yield pa.RecordBatch.from_arrays(cols, names=names)

    span_t = (
        "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    schema = f"doc_id string, spans {span_t}"
    if with_metrics:
        schema += (
            ", n_pages long, n_lines_in long, n_lines_out long, "
            "n_tokens_out long, n_dehyphenated long"
        )
    return docs.select("doc_id", "spans", *meta_cols).mapInArrow(run, schema=schema)


def relevance_filter(doc_meta: DataFrame) -> DataFrame:
    """F1: keep docs whose METS type and PICA 2nd char mark them relevant
    (reference ``mets.py:17-18,107-122``)."""
    return doc_meta.filter(
        F.col("mets_type").isin("monograph", "volume", "issue", "additional")
        & F.substring("pica_type", 2, 1).isin("a", "f", "F", "Z", "B")
    )


def page_blacklist_flag(
    label_tokens: tuple[str, ...] = ("Colorchecker", "Leerseite"),
    type_tokens: tuple[str, ...] = ("cover_front", "cover_back"),
) -> Column:
    """Boolean column: this page row hits the label or logical-type
    blacklist (substring on labels, exact membership on type lists —
    reference ``is_in``, ``mets.py:417-420``)."""
    label_hit = functools.reduce(
        operator.or_, [F.col("label").contains(t) for t in label_tokens]
    )
    type_hit = F.arrays_overlap(
        F.col("log_types"), F.array(*[F.lit(t) for t in type_tokens])
    )
    return label_hit | type_hit


def blacklisted_pages(
    page_meta: DataFrame,
    label_tokens: tuple[str, ...] = ("Colorchecker", "Leerseite"),
    type_tokens: tuple[str, ...] = ("cover_front", "cover_back"),
    ref_col: str = "media_ref",
) -> DataFrame:
    """F3/F4: pages whose label or linked logical types hit a blacklist.

    Reference ``is_in`` (``mets.py:417-420``) is substring containment on
    the page LABEL but exact membership on the logical-type *list* —
    ``any(t in log_types)`` with a list operand (``mets.py:269-270``).

    ``ref_col``: which page key to collect — ``media_ref`` (image stem; the
    span fact table joins on it) or ``phys_id`` (always unique; IIIF-style
    hrefs can collapse every page to the same basename stem).
    """
    return (
        page_meta.filter(page_blacklist_flag(label_tokens, type_tokens))
        .groupBy("doc_id")
        .agg(F.collect_list(ref_col).alias("_blacklisted_refs"))
    )


def process_statistics(
    doc_meta: DataFrame,
    page_meta: DataFrame,
    media: DataFrame | None = None,
    candidates: DataFrame | None = None,
    results: DataFrame | None = None,
    timings: DataFrame | None = None,
) -> DataFrame:
    """Unified per-document statistics record (reference
    ``odem_process_impl.py:142-153``: languages, n_images_pages,
    n_images_ocrable, mb, mps as one INFO payload; ``:365-380``: n_ocr +
    the candidates-vs-results ``ocr_loss`` set; ``:675-676``: elapsed
    ``timedelta``).

    One aggregation over the page dimension + a broadcast join to the doc
    dimension; the optional ``media`` frame contributes MB/megapixel sums
    (A2).  All counts are per-doc-small, so the join side broadcasts.

    Optional channels, mirroring the reference record:

    * ``candidates`` + ``results`` (doc_id, stem): adds ``n_ocr`` (results
      per doc) and ``ocr_loss`` — the symmetric difference of stems (J5),
      sorted and comma-joined ('' when lossless).  The loss list is per-doc
      bounded (page count), like the reference's in-memory set.
    * ``timings`` (doc_id, started_at, finished_at timestamps): adds
      ``timedelta`` formatted H:MM:SS from whole seconds (the reference
      str()s a ``datetime.timedelta``; sub-day spans format identically).

    The blacklist/ocrable predicates are NULL-hardened: a page with NULL
    label or log_types counts deterministically (not-blacklisted /
    not-missing) instead of silently dropping out of the sums.
    """
    not_blacklisted = F.coalesce(~page_blacklist_flag(), F.lit(True))
    per_doc = page_meta.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_images_pages"),
        F.sum(
            (not_blacklisted & F.col("media_ref").isNotNull()).cast("long")
        ).alias("n_images_ocrable"),
        F.sum(
            (F.col("log_types").isNull() | (F.size("log_types") == 0)).cast("long")
        ).alias("n_links_missing"),
    )
    out = per_doc.join(
        F.broadcast(
            doc_meta.select("doc_id", F.array_join("languages", "+").alias("languages"))
        ),
        "doc_id",
        "left",
    )
    if media is not None:
        from ..functions.multimodal import media_stats

        out = out.join(
            F.broadcast(media_stats(media).select("doc_id", "mb", "mps")),
            "doc_id",
            "left",
        )
    if candidates is not None and results is not None:
        from ..operators.linking import loss_set

        n_ocr = results.groupBy("doc_id").agg(
            F.count("*").cast("long").alias("n_ocr")
        )
        loss = (
            loss_set(candidates, results)
            .groupBy("doc_id")
            .agg(
                F.array_join(F.sort_array(F.collect_list("stem")), ",").alias(
                    "ocr_loss"
                )
            )
        )
        out = (
            out.join(n_ocr, "doc_id", "left")
            .join(loss, "doc_id", "left")
            .withColumn("n_ocr", F.coalesce("n_ocr", F.lit(0)))
            .withColumn("ocr_loss", F.coalesce("ocr_loss", F.lit("")))
        )
    if timings is not None:
        secs = (
            F.unix_timestamp("finished_at") - F.unix_timestamp("started_at")
        ).cast("long")
        td = F.concat(
            (secs / 3600).cast("long").cast("string"),
            F.lit(":"),
            F.lpad(((secs % 3600) / 60).cast("long").cast("string"), 2, "0"),
            F.lit(":"),
            F.lpad((secs % 60).cast("string"), 2, "0"),
        )
        out = out.join(
            timings.select("doc_id", td.alias("timedelta")), "doc_id", "left"
        )
    return out


def to_flat(docs: DataFrame) -> DataFrame:
    """Explode to the flat per-span form for window/aggregate consumers."""
    return docs.select(
        "doc_id", F.explode("spans").alias("s")
    ).select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset")


def from_flat(flat: DataFrame, sort: bool = True) -> DataFrame:
    """Regroup flat spans into the nested contract shape (one shuffle).

    r6: the offset ordering now comes from a NATURAL ``array_sort`` over an
    offset-first struct (codegen-friendly field comparison) instead of the
    interpreted per-comparison lambda; same order wherever offsets are
    unique per document (the span contract).  ``sort=False`` skips the
    ordering for consumers that re-sort anyway (``extract`` both modes,
    ``page_text_stats``) — array order is then partition-dependent, so only
    use it when the next operator imposes its own order.
    """
    collected = F.collect_list(
        F.struct(
            F.col("offset").alias("offset"),
            F.col("kind").alias("kind"),
            F.col("text").alias("text"),
            F.col("media_ref").alias("media_ref"),
        )
    )
    arr = F.array_sort(collected) if sort else collected
    spans = F.transform(
        arr, lambda s: _span(s["kind"], s["text"], s["media_ref"], s["offset"])
    )
    return flat.groupBy("doc_id").agg(spans.alias("spans"))


def text_bundle(docs: DataFrame) -> DataFrame:
    """S7: one text blob per document — surviving lines joined by newline,
    plus the reference's ``n_text_lines`` statistic (A7)."""
    text_spans = F.filter(F.col("spans"), lambda s: s["kind"] == "text")
    return docs.select(
        "doc_id",
        F.array_join(
            F.transform(text_spans, lambda s: s["text"]), "\n"
        ).alias("bundle"),
        F.size(text_spans).cast("long").alias("n_text_lines"),
    )


def repartition_for_scale(docs: DataFrame, num_partitions: int) -> DataFrame:
    """Range-repartition on doc_id — co-locates doc ranges for watermark
    bookkeeping while spreading oversized docs across partitions."""
    return docs.repartitionByRange(num_partitions, "doc_id")


# ---------------------------------------------------------------------------
# Declarative stage registry (reference O4: the step_NN config registry,
# ``ocr_pipeline.py:631-651`` — steps instantiated by name from an INI file).
# A pipeline is a list of (stage_name, params) applied to the spans column;
# every stage stays a narrow Catalyst expression.
# ---------------------------------------------------------------------------


def map_text(spans: Column, fn) -> Column:
    """Apply a text->text column function to the text spans of an array."""
    return F.transform(
        spans,
        lambda s: _span(
            s["kind"],
            F.when(s["kind"] == "text", fn(s["text"])).otherwise(s["text"]),
            s["media_ref"],
            s["offset"],
        ),
    )


def _stage_replace_chars(spans: Column, params: dict) -> Column:
    from ..operators.replace import replace_chars

    return map_text(spans, lambda t: replace_chars(t, params["dict_chars"]))


def _stage_replace_regex(spans: Column, params: dict) -> Column:
    from ..operators.replace import replace_regex

    return map_text(
        spans,
        lambda t: replace_regex(t, params["pattern"], params["old"], params["new"]),
    )


def _stage_sanitize(spans: Column, params: dict) -> Column:
    from ..operators.quality import sanitize_line

    return map_text(spans, sanitize_line)


def _stage_index_norm(spans: Column, params: dict) -> Column:
    from ..operators.replace import normalize_index_content

    return map_text(spans, normalize_index_content)


def _stage_mark_strip(spans: Column, params: dict) -> Column:
    from ..operators.tokens import strip_marks

    return map_text(spans, strip_marks)


def _stage_dehyphenate(spans: Column, params: dict) -> Column:
    from ..operators.dehyphen import dehyphenate_spans

    return dehyphenate_spans(spans)["spans"]


def _stage_drop_blank_tokens(spans: Column, params: dict) -> Column:
    from ..operators.tokens import drop_blank_tokens

    cleared = map_text(spans, drop_blank_tokens)
    return F.filter(
        cleared, lambda s: (s["kind"] == "media") | (s["text"] != "")
    )


STAGES = {
    "sort": lambda spans, params: sorted_spans(spans),
    "postprocess": lambda spans, params: postprocess_spans(spans),
    "drop_blank_tokens": _stage_drop_blank_tokens,
    "replace_chars": _stage_replace_chars,
    "replace_regex": _stage_replace_regex,
    "sanitize_chars": _stage_sanitize,
    "index_normalize": _stage_index_norm,
    "mark_strip": _stage_mark_strip,
    "dehyphenate": _stage_dehyphenate,
    "drop_empty": lambda spans, params: F.filter(
        spans, lambda s: (s["kind"] == "media") | (F.length(F.trim(s["text"])) > 0)
    ),
    "reoffset": lambda spans, params: reoffset(spans),
}


def run_pipeline_arrow(docs: DataFrame, stages: list) -> DataFrame:
    """Arrow executor for a configured stage list (r6, guide §4.2).

    Runs the same normalized ``(name, params)`` chain as ``build_pipeline``
    but as ONE ``mapInPandas`` stage with Python mirrors of each stage —
    the HOF form nests an interpreted ``transform`` lambda per stage per
    span.  Mirrors are exact: literal replaces are ``str.replace`` in dict
    order (== chained ``F.replace``), the regex stage reuses the same
    prefix-lookahead rewrite as ``operators.replace.replace_regex`` (and
    refuses patterns whose replacement could diverge between Java and
    Python regex syntax), token stages run the pinned oracle loop.
    Stage-order observability is unchanged — the chain comes from the same
    INI loader, and a misordered chain changes values exactly as in hof
    mode.  Raises ``KeyError`` for stages without a mirror (use
    ``build_pipeline`` for those).
    """
    import re as _re

    import pandas as pd

    from ..operators.replace import _esc
    from ..oracle import postprocess_line_tokens

    normalized = [
        (s, {}) if isinstance(s, str) else (s[0], s[1] or {}) for s in stages
    ]
    for name, _ in normalized:
        if name not in STAGES:
            raise KeyError(f"unknown stage {name!r}; known: {sorted(STAGES)}")

    ops: list[tuple[str, object]] = []
    for name, params in normalized:
        if name in ("sort", "reoffset", "postprocess", "drop_blank_tokens",
                    "drop_empty"):
            ops.append((name, None))
        elif name == "replace_chars":
            items = list(params["dict_chars"].items())

            def chain(t, items=items):
                for old, new in items:
                    t = t.replace(old, new)
                return t

            ops.append(("text", chain))
        elif name == "replace_regex":
            pattern, old, new = params["pattern"], params["old"], params["new"]
            if "$" in new or "\\" in new:
                raise KeyError(
                    "replace_regex with group references has no arrow "
                    "mirror; use build_pipeline (hof)"
                )
            if pattern.startswith(f"({old}") and pattern.endswith(")"):
                inner = pattern[1 + len(old):-1]
                rx = _re.compile(f"{_esc(old)}(?={inner})")
            else:
                rx = _re.compile(pattern)
            ops.append(("text", lambda t, rx=rx, new=new: rx.sub(new, t)))
        else:
            raise KeyError(
                f"stage {name!r} has no arrow mirror; use build_pipeline (hof)"
            )

    def apply_doc(spans):
        rows = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]
        for op, f in ops:
            if op == "sort":
                rows.sort(key=lambda r: r[3])
            elif op == "reoffset":
                rows = [(k, t, m, i) for i, (k, t, m, _o) in enumerate(rows)]
            elif op == "text":
                rows = [
                    (k, f(t) if k == "text" else t, m, o) for (k, t, m, o) in rows
                ]
            elif op == "postprocess":
                out = []
                for k, t, m, o in rows:
                    if k == "text":
                        t = " ".join(postprocess_line_tokens((t or "").split(" ")))
                        if t == "":
                            continue
                    out.append((k, t, m, o))
                rows = out
            elif op == "drop_blank_tokens":
                out = []
                for k, t, m, o in rows:
                    if k == "text":
                        t = " ".join(x for x in t.split(" ") if x.strip() != "")
                        if t == "":
                            continue
                    out.append((k, t, m, o))
                rows = out
            elif op == "drop_empty":
                rows = [
                    (k, t, m, o) for (k, t, m, o) in rows
                    if k == "media" or len(t.strip(" ")) > 0
                ]
        return rows

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame(
                [(rec.doc_id, apply_doc(rec.spans))
                 for rec in pdf.itertuples(index=False)],
                columns=["doc_id", "spans"],
            )

    schema = (
        "doc_id string, spans array<struct<"
        "kind:string,text:string,media_ref:string,offset:int>>"
    )
    return docs.select("doc_id", "spans").mapInPandas(run, schema=schema)


def build_pipeline(stages: list) -> "DataFrame -> DataFrame":
    """Compose a configured stage list into one narrow plan.

    ``stages``: names or (name, params) tuples, e.g.::

        run = build_pipeline([
            "sort",
            ("replace_chars", {"dict_chars": {"ic)": "ich"}}),
            ("replace_regex", {"pattern": r"(J[cdhmn]\\w*)", "old": "J", "new": "I"}),
            "postprocess", "dehyphenate", "reoffset",
        ])
        out = run(docs)
    """
    normalized = [
        (s, {}) if isinstance(s, str) else (s[0], s[1] or {}) for s in stages
    ]
    for name, _ in normalized:
        if name not in STAGES:
            raise KeyError(f"unknown stage {name!r}; known: {sorted(STAGES)}")

    def run(docs: DataFrame) -> DataFrame:
        spans = F.col("spans")
        for name, params in normalized:
            spans = STAGES[name](spans, params)
        return docs.select("doc_id", spans.alias("spans"))

    return run
