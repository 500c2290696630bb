"""The end-to-end extraction plan (reference lifecycle §3.4 of SURVEY.md).

Design: the whole extract path is NARROW per-document work over the nested
``spans`` array — sort, blacklist drop, RTL fold, token post-process,
empty-line drop, optional de-hyphenation fold, re-offset.  The default tier
(``extract_arrow``) runs all of it as ONE ``mapInArrow`` stage of columnar
``pyarrow.compute`` / numpy kernels over whole Arrow batches (only the
de-hyphenation wrap chains run as Python string operations); the metadata
dimensions (relevance filter, page blacklist) broadcast-join onto the fact
table ahead of that stage.  The second tier (``mode="hof"``) states the
same semantics as Catalyst higher-order array expressions, and the stage
registry below composes those expressions.  At 100 TB this means: zero
shuffles of the fact table, linear scaling with input splits, and skew
from oversized "book" documents bounded by single-row cost rather than hot
shuffle keys.

Stage order reproduces the reference (``ocr_files.py:62-91``): blacklist
filters precede token ops; the trailing-punct split precedes the min-length
drop; de-hyphenation (quality path) runs on the post-processed lines.
"""

from __future__ import annotations

import functools
import operator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, functions as F

from ..constants import CLEAR_MARKS, MINIMUM_WORD_LEN, ODEM_PUNCTUATIONS, PY_WHITESPACE
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
        of columnar kernels over whole Arrow batches, metadata joins and
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
    """Arrow-batched extraction: one ``mapInArrow`` stage that runs the
    extract semantics as columnar kernels over each whole Arrow batch.

    Why this exists alongside the HOF plan: Spark's higher-order array
    functions are CodegenFallback (interpreted, per-element object churn),
    while this path hands each batch's ``list<struct>`` column to Python
    once, flat.  It is still narrow (no shuffle), still per-partition
    parallel, and the payload crosses the Arrow boundary exactly twice.

    A batch is processed with ``pyarrow.compute`` string kernels and numpy
    index arithmetic (``_extract_batch``), never with a per-document or
    per-token Python loop:

    * one stable ``np.lexsort`` orders every document's spans by offset;
    * a line whose " "-tokens all have two or more characters and no
      whitespace or ODEM punctuation is left as it is (one RE2 match);
      every other line is split on " ", its tokens are classified with
      trim / length / slice kernels (``_postprocess_lines``) and re-joined,
      and a line with no kept token is dropped;
    * de-hyphenation finds the '-'-ended lines that have a successor on
      the same page with array masks; only those wrap chains run as Python
      string operations (``_dehyphenate``);
    * offsets, list offsets, the kind column and the metrics come from
      ``bincount`` / ``cumsum``.

    The result equals the pure-Python ``oracle`` span for span (an
    independent statement of the same semantics, not called here), which
    the parity tests pin over seeded and adversarial corpora.

    ``with_metrics``: pages/lines/tokens out, input text lines (counted
    before the blacklist drop) and the de-hyphenation merge count —
    value-identical to the HOF tier's metric expressions.

    Metadata: when ``docs`` carries the ``_rtl`` / ``_blacklisted_refs``
    columns that ``join_metadata`` adds, the spans of a document's
    blacklisted pages are dropped (a span without a ``media_ref`` sits on
    no page and stays) and an RTL document's text lines lose their
    directional marks and have their " "-tokens reversed before the token
    pass.
    """
    meta_cols = [c for c in ("_rtl", "_blacklisted_refs") if c in docs.columns]
    col_idx = {c: 2 + k for k, c in enumerate(meta_cols)}
    rtl_idx, black_idx = col_idx.get("_rtl"), col_idx.get("_blacklisted_refs")

    def run(batches):
        for batch in batches:
            if batch.num_rows:
                yield _extract_batch(
                    batch, rtl_idx, black_idx, dehyphenate, with_metrics
                )

    schema = (
        "doc_id string, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    if with_metrics:
        schema += "".join(f", {c} long" for c in _METRICS)
    return docs.select("doc_id", "spans", *meta_cols).mapInArrow(run, schema=schema)


def _char_class(chars: str) -> str:
    """RE2 class body matching exactly ``chars`` (code point escapes)."""
    return "".join(f"\\x{{{ord(c):x}}}" for c in chars)


#: a token post-processing cannot change: >= 2 characters, no whitespace,
#: no ODEM punctuation (so never dropped, split or length-filtered)
_CLEAN_TOKEN = f"[^{_char_class(PY_WHITESPACE + ODEM_PUNCTUATIONS)}]{{2,}}"
#: a line whose every " "-token is clean comes out of the token pass as is
_CLEAN_LINE = f"^{_CLEAN_TOKEN}( {_CLEAN_TOKEN})*$"
_MARKS = f"[{_char_class(CLEAR_MARKS)}]"

_METRICS = ("n_pages", "n_lines_in", "n_lines_out", "n_tokens_out", "n_dehyphenated")


def _np(arr) -> np.ndarray:
    return arr.to_numpy(zero_copy_only=False)


def _extract_batch(batch, rtl_idx, black_idx, dehyphenate, with_metrics):
    """Extract one Arrow batch of ``(doc_id, spans[, _rtl][, _blacklisted_refs])``."""
    n = batch.num_rows
    spans = batch.column(1)
    lengths = _np(pc.list_value_length(spans).fill_null(0)).astype(np.int64)
    doc = np.repeat(np.arange(n, dtype=np.int64), lengths)
    flat = spans.flatten()
    texts = flat.field("text")
    refs = flat.field("media_ref")
    media = _np(pc.equal(flat.field("kind"), "media").fill_null(False))
    # flat positions in output order: one stable sort for the whole batch ==
    # per-doc sorted(key=offset); doc is sorted already, so doc[order] == doc
    order = np.lexsort((_np(flat.field("offset")), doc))
    if black_idx is not None:
        on_black = _on_blacklisted_page(batch.column(black_idx), refs, doc, n)
        order = order[~on_black[order]]

    line_pos = order[~media[order]]
    lines = texts.take(line_pos).fill_null("")
    if rtl_idx is not None:
        rtl = _np(batch.column(rtl_idx).fill_null(False))[doc[line_pos]]
        if rtl.any():
            lines = pc.replace_with_mask(
                lines, pa.array(rtl), _fold_rtl(lines.filter(pa.array(rtl)))
            )
    lines, line_kept = _postprocess_lines(lines)

    # output spans: media spans as they are, kept lines post-processed; the
    # text pool holds the input texts, then the post-processed lines
    src = order.copy()
    is_line = ~media[order]
    src[is_line] = len(flat) + np.arange(len(line_pos))
    out_keep = ~is_line
    out_keep[is_line] = line_kept
    pos = order[out_keep]
    src = src[out_keep]
    out_media = media[pos]
    out_doc = doc[pos]
    out_refs = refs.take(pos)
    out_text = pa.concat_arrays([texts, lines]).take(src)
    merges = np.zeros(n, dtype=np.int64)
    if dehyphenate:
        out_text, keep, merged_at = _dehyphenate(out_text, out_media, out_refs, out_doc)
        merges = np.bincount(out_doc[merged_at], minlength=n)
        if keep is not None:
            out_media, out_doc = out_media[keep], out_doc[keep]
            out_refs = out_refs.filter(pa.array(keep))

    # int32 list offsets (Spark's array type): one output batch holds at
    # most 2**31 - 1 spans
    per_doc = np.bincount(out_doc, minlength=n)
    list_off = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(per_doc, out=list_off[1:])
    offset = np.arange(len(out_doc), dtype=np.int32) - list_off[out_doc]
    struct = pa.StructArray.from_arrays(
        [
            pc.if_else(pa.array(out_media), "media", "text"),
            out_text,
            out_refs,
            pa.array(offset, pa.int32()),
        ],
        names=list(SPAN_FIELDS),
    )
    cols = [batch.column(0), pa.ListArray.from_arrays(pa.array(list_off), struct)]
    names = ["doc_id", "spans"]
    if with_metrics:
        text_doc = out_doc[~out_media]
        # split(' ') semantics: a line has count(' ') + 1 tokens
        n_tokens = _np(pc.count_substring(out_text.filter(pa.array(~out_media)), " ")) + 1
        n_lines_out = np.bincount(text_doc, minlength=n)
        cols += [
            pa.array(per_doc - n_lines_out),
            pa.array(np.bincount(doc[~media], minlength=n)),
            pa.array(n_lines_out),
            pa.array(np.bincount(text_doc, weights=n_tokens, minlength=n).astype(np.int64)),
            pa.array(merges),
        ]
        names += _METRICS
    return pa.RecordBatch.from_arrays(cols, names=names)


def _on_blacklisted_page(black, refs, doc, n: int) -> np.ndarray:
    """Per flat span: its document lists its ``media_ref`` as blacklisted.
    A NULL ``media_ref`` is on no page; a NULL list blacklists nothing."""
    counts = _np(pc.list_value_length(black).fill_null(0)).astype(np.int64)
    if not counts.any():
        return np.zeros(len(doc), dtype=bool)
    listed = black.flatten()
    names = pc.drop_null(pc.unique(listed))
    # (doc, ref) pairs as one integer key: doc * K + the ref's rank in names
    k = len(names) + 1
    span_code = _np(pc.index_in(refs, value_set=names).fill_null(-1)).astype(np.int64)
    listed_code = _np(pc.index_in(listed, value_set=names).fill_null(-1)).astype(np.int64)
    listed_doc = np.repeat(np.arange(n, dtype=np.int64), counts)
    listed_key = (listed_doc * k + listed_code)[listed_code >= 0]
    return (span_code >= 0) & np.isin(doc * k + span_code, listed_key)


def _fold_rtl(lines):
    """Right-to-left fold of each line: directional marks stripped, then
    its " "-tokens reversed (``" ".join(reversed(line.split(" ")))``)."""
    toks = pc.split_pattern(pc.replace_substring_regex(lines, _MARKS, ""), " ")
    off = _np(toks.offsets).astype(np.int64)  # a kernel's output: starts at 0
    line = np.repeat(np.arange(len(toks)), np.diff(off))
    rev = off[line] + off[line + 1] - 1 - np.arange(off[-1])
    folded = pa.ListArray.from_arrays(toks.offsets, toks.flatten().take(rev))
    return pc.binary_join(folded, " ")


def _postprocess_lines(lines):
    """Token post-processing of every (non-NULL) line, columnar.

    Per " "-token, with ``stripped`` its Python-whitespace trim:
      1. all of ``stripped`` is ODEM punctuation (or it is empty) -> dropped;
      2. else, a token of two or more characters ending in ODEM punctuation
         is split: the rest (kept when >= MINIMUM_WORD_LEN characters),
         then the punctuation character (always kept);
      3. else the raw token is kept when ``stripped`` has >=
         MINIMUM_WORD_LEN characters.
    Returns the re-joined lines and, per line, whether any token was kept.
    """
    kept = np.ones(len(lines), dtype=bool)
    dirty = np.flatnonzero(~_np(pc.match_substring_regex(lines, _CLEAN_LINE)))
    if not len(dirty):
        return lines, kept
    split_lines = pc.split_pattern(lines.take(dirty), " ")
    tok_off = _np(split_lines.offsets).astype(np.int64)  # starts at 0
    tok = split_lines.flatten()
    n_tok = len(tok)
    length = _np(pc.utf8_length(tok))
    stripped = pc.utf8_trim(tok, characters=PY_WHITESPACE)
    punct_only = _np(pc.equal(pc.utf8_trim(stripped, characters=ODEM_PUNCTUATIONS), ""))
    ends_punct = _np(pc.utf8_length(pc.utf8_rtrim(tok, characters=ODEM_PUNCTUATIONS))) < length
    split = ~punct_only & (length > 1) & ends_punct
    kept_len = np.where(split, length - 1, _np(pc.utf8_length(stripped)))
    # two output slots per token, in order: the token (or its rest after a
    # split) and the split-off punctuation; the pool holds the raw tokens,
    # then the rests, then the punctuation characters
    at = np.flatnonzero(split)
    head = tok.take(at)
    pool = pa.concat_arrays(
        [tok, pc.utf8_slice_codeunits(head, 0, -1), pc.utf8_slice_codeunits(head, -1)]
    )
    keep_rest = ~punct_only & (kept_len >= MINIMUM_WORD_LEN)
    slot = np.empty((n_tok, 2), dtype=np.int64)  # slot[k, 1] read only if split
    slot[:, 0] = np.arange(n_tok)
    slot[at, 0] = n_tok + np.arange(len(at))
    slot[at, 1] = n_tok + len(at) + np.arange(len(at))
    keep = np.empty((n_tok, 2), dtype=bool)
    keep[:, 0] = keep_rest
    keep[:, 1] = split
    done = np.zeros(n_tok + 1, dtype=np.int64)
    np.cumsum(keep_rest + split.astype(np.int64), out=done[1:])
    line_off = done[tok_off]
    joined = pc.binary_join(
        pa.ListArray.from_arrays(
            pa.array(line_off.astype(np.int32)), pool.take(slot.ravel()[keep.ravel()])
        ),
        " ",
    )
    kept[dirty] = np.diff(line_off) > 0
    mask = np.zeros(len(lines), dtype=bool)
    mask[dirty] = True
    return pc.replace_with_mask(lines, pa.array(mask), joined), kept


def _dehyphenate(text, media, refs, doc):
    """Per-page word-wrap merge over a batch's extracted span sequence.

    Two neighbouring text spans share a page when they belong to the same
    document and have equal ``media_ref`` (NULL equal to NULL); a media
    span ends the page.  A line ending in '-' that has a same-page
    successor takes the successor's first whitespace token (its last
    character replaced by it), and the successor keeps the rest, joined by
    single spaces; when that rest ends in '-' the chain goes on to the
    next line.  A '-'-ended line whose successor is blank is dropped.
    Only the lines on such chains reach Python.

    Returns the new text column, a keep mask (``None`` when no line is
    dropped) and the positions of the merged lines.
    """
    m = len(text)
    none = np.zeros(0, dtype=np.int64)
    if m < 2:
        return text, None, none
    a, b = refs.slice(0, m - 1), refs.slice(1)
    same_ref = _np(pc.or_(pc.equal(a, b).fill_null(False), pc.and_(a.is_null(), b.is_null())))
    is_line = ~media
    next_same = np.zeros(m, dtype=bool)
    next_same[:-1] = same_ref & (doc[:-1] == doc[1:]) & is_line[:-1] & is_line[1:]
    starts = np.flatnonzero(next_same & _np(pc.ends_with(text, "-").fill_null(False)))
    if not len(starts):
        return text, None, none
    need = np.union1d(starts, starts + 1)
    line = dict(zip(need.tolist(), _np(text.take(need)).tolist()))
    new: dict[int, str] = {}
    dropped: list[int] = []
    merged_at: list[int] = []
    last = -1
    for i in starts.tolist():
        if i <= last:
            continue  # already rewritten as part of an earlier chain
        cur = line[i]
        while True:
            nxt = line.get(i + 1)
            if nxt is None:  # a chain past the lines pulled above
                nxt = text[i + 1].as_py()
            if nxt.strip():
                head, *rest = nxt.split()
                new[i] = cur[:-1] + head
                merged_at.append(i)
                cur = new[i + 1] = " ".join(rest)
            else:
                dropped.append(i)
                cur = nxt
            i += 1
            if not (next_same[i] and cur.endswith("-")):
                break
        last = i
    # chains run in ascending order, so ``new`` is keyed in position order
    mask = np.zeros(m, dtype=bool)
    mask[list(new)] = True
    text = pc.replace_with_mask(text, pa.array(mask), pa.array(list(new.values()), text.type))
    keep = None
    if dropped:
        keep = np.ones(m, dtype=bool)
        keep[dropped] = False
        text = text.filter(pa.array(keep))
    return text, keep, np.array(merged_at, dtype=np.int64)


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
