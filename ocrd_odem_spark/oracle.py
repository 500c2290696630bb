"""Pure-Python oracle: single-threaded re-statement of the reference
extraction semantics over the span model.

This module is the pytest ground truth. Each function re-states, over plain
token/line lists, exactly what the reference engine does over lxml element
trees; the Spark pipeline must match these functions bit for bit.

Semantics sources (behavioural parity, not code):

* token post-processing  — ``lib/odem/processing/ocr_files.py:52-163``
  (``postprocess_ocr_file`` + ``_is_completely_punctuated`` +
  ``_handle_trailing_puncts`` + ``_uplete``)
* de-hyphenation          — ``lib/odem/ocr/ocr_pipeline.py:425-447``
  (``_sanitize_wraps``)
* char sanitising         — ``lib/odem/ocr/ocr_pipeline.py:450-467``
  (``_sanitize_chars``)
* dense-line selection    — ``lib/odem/ocr/ocr_pipeline.py:402-422``
  (``textlines2data``)
* index normalisation     — ``ocr_files.py:166-184`` (``_normalize_string_content``)
* vocal ligatures         — ``ocr_files.py:187-213`` (``_normalize_vocal_ligatures``)
* directional-mark strip  — ``lib/odem/ocr/ocr_model.py:23-29,153-157``
* RTL line folding        — ``ocr_model.py:60-69``
* estimation binning      — ``ocr_pipeline.py:663-682`` (``analyze``)

Key behavioural quirks that MUST be preserved (verified against the reference
tests, e.g. ``tests/test_odem_processing_ocr_files.py:44-75``):

1. A trailing-punctuation split emits the punctuation as a NEW sibling token
   that is *not* re-examined by the processing loop — it therefore SURVIVES
   even though it is shorter than MINIMUM_WORD_LEN.
2. After the split, the shrunk original token is min-length-checked on its
   *unstripped* remainder; if it falls below 2 chars it is dropped while the
   split-off punctuation token stays ("A." -> ".").
3. De-hyphenation iterates over the list it mutates: a merged-away first
   token is missing when its line is later examined, and a '-'-terminated
   line followed by an EMPTY line is dropped entirely (``continue`` skips the
   append).
"""

from __future__ import annotations

import unicodedata
from dataclasses import dataclass

from .constants import (
    BAD_CHARS_SANITIZE,
    CLEAR_MARKS,
    COMBINING_SMALL_E,
    KIND_MEDIA,
    KIND_TEXT,
    LONG_S,
    MINIMUM_WORD_LEN,
    ODEM_PUNCTUATIONS,
    PUNCTUATIONS,
)

_ODEM_SET = frozenset(ODEM_PUNCTUATIONS)
_WIDE_SET = frozenset(PUNCTUATIONS)
_BAD_SET = frozenset(BAD_CHARS_SANITIZE)
_MARK_SET = frozenset(CLEAR_MARKS)
#: delete-map form of _ODEM_SET for str.translate — C-speed "is the token
#: punctuation-only" check (per-char set membership in Python was 40% of
#: this loop; ``run_pipeline_arrow``'s postprocess stage still runs it per
#: token, while the extract stage has its own columnar statement)
_ODEM_DEL = {ord(c): None for c in ODEM_PUNCTUATIONS}


def is_fully_punctuated(token: str) -> bool:
    """True when the (stripped) token consists of ODEM punctuation only.

    The empty string qualifies (it translates to '' as well), which is what
    makes blank tokens fall out in the same branch as pure punctuation.
    """
    return not token.translate(_ODEM_DEL)


def postprocess_line_tokens(tokens: list[str]) -> list[str]:
    """Token-level extract-path post-processing of one text line.

    For each original token, in order:
      1. fully-punctuated (on the stripped form, empties included) -> dropped;
      2. otherwise, when the raw token is longer than one char and ends in an
         ODEM punctuation char, it is split: remainder + punctuation token
         (the punctuation token is final output, never re-examined);
      3. the remainder (raw minus last char when split, stripped form when
         not) is dropped when shorter than MINIMUM_WORD_LEN.
    """
    # r6 note: flattened form of the original branch ladder — after the
    # fully-punctuated drop the stripped token is guaranteed non-empty, so
    # the `len(stripped) > 0` guards collapse; behaviour is unchanged
    # (pinned by the oracle-parity tests against the columnar Arrow tier,
    # an independent statement of the same rules).
    out: list[str] = []
    append = out.append
    odem = _ODEM_SET
    delmap = _ODEM_DEL
    min_len = MINIMUM_WORD_LEN
    for raw in tokens:
        if raw.isalnum():
            # fast path (exact): an alphanumeric token has no punctuation
            # and no whitespace — never dropped as punctuation, never
            # split, survives iff it meets the minimum length
            if len(raw) >= min_len:
                append(raw)
            continue
        stripped = raw.strip()
        if not stripped.translate(delmap):
            continue  # fully punctuated (or blank) -> dropped
        if len(raw) > 1 and raw[-1] in odem:
            keep = raw[:-1]  # split: remainder + final punctuation token
            if len(keep) >= min_len:
                append(keep)
            append(raw[-1])
        elif len(stripped) >= min_len:
            append(raw)  # untouched token keeps its raw form
    return out


def dehyphenate_lines(lines: list[str]) -> tuple[list[str], int]:
    """Sequential word-wrap merge over one page's lines.

    Returns (normalised lines, number of merges). Exactly reproduces the
    mutating-iteration behaviour of the reference: the successor line loses
    its first token *before* it is visited, and a '-'-terminated line whose
    successor is empty is removed from the output altogether.
    """
    work = list(lines)
    merged: list[str] = []
    n_merges = 0
    i = 0
    while i < len(work):
        cur = work[i]
        if i + 1 < len(work) and cur.endswith("-"):
            nxt = work[i + 1]
            if not nxt.strip():
                # no merge possible; reference `continue` drops this line
                i += 1
                continue
            toks = nxt.split()
            head, rest = toks[0], toks[1:]
            work[i + 1] = " ".join(rest)
            merged.append(cur[:-1] + head)
            n_merges += 1
        else:
            merged.append(cur)
        i += 1
    return merged, n_merges


def sanitize_chars(lines: list[str]) -> list[str]:
    """Quality-path character scrub of each line."""
    out = []
    for line in lines:
        text = "".join(ch for ch in line.strip() if ch not in _BAD_SET)
        text = text.replace("..", "")
        text = text.replace("  ", " ")
        text = text.replace(LONG_S, "s")
        text = " ".join(tok for tok in text.split() if len(tok) > 1)
        out.append(text)
    return out


@dataclass
class PageTextStats:
    """Per-page quality-path output (reference ``textlines2data``)."""

    file_string: str
    n_lines: int
    n_normalized: int
    n_sparse: int
    n_dense: int


def textlines_to_data(line_texts: list[str], minlen: int = 2) -> PageTextStats:
    """Quality-path dataset of one page: dehyphenate, sanitise, densify."""
    n_in = len(line_texts)
    non_empty = [t for t in line_texts if len(t) > 0]
    normalized, n_norm = dehyphenate_lines(non_empty)
    filtered = sanitize_chars(normalized)
    dense = [t for t in filtered if len(t) > minlen]
    n_sparse = len(filtered) - len(dense)
    return PageTextStats(" ".join(dense), n_in, n_norm, n_sparse, len(dense))


def normalize_index_content(content: str) -> str:
    """Index-path strip: wide punctuation removed unless purely alphabetic."""
    if not content.isalpha():
        content = "".join(ch for ch in content if ch not in _WIDE_SET)
    return content


def normalize_vocal_ligatures(token: str) -> str:
    """aͤ/oͤ/uͤ -> ä/ö/ü; error on other bases; stray marks stripped."""
    chars: list[str] = []
    for ch in token:
        if ch == COMBINING_SMALL_E:
            if not chars:
                raise ValueError(f"no base char for combining e in {token!r}")
            base_name = unicodedata.name(chars[-1])
            if "LETTER A" in base_name:
                chars[-1] = "ä"
            elif "LETTER O" in base_name:
                chars[-1] = "ö"
            elif "LETTER U" in base_name:
                chars[-1] = "ü"
            else:
                raise ValueError(
                    f"normalize vocal ligatures: no conversion for {chars[-1]!r} ({token!r})"
                )
        chars.append(ch)
    return "".join(chars).replace(COMBINING_SMALL_E, "")


def strip_marks(token: str) -> str:
    """Remove directional / zero-width marks from one token."""
    return "".join(ch for ch in token if ch not in _MARK_SET)


def fold_rtl(tokens: list[str]) -> str:
    """Right-to-left line content: tokens folded back-to-front."""
    content = ""
    for tok in tokens:
        content = (tok + " " + content) if content else tok
    return content


def estimation_bins(scores: list[float], bins: int = 5, step: int = 15) -> tuple[float, list[int]]:
    """Mean + fixed-width bin occupancy of quality scores."""
    if not scores:
        return 0.0, [0] * bins
    mean = round(sum(scores) / len(scores), 3)
    counts = [0] * bins
    for score in scores:
        idx = min(round(score // step), bins - 1)
        counts[idx] += 1
    return mean, counts


# ---------------------------------------------------------------------------
# whole-document oracle over the span model
# ---------------------------------------------------------------------------


def extract_document(spans: list[dict]) -> list[dict]:
    """Extract-path oracle over one document's interleaved spans.

    Input spans: dicts with kind/text/media_ref/offset (input order by
    offset). Output: the post-processed span sequence with dense offsets —
    media spans kept, text lines token-post-processed, empty lines dropped.
    """
    ordered = sorted(spans, key=lambda s: s["offset"])
    out: list[dict] = []
    for span in ordered:
        if span["kind"] == KIND_MEDIA:
            out.append({**span})
            continue
        tokens = postprocess_line_tokens((span["text"] or "").split(" "))
        if not tokens:
            continue
        out.append({**span, "text": " ".join(tokens)})
    for pos, span in enumerate(out):
        span["offset"] = pos
    return out


def extract_document_dehyphenated(spans: list[dict]) -> list[dict]:
    """Extract path followed by per-page de-hyphenation (index/quality path).

    Page boundary = change of media_ref; media spans are kept in place, the
    page's text lines are wrap-merged sequentially.
    """
    extracted = extract_document(spans)
    out: list[dict] = []
    page_lines: list[dict] = []

    def flush() -> None:
        if not page_lines:
            return
        merged, _ = dehyphenate_lines([s["text"] for s in page_lines])
        template = page_lines[0]
        for text in merged:
            out.append({**template, "text": text})
        page_lines.clear()

    current_ref: str | None = None
    for span in extracted:
        if span["kind"] == KIND_MEDIA:
            flush()
            current_ref = span["media_ref"]
            out.append(span)
        else:
            if span["media_ref"] != current_ref:
                flush()
                current_ref = span["media_ref"]
            page_lines.append(span)
    flush()
    for pos, span in enumerate(out):
        span["offset"] = pos
    return out
