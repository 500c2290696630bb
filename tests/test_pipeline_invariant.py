"""Flagship invariant: Spark extraction == pure-Python oracle, span for span.

The oracle re-states the reference's loops (ocr_files.py:52-163,
ocr_pipeline.py:425-447) over the span model; the Spark plan must reproduce
its output exactly: ``(kind, text, media_ref, order)`` per doc_id.
"""

from __future__ import annotations

from ocrd_odem_spark import oracle
from ocrd_odem_spark.plans import pipeline


def _spark_result(df) -> dict[str, list[tuple]]:
    rows = df.select("doc_id", "spans").collect()
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in rows
    }


def _oracle_result(corpus, fn) -> dict[str, list[tuple]]:
    return {
        d["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in fn(d["spans"])
        ]
        for d in corpus
    }


def _assert_equal(actual: dict, expected: dict) -> None:
    assert sorted(actual) == sorted(expected)
    for doc_id in expected:
        assert actual[doc_id] == expected[doc_id], (
            f"span sequence mismatch for {doc_id}:\n"
            f"  spark : {actual[doc_id][:8]} ...\n"
            f"  oracle: {expected[doc_id][:8]} ..."
        )


def test_extract_matches_oracle(spark, corpus, docs_df):
    actual = _spark_result(pipeline.extract(docs_df))
    expected = _oracle_result(corpus, oracle.extract_document)
    _assert_equal(actual, expected)


def test_extract_dehyphenated_matches_oracle(spark, corpus, docs_df):
    actual = _spark_result(pipeline.extract(docs_df, dehyphenate=True))
    expected = _oracle_result(corpus, oracle.extract_document_dehyphenated)
    _assert_equal(actual, expected)


def test_extract_is_narrow(docs_df):
    """The flagship plan must not shuffle the fact table."""
    plan = pipeline.extract(docs_df, dehyphenate=True)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_output_offsets_dense(docs_df):
    rows = pipeline.extract(docs_df).collect()
    for r in rows:
        offsets = [s["offset"] for s in r["spans"]]
        assert offsets == list(range(len(offsets)))


def test_flat_roundtrip(docs_df):
    flat = pipeline.to_flat(docs_df)
    back = pipeline.from_flat(flat)
    orig = {r["doc_id"]: r["spans"] for r in docs_df.collect()}
    rt = {r["doc_id"]: r["spans"] for r in back.collect()}
    assert sorted(orig) == sorted(rt)
    for k in orig:
        assert sorted(orig[k], key=lambda s: s["offset"]) == list(rt[k])


def test_arrow_mode_equals_hof(spark, corpus, docs_df):
    """Both execution modes produce identical span sequences."""
    for dehyph in (False, True):
        hof = _spark_result(
            pipeline.extract(docs_df, dehyphenate=dehyph, mode="hof")
        )
        arrow = _spark_result(
            pipeline.extract(docs_df, dehyphenate=dehyph, mode="arrow")
        )
        _assert_equal(arrow, hof)


_RLM = "\u200f"  # RIGHT-TO-LEFT MARK, one of the stripped directional marks


def _meta_corpus():
    """Hand-made documents covering every metadata case beside a seeded
    corpus: RTL with marks, blacklisted label and cover pages, a failed
    relevance filter, no blacklist row, and a span without a media_ref."""

    def doc(doc_id, pages):
        spans, offset = [], 0
        for ref, lines in pages:
            spans.append({"kind": "media", "text": "", "media_ref": ref, "offset": offset})
            offset += 1
            for line in lines:
                spans.append({"kind": "text", "text": line, "media_ref": ref, "offset": offset})
                offset += 1
        # reversed input order: the offset sort is part of the contract
        return {"doc_id": doc_id, "spans": spans[::-1]}

    docs = [
        doc("m_rtl", [
            ("00000001", [f"{_RLM}alif baa{_RLM} jiim", "daal haa-", "waaw zaay"]),
            ("00000002", ["[Colorchecker] page", "ignored line"]),
            ("00000003", [f"taa {_RLM}yaa"]),
        ]),
        doc("m_black", [
            ("00000001", ["Titel Seite"]),
            ("00000002", ["Der Anfang zusam-", "men gesetzt."]),
            ("00000003", ["leer"]),
            ("00000004", ["Ende hier"]),
        ]),
        doc("m_irrelevant", [("00000001", ["nie gesehen"])]),
        doc("m_no_black_row", [("00000001", ["eins zwei", "drei-", "vier"])]),
        doc("m_no_page_rows", [("00000001", ["ohne Seiten Zeilen"])]),
    ]
    docs[1]["spans"].append(
        {"kind": "text", "text": "lose Zeile", "media_ref": None, "offset": 99}
    )
    page_meta = [
        ("m_rtl", "00000001", "[1]", ["title_page"]),
        ("m_rtl", "00000002", "[Colorchecker]", ["chapter"]),
        ("m_rtl", "00000003", "[3]", ["chapter"]),
        ("m_black", "00000001", "[1]", ["cover_front"]),
        ("m_black", "00000002", "[2]", ["chapter"]),
        ("m_black", "00000003", "[Leerseite]", None),
        ("m_black", "00000004", "[4]", ["chapter", "cover_back"]),
        ("m_irrelevant", "00000001", "[1]", ["cover_front"]),
        ("m_no_black_row", "00000001", "[1]", ["chapter"]),
    ]
    page_rows = [
        {"doc_id": d, "media_ref": r, "phys_id": f"PHYS_{i}", "label": lab,
         "log_types": lt}
        for i, (d, r, lab, lt) in enumerate(page_meta)
    ]

    def meta(doc_id, mets_type, pica, langs):
        return {"doc_id": doc_id, "mets_type": mets_type, "pica_type": pica,
                "identifiers": {}, "languages": langs}

    doc_rows = [
        meta("m_rtl", "monograph", "Aa", ["ara", None]),
        meta("m_black", "volume", "Af", ["ger"]),
        meta("m_irrelevant", "periodical", "Aa", ["ger"]),
        meta("m_no_black_row", "issue", "AB", None),
        meta("m_no_page_rows", "additional", "AZ", ["heb"]),
    ]
    return docs, page_rows, doc_rows


def _meta_oracle(corpus, page_rows, doc_rows, dehyphenate):
    """Metadata extract restated in plain Python: relevance filter, page
    blacklist, RTL fold, then the oracle's extract loops."""
    rtl = {
        r["doc_id"]: bool({"ara", "heb", "fas"} & set(r["languages"] or ()))
        for r in doc_rows
        if r["mets_type"] in ("monograph", "volume", "issue", "additional")
        and (r["pica_type"] or "")[1:2] in ("a", "f", "F", "Z", "B")
    }
    black: dict[str, set] = {}
    for r in page_rows:
        if any(t in (r["label"] or "") for t in ("Colorchecker", "Leerseite")) or (
            {"cover_front", "cover_back"} & set(r["log_types"] or ())
        ):
            black.setdefault(r["doc_id"], set()).add(r["media_ref"])
    fn = oracle.extract_document_dehyphenated if dehyphenate else oracle.extract_document
    out, lines_in = {}, {}
    for d in corpus:
        if d["doc_id"] not in rtl:
            continue
        lines_in[d["doc_id"]] = sum(1 for s in d["spans"] if s["kind"] == "text")
        spans = [
            s for s in d["spans"] if s["media_ref"] not in black.get(d["doc_id"], ())
        ]
        if rtl[d["doc_id"]]:
            spans = [
                {**s, "text": " ".join(reversed(oracle.strip_marks(s["text"]).split(" ")))}
                if s["kind"] == "text" else s
                for s in spans
            ]
        out[d["doc_id"]] = [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in fn(spans)
        ]
    return out, lines_in


def test_arrow_metadata_equals_hof_and_oracle(spark):
    """With both metadata dimensions the Arrow tier equals the HOF tier and
    the oracle span for span, metrics included (n_lines_in counts the
    input text spans before the blacklist drop)."""
    from ocrd_odem_spark import gen
    from ocrd_odem_spark.schema import DOC_META_SCHEMA, DOCS_SCHEMA, PAGE_META_SCHEMA

    docs, page_rows, doc_rows = _meta_corpus()
    seeded = gen.make_corpus(5, 30)
    docs += seeded
    page_rows += gen.make_page_meta(5, seeded)
    doc_rows += gen.make_doc_meta(5, seeded)
    docs_df = spark.createDataFrame(docs, DOCS_SCHEMA)
    page_meta = spark.createDataFrame(page_rows, PAGE_META_SCHEMA)
    doc_meta = spark.createDataFrame(doc_rows, DOC_META_SCHEMA)

    for dehyph in (False, True):
        expected, lines_in = _meta_oracle(docs, page_rows, doc_rows, dehyph)
        assert "m_irrelevant" not in expected
        assert any(s[1] == "lose Zeile" for s in expected["m_black"])
        by_mode = {}
        for mode in ("hof", "arrow"):
            df = pipeline.extract(
                docs_df, page_meta=page_meta, doc_meta=doc_meta,
                dehyphenate=dehyph, with_metrics=True, mode=mode,
            )
            rows = df.collect()
            _assert_equal(_spark_result(df), expected)
            by_mode[mode] = {r["doc_id"]: r.asDict() for r in rows}
            for r in rows:
                assert r["n_lines_in"] == lines_in[r["doc_id"]], (mode, r["doc_id"])
        assert by_mode["arrow"] == by_mode["hof"]
    # the RTL fold really ran: marks stripped, tokens right to left
    rtl_text = [s[1] for s in expected["m_rtl"] if s[0] == "text"]
    assert rtl_text[0] == "jiim baa alif" and _RLM not in "".join(rtl_text)


def test_seed_sweep_matches_oracle(spark):
    """Different generator seeds (fresh feature mixes) all match the oracle."""
    from ocrd_odem_spark import gen
    from ocrd_odem_spark.schema import DOCS_SCHEMA

    for seed in (1, 99, 2026):
        corpus = gen.make_corpus(seed, 12)
        df = spark.createDataFrame(corpus, DOCS_SCHEMA)
        actual = _spark_result(pipeline.extract(df, dehyphenate=True))
        expected = _oracle_result(corpus, oracle.extract_document_dehyphenated)
        _assert_equal(actual, expected)


# Characters the columnar extract must treat exactly as Python does: the
# whitespace Python strips and splits at but a " "-only trim would keep
# (\x1c, \x85, \xa0, U+3000, \t), the ODEM punctuation '-', '—', '⸗', '.',
# and characters that are neither (RLM, combining e, long s).
_ADV_CHARS = ["a", "b", "Z", "1", "ſ", "ͤ", "\x1c", "\x85", "\xa0", "　",
              "\t", "—", "⸗", "-", ".", ",", _RLM]
_ADV_ENDINGS = ["", "", "-", "-", "-\t", " -", "a-", "\xa0"]
#: page runs that exercise the wrap chains: a one-token donor, a donor
#: line ending in "-\t" (its remainder ends in '-'), a chain over four
#: lines and a chain whose donor empties
_ADV_CHAINS = [
    ["Anfang wort-", "ein", "Ende hier"],
    ["zu-", "sam-\t men-\t", "gesetzt wird", "es"],
    ["ei-", "ne- lan-", "ge- Ket-", "te- bis", "hier"],
    ["ab-", "cd-", "ef-", "gh"],
    ["xy-", "zz ab-\t", "cd ef"],
]


def _adversarial_corpus(seed: int = 11, n_docs: int = 120):
    """Seeded documents built from ``_ADV_CHARS`` with NULL texts, NULL
    refs (on media and text spans), gapped offsets in shuffled input
    order, and the wrap chains above; plus their metadata rows (RTL and
    irrelevant docs, blacklisted labels and cover pages)."""
    import random

    rng = random.Random(seed)

    def line():
        toks = [
            "".join(rng.choice(_ADV_CHARS) for _ in range(rng.choice((0, 1, 1, 2, 2, 3, 5))))
            for _ in range(rng.randrange(1, 6))
        ]
        return " ".join(toks) + rng.choice(_ADV_ENDINGS)

    docs, page_rows, doc_rows = [], [], []
    for d in range(n_docs):
        doc_id = f"adv{d:03d}"
        spans = []

        def add(kind, text, ref):
            spans.append({"kind": kind, "text": text, "media_ref": ref,
                          "offset": 3 * len(spans) + rng.randrange(3)})

        refs = []
        for p in range(rng.randrange(0, 4)):
            ref = None if rng.random() < 0.15 else f"{p + 1:08d}"
            refs.append(ref)
            if rng.random() < 0.85:
                add("media", rng.choice(["", None, "bild-"]), ref)
            if rng.random() < 0.35:
                lines = list(rng.choice(_ADV_CHAINS))
            else:
                lines = [line() for _ in range(rng.randrange(0, 7))]
            for text in lines:
                text = None if rng.random() < 0.06 else text
                # a stray NULL-ref line mid-page starts a page of its own
                add("text", text, None if rng.random() < 0.08 else ref)
        rng.shuffle(spans)
        docs.append({"doc_id": doc_id, "spans": spans})
        roll = rng.random()
        doc_rows.append({
            "doc_id": doc_id,
            "mets_type": "monograph" if roll > 0.1 else "periodical",
            "pica_type": "Aa",
            "identifiers": {},
            "languages": ["heb"] if roll > 0.7 else (None if roll > 0.6 else ["ger"]),
        })
        for i, ref in enumerate(r for r in refs if r is not None):
            roll = rng.random()
            page_rows.append({
                "doc_id": doc_id, "media_ref": ref, "phys_id": f"PHYS_{i}",
                "label": "[Leerseite]" if roll < 0.15 else f"[{i}]",
                "log_types": ["cover_back"] if 0.15 <= roll < 0.3 else ["chapter"],
            })
    return docs, page_rows, doc_rows


def test_adversarial_arrow_equals_oracle_and_hof(spark):
    """The columnar Arrow tier equals the pure-Python oracle span for span
    on adversarial text — Python-only whitespace, punctuation-only and
    one-character tokens, NULL texts and refs, shuffled gapped offsets,
    wrap chains over three and more lines — with and without
    de-hyphenation and metadata, metrics included.  It equals the HOF tier
    on the documents without NULL refs and without whitespace other than
    " ", where the HOF tier agrees with the oracle.  All variants are
    collected in one action."""
    from pyspark.sql import functions as F

    from ocrd_odem_spark.schema import DOC_META_SCHEMA, DOCS_SCHEMA, PAGE_META_SCHEMA

    docs, page_rows, doc_rows = _adversarial_corpus()
    docs_df = spark.createDataFrame(docs, DOCS_SCHEMA)
    page_meta = spark.createDataFrame(page_rows, PAGE_META_SCHEMA)
    doc_meta = spark.createDataFrame(doc_rows, DOC_META_SCHEMA)
    metric_cols = ["n_pages", "n_lines_in", "n_lines_out", "n_tokens_out", "n_dehyphenated"]

    variants = {}
    for dehyph in (False, True):
        for meta in (False, True):
            for mode in ("arrow", "hof"):
                variants[(dehyph, meta, mode, True)] = pipeline.extract(
                    docs_df,
                    page_meta=page_meta if meta else None,
                    doc_meta=doc_meta if meta else None,
                    dehyphenate=dehyph, with_metrics=True, mode=mode,
                )
        variants[(dehyph, False, "arrow", False)] = pipeline.extract(
            docs_df, dehyphenate=dehyph
        ).select("doc_id", "spans", *[F.lit(None).cast("long").alias(c) for c in metric_cols])
    keys = list(variants)
    union = None
    for k, key in enumerate(keys):
        df = variants[key].withColumn("_variant", F.lit(k))
        union = df if union is None else union.unionByName(df)
    got: dict = {key: {} for key in keys}
    for r in union.collect():
        got[keys[r["_variant"]]][r["doc_id"]] = (
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]],
            tuple(r[c] for c in metric_cols),
        )

    # the oracle reads a NULL text line as "" (the RTL fold in _meta_oracle
    # needs the string)
    as_text = [
        {**d, "spans": [{**s, "text": "" if s["text"] is None and s["kind"] == "text"
                         else s["text"]} for s in d["spans"]]}
        for d in docs
    ]
    # the HOF tier's token trim cuts at " " only, its wrap split at Java's
    # ASCII \s, and it reads two NULL refs as different pages: compare it
    # where none of that shows
    hof_alike = {
        d["doc_id"] for d in docs
        if all(s["media_ref"] is not None for s in d["spans"])
        and not any(ch.isspace() and ch != " " for s in d["spans"] for ch in s["text"] or "")
    }
    assert len(hof_alike) >= 20
    # input text spans, counted before the blacklist drop
    lines_in = {d["doc_id"]: sum(s["kind"] == "text" for s in d["spans"]) for d in docs}
    for dehyph in (False, True):
        fn = oracle.extract_document_dehyphenated if dehyph else oracle.extract_document
        plain = _oracle_result(docs, fn)
        meta, _ = _meta_oracle(as_text, page_rows, doc_rows, dehyph)
        assert len(meta) < len(plain)  # some docs fail the relevance filter
        for is_meta, expected in ((False, plain), (True, meta)):
            arrow = got[(dehyph, is_meta, "arrow", True)]
            _assert_equal({k: v[0] for k, v in arrow.items()}, expected)
            for doc_id, spans in expected.items():
                texts = [s[1] for s in spans if s[0] == "text"]
                assert arrow[doc_id][1][:4] == (
                    len(spans) - len(texts), lines_in[doc_id], len(texts),
                    sum(t.count(" ") + 1 for t in texts),
                ), doc_id
            hof = got[(dehyph, is_meta, "hof", True)]
            for doc_id in hof_alike & set(expected):
                assert arrow[doc_id] == hof[doc_id], doc_id
        bare = got[(dehyph, False, "arrow", False)]
        _assert_equal({k: v[0] for k, v in bare.items()}, plain)
