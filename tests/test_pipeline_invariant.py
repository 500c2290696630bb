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
