"""The literal character classes of the columnar extract, pinned against
Python's own string methods over every code point.

The Arrow tier trims and classifies tokens with ``pyarrow.compute`` kernels
given ``PY_WHITESPACE`` / ``ODEM_PUNCTUATIONS`` as explicit sets, while the
oracle uses ``str.strip()`` / ``str.split()``; these tests keep the two
definitions of whitespace the same.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc

from ocrd_odem_spark.constants import ODEM_PUNCTUATIONS, PY_WHITESPACE
from ocrd_odem_spark.plans import pipeline

#: every code point UTF-8 can carry (surrogates cannot be encoded)
_CHARS = [chr(c) for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]


def test_whitespace_set_is_python_isspace():
    assert len(set(PY_WHITESPACE)) == len(PY_WHITESPACE)
    assert sorted(PY_WHITESPACE) == [c for c in _CHARS if c.isspace()]


def test_trim_matches_strip_on_every_code_point():
    samples = [c + "x" + c + c for c in _CHARS]
    got = pc.utf8_trim(pa.array(samples), characters=PY_WHITESPACE).to_pylist()
    assert got == [s.strip() for s in samples]


def test_clean_line_class_matches_split_on_every_code_point():
    """A line the token pass leaves as it is holds no ODEM punctuation and
    no whitespace but " ", so splitting it on " " equals ``str.split()``."""
    lines = ["ab" + c + "cd" for c in _CHARS]
    clean = pc.match_substring_regex(pa.array(lines), pipeline._CLEAN_LINE).to_pylist()
    assert clean == [
        c not in ODEM_PUNCTUATIONS and (c == " " or not c.isspace()) for c in _CHARS
    ]
    assert all(line.split() == line.split(" ") for line, ok in zip(lines, clean) if ok)
