"""Exact-parity tests: vectorized batch_rant_stats ≡ reference rant_stats."""

import unicodedata

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from py_evalfilter_spark import textcore as tc
from py_evalfilter_spark import textcore_fast as tcf
from py_evalfilter_spark.datagen import make_transcripts


def _slow(texts):
    rows = [tc.rant_stats(tc.nfkc(t if isinstance(t, str) else "")) for t in texts]
    return pd.DataFrame(rows, columns=list(tc.FEATURE_NAMES)).astype("float64")


def _assert_equal(texts):
    fast = tcf.batch_rant_stats(texts)
    slow = _slow(texts)
    if not np.allclose(fast.to_numpy(), slow.to_numpy(), equal_nan=True):
        diff = (fast - slow).abs().max()
        raise AssertionError(f"mismatch:\n{diff[diff > 0]}\non texts={texts!r}")


def test_edge_cases():
    _assert_equal(
        [
            "",
            " ",
            "　",
            "!",
            "！？",
            "ー",
            "ーー",
            "\n",
            "\\n",
            "a\\nb",
            "a\nb\rc",
            "²³",  # OTHER-class but str.isdigit() → digit token type
            "½",
            "スパークspark 123です！。",
            "Ｆｕｌｌｗｉｄｔｈ１２３",
            "ｽﾋﾟｰﾄﾞ",
            "変わる毎日",
            '{"k": 87}',
            "\x00\x01",
            "漢字とひらがなとカタカナとlatinと123と!?と。、",
            "a" * 5000,
        ]
    )


def test_lowercase_boundary_codepoints():
    """Codepoints whose .lower() crosses a script-name or length boundary.

    tokenize_rant lowercases before token_counts/token_type_counts
    (textcore.py:165); the vectorized path must evaluate token predicates
    and lengths on the lowercase expansion.  These four were found by
    exhaustive scan below 0x110FF (round-5 verdict) and are pinned here so
    the failure is deterministic, not hypothesis-draw-dependent.
    """
    _assert_equal(
        [
            "İ",  # 'İ' → 'i̇' (2 chars: wrong 1char/2char/avg/alpha ratio)
            "K",  # KELVIN SIGN → 'k' (LATIN-named)
            "Å",  # ANGSTROM SIGN → 'å' (LATIN-named)
            "Ↄ",  # 'Ↄ' → 'ↄ' LATIN SMALL LETTER REVERSED C
            "aİb KÅ ↃↃ",  # inside multi-char runs
            "İ" * 7,  # capped-length interaction (7 raw → 14 lowered)
        ]
    )


def test_sigma_context():
    """U+03A3 is Python's only context-sensitive lowercase mapping (final
    sigma).  'σ' vs 'ς' differ as strings but are identical in length and in
    all five token predicates, so the per-codepoint expansion stays
    feature-exact — pinned here."""
    _assert_equal(["ΑΣ", "ΣΑ", "Σ", "ΑΣ ΒΣ", "aΣ", "Σ1"])


def _named_codepoints() -> list[int]:
    """Every named codepoint below 0x3200 plus the letterlike/numeral and
    halfwidth/fullwidth blocks."""
    ranges = [(0x20, 0x3200), (0x2100, 0x2190), (0xFF00, 0x10000)]
    cps = [cp for lo, hi in ranges for cp in range(lo, hi)]
    return [cp for cp in cps if unicodedata.name(chr(cp), "")]


def test_exhaustive_single_codepoints():
    """Every codepoint of _named_codepoints as a 1-char document: fast ≡
    slow.  Catches any future per-codepoint table drift without waiting for
    a lucky hypothesis draw."""
    texts = [chr(cp) for cp in _named_codepoints()]
    fast = tcf.batch_rant_stats(texts).to_numpy()
    slow = _slow(texts).to_numpy()
    bad = np.flatnonzero(~np.all(np.isclose(fast, slow), axis=1))
    assert bad.size == 0, f"divergent codepoints: {[hex(ord(texts[i])) for i in bad[:20]]}"


def test_dense_tables_match_lookup():
    """The dense per-codepoint tables hold exactly what _lookup computes:
    raw class, lowercase-expansion length, and the five token-type flags
    as bits of one byte."""
    cps = _named_codepoints()
    cls, low_len, flags = tcf._TABLES.gather(np.array(cps, dtype=np.uint32))
    for cp, c, ln, f in zip(cps, cls.tolist(), low_len.tolist(), flags.tolist()):
        want = tcf._lookup(cp)
        got = (c, ln, *[bool(f >> b & 1) for b in range(5)])
        assert got == want, f"{hex(cp)}: tables {got} != _lookup {want}"


def test_scrub_is_per_document():
    """textcore.scrub_newlines runs per text: a backslash ending one text
    and an 'n' starting the next must NOT form a backslash-'n' pair in the
    concatenated batch."""
    _assert_equal(["a\\", "nb"])
    _assert_equal(["\\", "n", "\\", "n\\n"])


def test_scrub_order_edge_cases():
    """scrub_newlines order: '\\n' → ' ', then backslash+'n' → ' ', then
    drop '\\r' — so a '\\r' between backslash and 'n' does not make a pair,
    and a doubled backslash pairs only its second half with the 'n'."""
    _assert_equal(["\\\\n", "x\\\\nx", "\r\n", "a\r\nb", "\\\rn", "a\\\rnb"])
    _assert_equal(["\nstart", "mid", "end\n"])  # newline at batch start/end
    _assert_equal(["\n"])
    _assert_equal(["\\n\\n\\n", "\\nn", "\\\\\\n"])


def test_none_and_empty_mixed():
    _assert_equal([None, "", "a\\", None, "nb", "", "\r", None, "ｶﾞ"])
    _assert_equal(["", None, ""])


def test_datagen_corpus():
    df = make_transcripts(n_convs=40, seed=42)
    _assert_equal(df["text"].tolist())


def test_empty_batch():
    out = tcf.batch_rant_stats([])
    assert out.shape == (0, 19)


def test_none_handling():
    _assert_equal(["abc"])
    fast = tcf.batch_rant_stats([None, "abc"])
    slow = _slow([None, "abc"])
    assert np.allclose(fast.to_numpy(), slow.to_numpy())


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=0, max_codepoint=0x30FF),
            max_size=60,
        ),
        max_size=8,
    )
)
def test_fuzz_bmp_low(texts):
    _assert_equal(texts)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=0x2000, max_codepoint=0x110FF),
            max_size=40,
        ),
        max_size=5,
    )
)
def test_fuzz_high_planes(texts):
    _assert_equal(texts)
