"""Vectorized (numpy) implementation of the 19-field feature map.

Semantics are IDENTICAL to textcore.rant_stats (the readable reference
implementation, itself pinned to /root/reference/src/evalfilter/features.py
per SURVEY.md §2.4); tests/test_textcore_fast.py asserts exact equality on
fixtures, edge cases, and hypothesis-fuzzed unicode.

Why this exists: the straightforward per-char Python path costs ~50µs/turn
and dominates the pipeline; this path classifies codepoints by gathering
from per-process dense codepoint tables (filled lazily, once per codepoint
per worker), derives the scrubbed text and the script runs with array
operations on one UTF-32 code array, and reduces per-document with
bincount — ~10-40x faster inside the same Arrow batch.  After the tables
warm up, NFKC normalization is the largest cost left.

Key identities making this exact (derived from textcore semantics):
  * tokenize_rant LOWERCASES each run surface (textcore.py:165, mirroring
    reference analysis.py:16-19) BEFORE token_counts / token_type_counts, so
    token lengths and type predicates must be evaluated on the lowercase
    expansion, not the raw run: per codepoint we precompute
    ``chr(cp).lower()``'s length and its all-chars predicate flags
    (kata / hira / kanji-or-hira / alpha / isdigit), packed as five bits of
    one uint8; a token's predicates are then the bitwise AND over its
    codepoints' flag bytes and its length the SUM of expansion lengths.  This matters for codepoints whose lowercase
    crosses a script-name or length boundary (U+0130 'İ'→'i̇' len 2,
    U+212A KELVIN→'k', U+212B ANGSTROM→'å', U+2183 'Ↄ'→LATIN-named 'ↄ').
  * Python's str.lower() is context-sensitive only for U+03A3 (final
    sigma): 'σ' vs 'ς' have identical length and identical values for all
    five predicates, so the per-codepoint expansion is feature-exact even
    though it is not string-exact (pinned by test_sigma_context).
  * segmentation (run boundaries, SPACE-drop) uses RAW char classes — the
    reference segments before lowercasing;
  * char-level counts run on the RAW normalized text:
    kata/hira/kanji/alpha/digit name-prefix counts equal class counts
    (precedence can't steal: only 'ー' is both KATAKANA-named and
    PUNCT-set, and it classes KATA); punct = PUNCT-class count + 'ー'
    count; marks = MARK-class count.
"""

from __future__ import annotations

import sys
import unicodedata

import numpy as np
import pandas as pd

from . import textcore as tc

# class ids (order matters only for readability)
KATA, HIRA, KANJI, ALPHA, DIGIT, SPACE, MARK, PUNCT, OTHER = range(9)
_CLS_TO_ID = {
    "KATA": KATA,
    "HIRA": HIRA,
    "KANJI": KANJI,
    "ALPHA": ALPHA,
    "DIGIT": DIGIT,
    "SPACE": SPACE,
    "MARK": MARK,
    "PUNCT": PUNCT,
    "OTHER": OTHER,
}

_PROLONGED = 0x30FC  # 'ー'
_NL, _CR, _SP, _BACKSLASH, _N = 0x0A, 0x0D, 0x20, 0x5C, 0x6E


def _lookup(cp: int) -> tuple[int, int, bool, bool, bool, bool, bool]:
    """cp → (raw class_id, lowercase-expansion length, low all-kata, low
    all-hira, low all-(kanji|hira), low all-alpha, low isdigit): the
    reference that fills the dense tables."""
    ch = chr(cp)
    # token-level predicates and lengths run on the LOWERCASE expansion
    # (tokenize_rant lowercases before token_counts/token_type_counts);
    # the raw class drives segmentation and char counts only.
    low = ch.lower()
    return (
        _CLS_TO_ID[tc._char_class(ch)],
        len(low),
        all(tc.is_katakana(c) for c in low),
        all(tc.is_hiragana(c) for c in low),
        all(tc.is_kanji(c) or tc.is_hiragana(c) for c in low),
        all(tc.is_alphabet(c) for c in low),
        low.isdigit(),
    )


class _CodepointTables:
    """Dense per-codepoint property tables over the whole Unicode range,
    allocated on first use and filled from :func:`_lookup` only for
    codepoints a batch has not seen before (class -1 marks unfilled)."""

    def __init__(self) -> None:
        self.cls: np.ndarray | None = None  # int8 raw class id
        self.low_len: np.ndarray | None = None  # uint8 lowercase length
        # uint8, bit i = _lookup(cp)[2 + i]: the lowercase expansion is
        # all-kata, all-hira, all-(kanji|hira), all-alpha, isdigit
        self.flags: np.ndarray | None = None

    def gather(self, codes: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """codes → (raw class ids, lowercase lengths, flag bytes)."""
        if self.cls is None:
            n = sys.maxunicode + 1
            self.cls = np.full(n, -1, np.int8)
            self.low_len = np.zeros(n, np.uint8)
            self.flags = np.zeros(n, np.uint8)
        cls = self.cls[codes]
        unfilled = cls < 0
        if unfilled.any():
            new = np.unique(codes[unfilled])
            props = [_lookup(cp) for cp in new.tolist()]
            self.cls[new] = [p[0] for p in props]
            self.low_len[new] = [p[1] for p in props]
            self.flags[new] = [
                sum(int(f) << b for b, f in enumerate(p[2:])) for p in props
            ]
            cls = self.cls[codes]
        return cls, self.low_len[codes], self.flags[codes]


_TABLES = _CodepointTables()
_SPACE_CODE = np.array([_SP], np.uint32)


def _encode(texts: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate texts → (codepoint array, per-text lengths)."""
    lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=len(texts))
    joined = "".join(texts)
    # surrogatepass: lone surrogates can't appear in Arrow-delivered strings,
    # but don't let a malformed driver-side string crash the batch
    codes = np.frombuffer(joined.encode("utf-32-le", "surrogatepass"), dtype=np.uint32)
    return codes, lens


def _scrub(codes: np.ndarray, doc: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """textcore.scrub_newlines over the concatenated batch, as positions:
    returns (positions that become ' ', mask of positions kept).  Same order
    as the reference: '\\n' → ' ', then a backslash followed by 'n' IN THE
    SAME DOCUMENT → ' ' (the pair cannot overlap itself, and '\\n' is
    neither of its characters, so every match is independent and can be
    found on the unscrubbed codes), then drop '\\r'."""
    pair = np.flatnonzero(
        (codes[:-1] == _BACKSLASH) & (codes[1:] == _N) & (doc[:-1] == doc[1:])
    )
    keep = codes != _CR
    keep[pair + 1] = False
    return np.concatenate((np.flatnonzero(codes == _NL), pair)), keep


def batch_rant_stats(texts) -> pd.DataFrame:
    """Vectorized rant_stats over an iterable of raw (pre-NFKC) strings.

    Returns a DataFrame with the 19 FEATURE_NAMES columns (float64), row
    order matching the input.
    """
    # textcore.nfkc, without a wrapper call per text
    normed = [
        unicodedata.normalize("NFKC", t) if isinstance(t, str) else "" for t in texts
    ]
    n = len(normed)
    out = np.zeros((n, len(tc.FEATURE_NAMES)), dtype="float64")
    col = {name: i for i, name in enumerate(tc.FEATURE_NAMES)}
    codes, lens = _encode(normed)
    if not codes.size:
        return pd.DataFrame(out, columns=list(tc.FEATURE_NAMES))

    # ---- char counts on the normalized, UNscrubbed text -------------------
    doc = np.repeat(np.arange(n, dtype=np.int64), lens)
    cls, llen, flags = _TABLES.gather(codes)
    cc = np.bincount(doc * 9 + cls, minlength=n * 9).reshape(n, 9)
    prolonged = np.bincount(doc[codes == _PROLONGED], minlength=n)
    out[:, col["kata"]] = cc[:, KATA]
    out[:, col["hira"]] = cc[:, HIRA]
    out[:, col["kanji"]] = cc[:, KANJI]
    out[:, col["alpha"]] = cc[:, ALPHA]
    out[:, col["digit"]] = cc[:, DIGIT]
    out[:, col["marks"]] = cc[:, MARK]
    out[:, col["punct"]] = cc[:, PUNCT] + prolonged

    # ---- token stats on the scrubbed text ---------------------------------
    # the scrubbed text's table rows: the normalized text's rows with the
    # space row written where scrub_newlines writes ' ', minus dropped chars
    to_space, keep = _scrub(codes, doc)
    for table, space_row in zip((cls, llen, flags), _TABLES.gather(_SPACE_CODE)):
        table[to_space] = space_row[0]
    s_cls, s_llen, s_flags, s_doc = cls[keep], llen[keep], flags[keep], doc[keep]
    if not s_doc.size:
        return pd.DataFrame(out, columns=list(tc.FEATURE_NAMES))
    start = np.empty(len(s_doc), dtype=bool)
    start[0] = True
    np.not_equal(s_cls[1:], s_cls[:-1], out=start[1:])
    start[1:] |= s_doc[1:] != s_doc[:-1]
    starts = np.flatnonzero(start)
    tok = s_cls[starts] != SPACE
    run_doc = s_doc[starts][tok]
    # token length = length of the LOWERCASED surface (sum of per-char
    # lowercase-expansion lengths; 'İ' expands to 2 chars)
    run_len = np.add.reduceat(s_llen, starts, dtype=np.int64)[tok]
    # per-token all(...) predicates ⇔ AND over the run's flag bytes,
    # evaluated on the lowercase expansion (textcore.py:165 lowers first)
    run_flags = np.bitwise_and.reduceat(s_flags, starts)[tok]
    capped = np.minimum(run_len, 5)

    hist = np.bincount(run_doc * 5 + (capped - 1), minlength=n * 5).reshape(n, 5)
    total = hist.sum(axis=1)
    out[:, col["1char"]] = hist[:, 0]
    out[:, col["2char"]] = hist[:, 1]
    out[:, col["3char"]] = hist[:, 2]
    out[:, col["4char"]] = hist[:, 3]
    out[:, col["5+char"]] = hist[:, 4]
    out[:, col["tokens"]] = total

    weighted = np.bincount(run_doc, weights=capped, minlength=n)
    safe_total = np.maximum(total, 1)
    out[:, col["avgTokenLength"]] = np.where(total > 0, weighted / safe_total, 0.0)
    for bit, name in enumerate(
        (
            "kataTokensRatio",
            "hiraTokensRatio",
            "kanjiTokensRatio",
            "alphaTokensRatio",
            "digitTokensRatio",
        )
    ):
        tcnt = np.bincount(run_doc[(run_flags >> bit) & 1 == 1], minlength=n)
        out[:, col[name]] = np.where(total > 0, tcnt / safe_total, 0.0)

    return pd.DataFrame(out, columns=list(tc.FEATURE_NAMES))
