"""Seeded inputs for the three benchmark workloads.

Every table is a pure function of (seed, size) and is written once as
parquet under ``<cache>/<kind>-s<seed>-n<size>/``; a later run with the same
seed and size reads the cached files.  The program under test only ever
sees these files.

* transcripts + profile (``features``): the ``input_hint`` schema
  ``(conv_id, turn_idx, role, text, tool, ts)``.  Conversation sizes are
  Zipf-distributed and every 97th conversation is a mega-conversation.
  Text mixes every character class the feature map counts.  The profile
  side table holds 1-4 versions per conversation, and about a third of
  the conversations get a version stamped after their last turn (the
  leakage trap).
* corpus (``curation``): a 30-word-vocabulary document corpus over 20
  sources with its embeddings.  It plants exact duplicates (at least one
  at every size) and near-duplicates (about 5%: one inserted token), each
  copied from a *different* original of at least 60 words, so that the
  near-duplicate stays well above the 0.8 word-3-shingle Jaccard the
  curation flow uses.
* shards (``daily_shard``): a standing corpus plus K shards drawn from the
  same distribution; each shard plants near-duplicates of the standing
  corpus, of earlier shards and of itself.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd

EPOCH_BASE = 1704067200  # 2024-01-01T00:00:00Z
SESSION_GAP_S = 1800

# Character classes the 19-feature map counts (textcore.FEATURE_NAMES):
# katakana, hiragana, kanji, latin, digits, marks, punctuation, full-width
# latin/digits and half-width kana (NFKC edges), and whitespace variants.
_TEXT_TOKENS = [
    "カタカナ", "テスト", "スパーク", "データ", "ｽﾋﾟｰﾄﾞ", "パイプライン",
    "これは", "です", "ながれ", "とても", "すごい", "はやい",
    "変換", "日本語", "処理", "分散", "計算", "集計",
    "spark", "Feature", "pipeline", "JOIN", "Ｆｕｌｌ", "ｗｉｄｔｈ", "token",
    "123", "42", "２０２４", "7", "100000",
    "!", "?", "！", "？", "!?",
    "、", "。", "「", "」", "（", "）", "＆", "ー", "-", "＃", "￥",
]
_MARKS = ["!", "?", "！", "？", "!?"]
_SEPS = [" ", "  ", "　", "\n", "\\n", "\r"]
ROLES = ["user", "assistant", "system", "tool"]
TOOLS = ["search", "exec", "browse", "none"]
STATES = ["tokyo", "osaka", "kyoto", "nagoya", "fukuoka"]
JOBS = ["eng", "sales", "student", "none"]
GENDERS = ["unk", "male", "female"]

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "zh", "es", "fr", "de"]
N_SOURCES = 20
# a near-duplicate inserts one token into a copy of an original with at
# least this many words: word-3-shingle Jaccard is then about (k-4)/(k+1)
# >= 0.93, far enough above 0.8 that MinHash-LSH recall is ~1 - 1e-9
NEAR_DUP_MIN_WORDS = 60
MEGA_EVERY = 97


def _cached(cache_dir: str, key: str, build) -> str:
    """Directory holding ``build(tmp_dir)``'s files for ``key``, built once."""
    out = os.path.join(cache_dir, key)
    if os.path.isfile(os.path.join(out, "meta.json")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def read_meta(data_dir: str) -> dict:
    with open(os.path.join(data_dir, "meta.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# transcripts + profile
# ---------------------------------------------------------------------------


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    n_tok = rng.integers(1, 14, n)
    total = int(n_tok.sum())
    toks = np.asarray(_TEXT_TOKENS, dtype=object)[
        rng.integers(0, len(_TEXT_TOKENS), total)
    ]
    seps = np.asarray(_SEPS + [""], dtype=object)[
        np.where(rng.random(total) < 0.6, rng.integers(0, len(_SEPS), total), len(_SEPS))
    ]
    pieces = (toks + seps).tolist()
    ends = np.cumsum(n_tok)
    starts = ends - n_tok
    return ["".join(pieces[s:e]) for s, e in zip(starts.tolist(), ends.tolist())]


def make_transcripts(seed: int, n_turns: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(transcripts, profile) with at least ``n_turns`` turns."""
    rng = np.random.default_rng([seed, 1])
    sizes: list[int] = []
    while sum(sizes) < n_turns:
        ci = len(sizes)
        k = int(rng.zipf(1.6) % 30) + 3
        if ci % MEGA_EVERY == 0:
            k += int(rng.integers(600, 1200))
        sizes.append(k)
    sizes_a = np.asarray(sizes)
    n_convs = len(sizes_a)
    n = int(sizes_a.sum())
    conv_idx = np.repeat(np.arange(n_convs), sizes_a)
    conv_start = np.cumsum(sizes_a) - sizes_a
    turn_idx = np.arange(n) - np.repeat(conv_start, sizes_a)

    gap = rng.integers(1, 120, n)
    brk = rng.random(n) < 0.06
    gap[brk] = SESSION_GAP_S + rng.integers(60, 7200, int(brk.sum()))
    gap[rng.random(n) < 0.05] = 0  # timestamp ties
    gap[turn_idx == 0] = 0
    start = EPOCH_BASE + rng.integers(0, 30 * 86400, n_convs)
    cum = np.cumsum(gap)
    cum -= np.repeat(cum[conv_start], sizes_a)
    ts = np.repeat(start, sizes_a) + cum
    jitter = np.where(rng.random(n) < 0.04, -rng.integers(1, 30, n), 0)
    ts = ts + jitter

    texts = _texts(rng, n)
    r = rng.random(n)
    marks = rng.integers(0, len(_MARKS), n)
    for i in np.flatnonzero(r < 0.07).tolist():
        if r[i] < 0.02:
            texts[i] = ""  # zero-token doc
        elif r[i] < 0.04:
            texts[i] = _MARKS[marks[i]]
        elif turn_idx[i] > 0:
            texts[i] = texts[i - 1] + "!"  # near-duplicate of the previous turn

    tool = np.asarray(TOOLS, dtype=object)[rng.integers(0, len(TOOLS), n)]
    tool[rng.random(n) >= 0.35] = None
    conv_ids = np.asarray([f"conv_{i:07d}" for i in range(n_convs)], dtype=object)
    transcripts = pd.DataFrame(
        {
            "conv_id": conv_ids[conv_idx],
            "turn_idx": turn_idx.astype("int32"),
            "role": np.asarray(ROLES, dtype=object)[rng.integers(0, len(ROLES), n)],
            "text": texts,
            "tool": tool,
            "ts": pd.to_datetime(ts, unit="s").astype("datetime64[us]"),
        }
    )

    # profile: 1-4 versions per conversation, unique ts per conversation
    ts_min = np.minimum.reduceat(ts, conv_start)
    ts_max = np.maximum.reduceat(ts, conv_start)
    n_ver = rng.integers(1, 5, n_convs)
    pc = np.repeat(np.arange(n_convs), n_ver)
    m = len(pc)
    lo, hi = ts_min[pc], ts_max[pc]
    off = lo + (rng.random(m) * (np.maximum(hi - lo, 1) + 3600)).astype(np.int64) - 3600
    last = np.cumsum(n_ver) - 1
    future = rng.random(n_convs) < 0.3
    off[last[future]] = ts_max[future] + rng.integers(60, 86400, int(future.sum()))
    # unique ts within a conversation: bump each collision past its predecessor
    order = np.lexsort((off, pc))
    pc, off = pc[order], off[order]
    same = np.r_[False, (pc[1:] == pc[:-1]) & (off[1:] <= off[:-1])]
    while same.any():
        off[same] = off[np.flatnonzero(same) - 1] + 1
        same = np.r_[False, (pc[1:] == pc[:-1]) & (off[1:] <= off[:-1])]
    birth = rng.integers(1950, 2010, m)
    birth[rng.random(m) < 0.1] = 0
    profile = pd.DataFrame(
        {
            "conv_id": conv_ids[pc],
            "ts": pd.to_datetime(off, unit="s").astype("datetime64[us]"),
            "empathies": rng.integers(0, 50, m).astype("int64"),
            "hasproposal": rng.random(m) < 0.5,
            "state": np.asarray(STATES, dtype=object)[rng.integers(0, len(STATES), m)],
            "gender": np.asarray(GENDERS, dtype=object)[rng.integers(0, len(GENDERS), m)],
            "birthyear": birth.astype("int64"),
            "job": np.asarray(JOBS, dtype=object)[rng.integers(0, len(JOBS), m)],
        }
    )
    return transcripts, profile


def transcripts_dir(cache_dir: str, seed: int, n_turns: int) -> str:
    def build(out: str) -> dict:
        t, p = make_transcripts(seed, n_turns)
        t.to_parquet(os.path.join(out, "transcripts.parquet"), index=False)
        p.to_parquet(os.path.join(out, "profile.parquet"), index=False)
        sizes = t.groupby("conv_id").size()
        return {
            "turns": len(t),
            "convs": int(sizes.size),
            "mega_convs": sorted(sizes[sizes >= 600].index.tolist()),
            "future_versions": int(
                (p.groupby("conv_id")["ts"].max() > t.groupby("conv_id")["ts"].max()).sum()
            ),
        }

    return _cached(cache_dir, f"features-s{seed}-n{n_turns}", build)


# ---------------------------------------------------------------------------
# document corpus
# ---------------------------------------------------------------------------


def _doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    wc = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(wc.sum()))]
    ends = np.cumsum(wc)
    starts = ends - wc
    w = words.tolist()
    return [" ".join(w[s:e]) for s, e in zip(starts.tolist(), ends.tolist())]


def _insert_token(rng: np.random.Generator, text: str) -> str:
    w = text.split(" ")
    pos = int(rng.integers(0, len(w) + 1))
    return " ".join(w[:pos] + ["dup"] + w[pos:])


def plant_duplicates(
    rng: np.random.Generator,
    texts: list[str],
    targets: np.ndarray,
    originals: np.ndarray,
    n_exact: int,
) -> list[tuple[int, int, str]]:
    """Overwrite ``texts[t]`` for each t in ``targets`` with a copy of a
    distinct original from ``originals``; the first ``n_exact`` copies are
    exact, the rest near-duplicates.  Targets and originals are disjoint,
    so no doc is ever copied onto itself.  Returns (original, copy, kind)
    by position."""
    assert not set(targets.tolist()) & set(originals.tolist())
    src = rng.choice(originals, len(targets), replace=False)
    planted = []
    for k, (t, s) in enumerate(zip(targets.tolist(), src.tolist())):
        exact = k < n_exact
        texts[t] = texts[s] if exact else _insert_token(rng, texts[s])
        planted.append((s, t, "exact" if exact else "near"))
    return planted


def make_corpus(seed: int, n_docs: int) -> tuple[pd.DataFrame, pd.DataFrame, list]:
    rng = np.random.default_rng([seed, 2])
    texts = _doc_texts(rng, n_docs)
    long_ids = np.flatnonzero(
        np.fromiter((t.count(" ") + 1 for t in texts), int, n_docs) >= NEAR_DUP_MIN_WORDS
    )
    n_plant = max(n_docs // 20, 2)
    n_exact = max(n_docs // 600, 1)
    pick = rng.choice(long_ids, 2 * n_plant, replace=False)
    planted = plant_duplicates(rng, texts, pick[:n_plant], pick[n_plant:], n_exact)
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.asarray(LANGS, dtype=object)[rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
        }
    )
    docs["n_chars"] = docs.text.str.len().astype(np.int64)
    cents = rng.standard_normal((10, 64))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    label = rng.integers(0, 10, n_docs)
    v = rng.standard_normal((n_docs, 64)) + 0.57 * cents[label]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(n_docs, dtype=np.int64),
            "embedding": list(v.astype(np.float32)),
            "label": label.astype(np.int32),
        }
    )
    return docs, emb, planted


def corpus_dir(cache_dir: str, seed: int, n_docs: int) -> str:
    def build(out: str) -> dict:
        docs, emb, planted = make_corpus(seed, n_docs)
        docs.to_parquet(os.path.join(out, "documents.parquet"), index=False)
        emb.to_parquet(os.path.join(out, "embeddings.parquet"), index=False)
        return {
            "docs": n_docs,
            "planted": [[int(a), int(b), k] for a, b, k in planted],
        }

    return _cached(cache_dir, f"curation-s{seed}-n{n_docs}", build)


# ---------------------------------------------------------------------------
# daily shard stream
# ---------------------------------------------------------------------------


def make_shards(
    seed: int, n_store: int, n_shards: int, shard_docs: int
) -> tuple[pd.DataFrame, list[pd.DataFrame]]:
    """Standing corpus (ids 0..n_store-1) and ``n_shards`` shards with ids
    continuing after it.  A tenth of each shard is near-duplicates: of the
    standing corpus, of earlier shards, and of the shard's own docs."""
    rng = np.random.default_rng([seed, 3])
    n = n_store + n_shards * shard_docs
    texts = _doc_texts(rng, n)
    long_mask = np.fromiter((t.count(" ") + 1 for t in texts), int, n) >= NEAR_DUP_MIN_WORDS
    per_kind = max(shard_docs // 30, 1)
    for k in range(n_shards):
        lo = n_store + k * shard_docs
        ids = np.arange(lo, lo + shard_docs)
        targets = rng.choice(ids, 3 * per_kind, replace=False)
        own = np.setdiff1d(ids[long_mask[ids]], targets)
        pools = [
            np.flatnonzero(long_mask[:n_store]),
            np.flatnonzero(long_mask[n_store:lo]) + n_store,
            own,
        ]
        for j, pool in enumerate(pools):
            tg = targets[j * per_kind:(j + 1) * per_kind]
            if len(pool) >= len(tg):
                plant_duplicates(rng, texts, tg, pool, 0)
    ids = np.arange(n, dtype=np.int64)
    docs = pd.DataFrame({"doc_id": ids, "text": texts})
    store = docs.iloc[:n_store].reset_index(drop=True)
    shards = [
        docs.iloc[n_store + k * shard_docs: n_store + (k + 1) * shard_docs].reset_index(drop=True)
        for k in range(n_shards)
    ]
    return store, shards


def shards_dir(cache_dir: str, seed: int, n_store: int, n_shards: int, shard_docs: int) -> str:
    def build(out: str) -> dict:
        store, shards = make_shards(seed, n_store, n_shards, shard_docs)
        store.to_parquet(os.path.join(out, "store.parquet"), index=False)
        for k, s in enumerate(shards):
            s.to_parquet(os.path.join(out, f"shard{k}.parquet"), index=False)
        return {"store_docs": n_store, "shards": n_shards, "shard_docs": shard_docs}

    return _cached(
        cache_dir, f"daily_shard-s{seed}-n{n_store}-k{n_shards}x{shard_docs}", build
    )
