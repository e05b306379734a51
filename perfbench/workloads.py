"""The three benchmark workloads: inputs, warm-up, jobs and output checks.

Each workload drives the engine's public entry points on its generated
files.  ``first_job`` is the first full-size job after set-up; ``job`` is
one iteration of the closed loop.  ``check`` runs after the timed region
and returns (number of jobs whose output is wrong, error messages).
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import gen

# Sizes, chosen so that 22 runs of each workload plus 4 fit in 3420 s on a
# 4-core host (see README.md).
FEATURES_TURNS = 150_000
CURATION_DOCS = 2_000
STORE_DOCS = 5_000
SHARDS = 3
SHARD_DOCS = 500
# catalog tables of the daily_shard store (dedup.write_neardup_store)
STORE = "perfbench_store"
STORE_TABLES = ("_sigs", "_banded")

# one column from every pipeline stage (bench.py's PIPELINE_AGGS
# discipline: a bare count() would let Catalyst prune the windows, the
# as-of fill and the Arrow feature map out of the plan)
FEATURE_AGGS = [
    "count(*) AS n",
    "sum(tokens) AS tokens",                   # Arrow feature map
    "sum(turns_last3) AS turns_last3",         # rolling window
    "sum(session_seq) AS session_seq",         # sessionization
    "max(tool_ffill) AS tool_ffill",           # backfill
    "sum(cast(cast(profile_ts AS timestamp) AS long)) AS profile_ts",  # as-of
    "sum(empathies) AS empathies",
    "sum(CASE WHEN cast(profile_ts AS timestamp) > ts THEN 1 ELSE 0 END) AS leaked",
]
WINDOW_COLS = ["tool_ffill", "session_seq", "turns_last3"]
ASOF_COLS = ["profile_ts", "empathies", "state", "gender", "birthyear", "job", "hasproposal"]


def _same(a: pd.Series, b: pd.Series) -> bool:
    return bool(((a == b) | (a.isna() & b.isna())).all())


class Workload:
    # the workload's own names for rows_per_s and first_job_s
    rate_name: str
    rate_unit: str
    first_name = "first_job_s"
    # the loop runs jobs after the first until --seconds have passed and
    # at least min_loop_jobs ran, and never more than max_loop_jobs
    min_loop_jobs = 1
    max_loop_jobs = 1 << 30
    # layer charged with the final action's own time in a traced run
    action_layer: str
    tracer = None  # set by tracing.Tracer in a traced run

    def __init__(self, seed: int, cache: str, work: str) -> None:
        self.seed = seed
        self.cache = cache
        self.work = work
        self.results: list = []

    @property
    def traced(self) -> bool:
        return self.tracer is not None and bool(self.tracer.stack)

    def collect(self, df) -> list:
        return self.tracer.collect(df) if self.tracer else df.collect()

    def dissect(self, spark, tracer) -> dict:
        """Per-layer numbers the spans cannot give, measured after the loop."""
        return {}

    def cleanup(self, spark) -> None:
        spark.catalog.clearCache()


class Features(Workload):
    """Point-in-time per-turn feature vectors (plans.pipeline)."""

    rate_name, rate_unit = "turns_per_s", "turns/s"
    min_loop_jobs = 6
    action_layer = "textfeats"

    def generate(self) -> None:
        self.data = gen.transcripts_dir(self.cache, self.seed, FEATURES_TURNS)
        self.meta = gen.read_meta(self.data)

    def frames(self, spark):
        return (
            spark.read.parquet(os.path.join(self.data, "transcripts.parquet")),
            spark.read.parquet(os.path.join(self.data, "profile.parquet")),
        )

    def pipeline(self, spark):
        from py_evalfilter_spark.plans.pipeline import feature_pipeline_from_df

        return feature_pipeline_from_df(*self.frames(spark))

    def job(self, spark) -> int:
        row = self.collect(self.pipeline(spark).selectExpr(*FEATURE_AGGS))[0]
        self.results.append(row.asDict())
        return self.meta["turns"]

    first_job = job

    def check(self, spark) -> tuple[int, list[str]]:
        from py_evalfilter_spark import golden
        from py_evalfilter_spark import textcore as tc

        errors = []
        bad = 0
        for r in self.results:
            if r["n"] != self.meta["turns"] or r["leaked"] != 0 or r != self.results[0]:
                bad += 1
        if bad:
            errors.append(f"features: {bad} job results differ or leak: {self.results}")

        # golden allclose on a seed-chosen sample that includes a
        # mega-conversation
        rng = np.random.default_rng([self.seed, 9])
        t_all = pd.read_parquet(os.path.join(self.data, "transcripts.parquet"))
        p_all = pd.read_parquet(os.path.join(self.data, "profile.parquet"))
        convs = t_all["conv_id"].unique()
        sample = set(rng.choice(convs, 8, replace=False).tolist())
        sample.add(self.meta["mega_convs"][int(rng.integers(len(self.meta["mega_convs"])))])
        sample = sorted(sample)
        t = t_all[t_all.conv_id.isin(sample)].reset_index(drop=True)
        p = p_all[p_all.conv_id.isin(sample)].reset_index(drop=True)
        key = ["conv_id", "turn_idx"]
        got = (
            self.pipeline(spark)
            .filter(F.col("conv_id").isin(sample))
            .toPandas()
            .sort_values(key, kind="mergesort")
            .reset_index(drop=True)
        )
        win = golden.golden_windowed(t)
        asof = golden.golden_asof(t, p)
        feats = pd.concat([t[key], golden.golden_rant_stats(t["text"])], axis=1)
        want = (
            win[key + WINDOW_COLS]
            .merge(asof[key + ASOF_COLS], on=key)
            .merge(feats, on=key)
            .sort_values(key, kind="mergesort")
            .reset_index(drop=True)
        )
        names = list(tc.FEATURE_NAMES)
        n_errors = len(errors)
        if len(got) != len(want) or not (got[key] == want[key]).all().all():
            errors.append(f"features: sample rows {len(got)} != golden {len(want)}")
        elif not np.allclose(got[names].to_numpy("float64"), want[names].to_numpy("float64")):
            errors.append("features: text features differ from golden")
        else:
            for c in WINDOW_COLS + ASOF_COLS:
                a, b = got[c], want[c]
                if c in ("session_seq", "turns_last3", "empathies", "birthyear"):
                    a, b = a.astype("Int64"), b.astype("Int64")
                if not _same(a, b):
                    errors.append(f"features: column {c} differs from golden")
            if (got["profile_ts"] > got["ts"]).any():
                errors.append("features: sample has profile_ts > ts")
        if len(errors) > n_errors:
            bad = len(self.results)  # the pipeline itself is wrong
        return bad, errors

    def dissect(self, spark, tracer) -> dict:
        """Marginal cost of each lazy layer: time the pipeline's prefixes
        (scan, + windows, + as-of, + text features), each twice with a
        freshly built plan (a re-run plan would reuse its shuffle files),
        keeping the faster; a layer is charged the difference to the
        prefix before it."""
        from py_evalfilter_spark.functions import textfeats
        from py_evalfilter_spark.operators import asof, windows

        win_aggs = ["count(*)", "sum(turns_last3)", "sum(session_seq)", "max(tool_ffill)"]

        def prefix(name: str) -> list:
            t, p = self.frames(spark)
            if name == "sources":
                return [
                    t.selectExpr("count(*)", "sum(length(text))", "sum(turn_idx)",
                                 "max(ts)", "max(tool)", "max(role)"),
                    p.selectExpr("count(*)", "sum(empathies)", "max(state)"),
                ]
            w = windows.with_session(windows.with_rolling_count(windows.with_backfill(t)))
            if name == "windows":
                return [w.selectExpr(*win_aggs)]
            a = asof.asof_join_union_window(
                w, p, on="ts", by="conv_id", right_ts_alias="profile_ts"
            )
            if name == "asof":
                return [a.selectExpr(
                    *win_aggs, *FEATURE_AGGS[5:],
                    "sum(CASE WHEN profile_ts IS NOT NULL THEN 1 ELSE 0 END) AS matched",
                )]
            return [textfeats.with_rant_stats(a).selectExpr(*FEATURE_AGGS)]

        out, prev = {}, {}
        for name in ("sources", "windows", "asof", "textfeats"):
            best = None
            for _ in range(2):
                frames = prefix(name)
                with tracer.span(f"dissect.{name}", "dissect") as sp:
                    rows = [f.collect()[0] for f in frames]
                c = sp["counters"] = tracer.stage_counters(sp["id"])
                c["s"] = sp["end"] - sp["start"]
                if best is None or c["s"] < best["s"]:
                    best = c
            for k, key in (("s", "self_s"), ("task_s", "task_s"),
                           ("shuffle_bytes", "shuffle_bytes")):
                out[f"{name}.{key}"] = best.get(k, 0.0) - prev.get(k, 0.0)
            if name in ("windows", "asof"):
                out[f"{name}.task_skew"] = best.get("skew", 0.0)
            if name == "asof":
                out["asof.rows_matched"] = float(rows[0]["matched"])
            prev = best
        out["plans.prefix_s"] = best["s"]
        out["plans.prefix_task_s"] = best.get("task_s", 0.0)
        return out

    def describe(self) -> dict:
        return {k: v for k, v in self.meta.items() if k != "mega_convs"}


class Curation(Workload):
    """Corpus curation and near-duplicate collapse (plans.curation)."""

    rate_name, rate_unit = "docs_per_s", "docs/s"
    min_loop_jobs = 2
    # the final action runs decontamination and packing
    action_layer = "corpus"
    observed: dict | None = None

    def generate(self) -> None:
        self.data = gen.corpus_dir(self.cache, self.seed, CURATION_DOCS)
        self.meta = gen.read_meta(self.data)

    def job(self, spark) -> int:
        from py_evalfilter_spark.pinning import PinScope
        from py_evalfilter_spark.plans import curation

        # per-stage row counts are read only in traced jobs
        obs = {} if self.traced else None
        with PinScope() as pins:
            packed = curation.curate_corpus(
                spark, self.data, budget=256, pins=pins, observations=obs
            )
            rows = self.collect(
                packed.groupBy("source").agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.count_distinct("pack_id").alias("n_packs"),
                    F.sum("n_tokens").alias("sum_tokens"),
                    F.sort_array(F.collect_list("doc_id")).alias("ids"),
                )
            )
        if obs:
            self.observed = {k: o.get.get("rows", 0) for k, o in obs.items()}
        # persisted frames are matched by plan: never serve the next
        # iteration from this one's cache
        spark.catalog.clearCache()
        self.results.append(sorted(tuple(r) for r in rows))
        return self.meta["docs"]

    first_job = job

    def check(self, spark) -> tuple[int, list[str]]:
        errors = []
        digests = [hashlib.sha256(repr(r).encode()).hexdigest() for r in self.results]
        bad = sum(d != digests[0] for d in digests)
        if bad:
            errors.append(f"curation: result digest differs in {bad} jobs")
        kept = {i for row in self.results[0] for i in row[4]}
        if not kept:
            errors.append("curation: nothing survived")
        missed = [
            (a, b, k) for a, b, k in self.meta["planted"] if a in kept and b in kept
        ]
        if missed:
            errors.append(f"curation: planted duplicates not collapsed: {missed[:10]}")
            bad = len(self.results)
        return bad, errors

    def dissect(self, spark, tracer) -> dict:
        o = self.observed or {}
        kept = o.get("repetition", 0) / o["input"] if o.get("input") else 0.0
        return {"textanalysis.kept_frac": kept}

    def describe(self) -> dict:
        return {"docs": self.meta["docs"], "planted": len(self.meta["planted"])}


class DailyShard(Workload):
    """Standing near-dup store: backfill, then probe + append per shard
    (operators.dedup)."""

    rate_name, rate_unit = "shard_docs_per_s", "docs/s"
    first_name = "backfill_s"
    action_layer = "dedup"
    min_loop_jobs = max_loop_jobs = SHARDS
    unit = "word"

    def generate(self) -> None:
        self.data = gen.shards_dir(self.cache, self.seed, STORE_DOCS, SHARDS, SHARD_DOCS)
        self.meta = gen.read_meta(self.data)

    def _path(self, name: str) -> str:
        return os.path.join(self.data, f"{name}.parquet")

    def first_job(self, spark) -> int:
        """Backfill: write the standing corpus's signature store."""
        from py_evalfilter_spark.operators import dedup

        store = spark.read.parquet(self._path("store"))
        sigs = dedup.minhash_signatures(store, "doc_id", "text", unit=self.unit)
        dedup.write_neardup_store(sigs, STORE)
        return self.meta["store_docs"]

    def job(self, spark) -> int:
        """Probe the next shard against the store, then fold it in."""
        from py_evalfilter_spark.operators import dedup

        k = len(self.results)
        old_sigs, old_banded = dedup.read_neardup_store(spark, STORE)
        new = spark.read.parquet(self._path(f"shard{k}"))
        old = spark.read.parquet(
            self._path("store"), *[self._path(f"shard{j}") for j in range(k)]
        )
        pairs = self.collect(
            dedup.minhash_lsh_pairs_incremental(
                new, old, "doc_id", "text", unit=self.unit,
                old_sigs=old_sigs, old_banded=old_banded,
            ).select("doc_id", "dup_id")
        )
        dedup.append_neardup_store(
            dedup.minhash_signatures(new, "doc_id", "text", unit=self.unit), STORE
        )
        self.results.append(sorted((int(a), int(b)) for a, b in pairs))
        return self.meta["shard_docs"]

    def expected_pairs(self, spark) -> set[tuple[int, int]]:
        """Full minhash_lsh_pairs over store + every shard, once per seed."""
        path = os.path.join(self.data, "expected_pairs.json")
        if not os.path.isfile(path):
            from py_evalfilter_spark.operators import dedup

            docs = spark.read.parquet(
                self._path("store"), *[self._path(f"shard{j}") for j in range(SHARDS)]
            )
            pairs = dedup.minhash_lsh_pairs(
                docs, "doc_id", "text", unit=self.unit
            ).select("doc_id", "dup_id").collect()
            with open(path + ".tmp", "w") as f:
                json.dump(sorted((int(a), int(b)) for a, b in pairs), f)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            return {tuple(p) for p in json.load(f)}

    def check(self, spark) -> tuple[int, list[str]]:
        full = self.expected_pairs(spark)
        n_store, m = self.meta["store_docs"], self.meta["shard_docs"]
        errors = []
        bad = 0
        for k, got in enumerate(self.results):
            lo, hi = n_store + k * m, n_store + (k + 1) * m
            # ids grow with shard order, so a pair belongs to the shard of
            # its larger id: the shard that first sees both documents
            want = {p for p in full if lo <= p[1] < hi}
            if set(got) != want or len(got) != len(want):
                bad += 1
                errors.append(
                    f"daily_shard: shard {k} pairs {len(got)} != expected {len(want)}"
                )
        if not any(self.results):
            errors.append("daily_shard: no pairs found in any shard")
            bad = len(self.results)
        return bad, errors

    def dissect(self, spark, tracer) -> dict:
        files = 0
        for suffix in STORE_TABLES:
            for _, _, names in os.walk(os.path.join(self.work, "warehouse", STORE + suffix)):
                files += sum(not n.startswith((".", "_")) for n in names)
        return {
            "dedup.pairs": float(sum(len(r) for r in self.results)),
            "dedup.store_files": float(files),
        }

    def cleanup(self, spark) -> None:
        for suffix in STORE_TABLES:
            spark.sql(f"DROP TABLE IF EXISTS {STORE}{suffix}")
        super().cleanup(spark)

    def describe(self) -> dict:
        return self.meta


WORKLOADS = {"features": Features, "curation": Curation, "daily_shard": DailyShard}
