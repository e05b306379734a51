"""Semantic clustering for curation (SemDeDup-family, Abbas et al. 2023 —
public paper): deterministic fixed-iteration Lloyd's k-means over an
embedding column, cluster assignment, and within-cluster cosine near-dup
pairs.  The SemDeDup trick is the partitioner: near-dup search inside
clusters is O(Σ|cluster|²) instead of O(n²), and clusters are also the
unit for diversity-aware mixing/pruning.

Engine shape — everything is DataFrame ops:
  * init: the k rows with the smallest md5(id:seed) (the engine's standard
    deterministic uniform shuffle) are the seed centroids.
  * assign: cross join against the BROADCAST k-row centroid table, L2²
    via zip_with/aggregate (JVM), argmin via min(struct(dist, cid)) — a
    k×n row pass, never a k×dim expression tree (at dim 768 × k 32 an
    inlined distance expression is ~25k plan nodes; the join form is
    plan-size O(1)).
  * update: posexplode the assigned vectors, per-(cid, dim) avg — one
    map-side-combinable groupBy; the k×dim result collects to the driver
    (bounded by contract, like the categorical-domain collects).
  * Each iteration's centroids are ROUNDED (default 6 dp).  This is the
    cross-engine determinism contract: double summation order differs
    between Spark partitions and any oracle engine, so raw means drift in
    the last ulps; rounding at every iteration re-synchronizes both sides
    (same discipline as the bench hash conventions).  Empty clusters keep
    their previous centroid.

The fit is iterative (Lloyd's), but because iterations are FIXED and every
step is relational, the whole fit unrolls into plain SQL — the
`semantic_cluster` catalog query carries a full DuckDB oracle with one CTE
chain per iteration, not a rows-only justification.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dist2(vec_col: str, cvec_col: str):
    return F.aggregate(
        F.zip_with(F.col(vec_col), F.col(cvec_col), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _round_half_up(x: "np.ndarray", decimals: int) -> "np.ndarray":
    """Round-half-away-from-zero, matching Spark SQL's ROUND (HALF_UP) so
    the Arrow paths' round(…,N) parity contract with the join paths holds
    even at exact dyadic .5 decimal boundaries (e.g. 0.03125 at 4 dp),
    where np.round's banker's rounding diverges (ADVICE r5)."""
    scale = 10.0 ** decimals
    return np.copysign(np.floor(np.abs(x) * scale + 0.5) / scale, x)


def _centroid_df(spark, centroids: list[list[float]]) -> DataFrame:
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)], "cid int, cvec array<double>"
    )


# Above this k the broadcast-crossJoin assign (n·k rows through codegen)
# loses to one BLAS matmul per Arrow batch; measured crossover is far
# lower, but small k keeps the oracle-mirrored join plan for the catalog.
ARROW_ASSIGN_MIN_K = 32


def _use_arrow(k: int) -> bool:
    """The one kernel-selection point for assign, fit and pairs: the Arrow
    kernels from ARROW_ASSIGN_MIN_K centroids up, the join plans below
    (the constant is read at call time)."""
    return k >= ARROW_ASSIGN_MIN_K


def _assign_join(d: DataFrame, centroids: list[list[float]], id_col: str) -> DataFrame:
    """Nearest centroid via broadcast crossJoin + struct-min argmin.  The
    vector rides THROUGH the argmin aggregation (any_value is
    deterministic here: vec is functionally dependent on the group key)
    instead of joining the argmin frame back to `d` — one shuffle per
    iteration, not two (VERDICT r4 #5)."""
    spark = d.sparkSession
    cent = F.broadcast(_centroid_df(spark, centroids))
    scored = d.crossJoin(cent).withColumn("_d2", F.round(_dist2("vec", "cvec"), 8))
    return (
        scored.groupBy(id_col)
        .agg(
            F.min(F.struct(F.col("_d2"), F.col("cid"))).alias("_best"),
            F.any_value("vec").alias("vec"),
        )
        .select(
            id_col, "vec",
            F.col("_best.cid").alias("cluster"),
            F.col("_best._d2").alias("dist2"),
        )
    )


def _assign_arrow(d: DataFrame, centroids: list[list[float]], id_col: str) -> DataFrame:
    """Nearest centroid via a scalar struct pandas_udf: one BLAS matmul
    per Arrow batch against the k×dim centroid matrix closed over by the
    UDF (task-broadcast once per executor).  Map-only — no crossJoin row
    blow-up, no shuffle; at k=1024/n=1M the join path pushes 1G rows
    through codegen while this is ~65 GFLOP of dgemm.  Parity with the
    join path is the round(…,8) contract: ‖x‖²−2x·c+‖c‖² differs from the
    sequential zip_with sum only in last-ulp accumulation order, and both
    sides round to 8 dp before the argmin; ties at 8 dp break to the
    lowest cid on both (np.argmin takes the first minimum index,
    struct-min compares cid second) — fuzz-pinned by
    tests/test_dedup_similarity.py::test_assign_arrow_join_parity."""
    C = np.asarray(centroids, dtype=np.float64)
    c_norm2 = (C * C).sum(axis=1)

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("cluster", T.IntegerType()),
                T.StructField("dist2", T.DoubleType()),
            ]
        )
    )
    def _nearest(vecs: pd.Series) -> pd.DataFrame:
        if len(vecs) == 0:
            return pd.DataFrame({"cluster": pd.array([], dtype="int32"),
                                 "dist2": pd.array([], dtype="float64")})
        X = np.stack(vecs.to_numpy()).astype(np.float64, copy=False)
        d2 = _round_half_up(
            (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + c_norm2[None, :], 8
        )
        cid = d2.argmin(axis=1)
        return pd.DataFrame(
            {"cluster": cid.astype("int32"),
             "dist2": d2[np.arange(len(cid)), cid]}
        )

    return d.select(
        id_col, "vec", _nearest("vec").alias("_b")
    ).select(
        id_col, "vec",
        F.col("_b.cluster").alias("cluster"),
        F.col("_b.dist2").alias("dist2"),
    )


def _update_partials_arrow(d: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """One fused assign+partial-update map pass for a Lloyd iteration:
    each partition streams its Arrow batches through the nearest-centroid
    matmul and accumulates per-cluster (sum, count) locally, emitting
    k×dim tiny rows (cluster, dim, s, c) at partition end — the
    treeAggregate shape MLlib's k-means uses.  Replaces the
    posexplode(vec) update (n·dim generated rows + shuffle per iteration:
    64M rows at n=1M/dim=64) with a shuffle of partitions·k·dim
    micro-rows; only the vec column crosses Arrow, and the ids never
    move at all.  Same distance/argmin contract as _assign_arrow; the
    resulting means are rounded to the fit's round_decimals, which is
    what makes the partial-sum order difference immaterial (the same
    argument that already covers JVM avg() vs numpy)."""
    C = np.asarray(centroids, dtype=np.float64)
    c_norm2 = (C * C).sum(axis=1)
    k, dim = C.shape

    def emit(batches):
        sums = np.zeros((k, dim))
        cnts = np.zeros(k, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["vec"].to_numpy()).astype(np.float64, copy=False)
            d2 = _round_half_up(
                (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + c_norm2[None, :], 8
            )
            cid = d2.argmin(axis=1)
            np.add.at(sums, cid, X)
            cnts += np.bincount(cid, minlength=k)
        live = np.nonzero(cnts)[0]
        if len(live):
            yield pd.DataFrame(
                {
                    "cluster": np.repeat(live, dim).astype("int32"),
                    "dim": np.tile(np.arange(dim, dtype="int32"), len(live)),
                    "s": sums[live].ravel(),
                    "c": np.repeat(cnts[live], dim),
                }
            )

    return d.select("vec").mapInPandas(
        emit, "cluster int, dim int, s double, c long"
    )


def _assign_topm_join(
    d: DataFrame, centroids: list[list[float]], id_col: str, m: int
) -> DataFrame:
    """(id, vec, cluster) with one row per (doc, one of its m nearest
    centroids) — broadcast crossJoin + per-id row_number over (d2, cid).
    The window shuffle keys on id, same volume as the single-assign
    groupBy; ties break to the lowest cid like _assign_join's struct-min."""
    spark = d.sparkSession
    from pyspark.sql import Window

    cent = F.broadcast(_centroid_df(spark, centroids))
    scored = d.crossJoin(cent).withColumn("_d2", F.round(_dist2("vec", "cvec"), 8))
    w = Window.partitionBy(id_col).orderBy("_d2", "cid")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= m)
        .select(id_col, "vec", F.col("cid").alias("cluster"))
    )


def _assign_topm_arrow(
    d: DataFrame, centroids: list[list[float]], id_col: str, m: int
) -> DataFrame:
    """Arrow variant of the top-m assign: the same one-matmul-per-batch
    pass as _assign_arrow, argsort instead of argmin (stable sort → ties
    to the lowest cid, the shared contract), exploded to one row per
    (doc, rank < m).  Map-only like its single-assign sibling."""
    C = np.asarray(centroids, dtype=np.float64)
    c_norm2 = (C * C).sum(axis=1)
    m = min(m, len(centroids))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _topm(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        X = np.stack(vecs.to_numpy()).astype(np.float64, copy=False)
        d2 = _round_half_up(
            (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + c_norm2[None, :], 8
        )
        idx = np.argsort(d2, axis=1, kind="stable")[:, :m].astype("int32")
        return pd.Series(list(idx))

    return d.select(
        id_col, "vec", F.explode(_topm("vec")).alias("cluster")
    )


def _assign_topm(
    d: DataFrame, centroids: list[list[float]], id_col: str, m: int
) -> DataFrame:
    if _use_arrow(len(centroids)):
        return _assign_topm_arrow(d, centroids, id_col, m)
    return _assign_topm_join(d, centroids, id_col, m)


def _assign(d: DataFrame, centroids: list[list[float]], id_col: str) -> DataFrame:
    """(id, vec, cluster, dist2) — nearest centroid by L2², ties to the
    lowest cid."""
    if _use_arrow(len(centroids)):
        return _assign_arrow(d, centroids, id_col)
    return _assign_join(d, centroids, id_col)


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 3,
    seed: int = 42,
    round_decimals: int = 6,
    pin_input: bool = True,
) -> list[list[float]]:
    """Fixed-iteration deterministic Lloyd's; returns the k centroids
    (k × dim floats — driver-bounded by contract).  The prepared vector
    frame is pinned for the fit's lifetime (the seed sort plus every
    iteration's assign + update reads it — 2·iters+1 upstream re-reads
    otherwise) and released before returning: the fit ends in a collect,
    so unlike the pair operators it owns its own eviction boundary.
    `pin_input=False` skips the cache and re-scans the source each pass —
    for parquet-backed inputs the iteration passes consume ONLY the vector
    column, and a columnar re-scan can beat the cache round-trip (the
    cache materializes and deserializes id+vec rows; see
    BENCH/BASELINE.md round 5 for the measured comparison)."""
    from ..pinning import PinScope

    d = df.select(
        F.col(id_col).alias("_kid"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("vec"),
    )
    with PinScope() as fit_pins:
        if pin_input:
            d = fit_pins.pin(d)
        seeds = (
            d.orderBy(
                F.md5(F.concat_ws(":", F.col("_kid"), F.lit(seed))), F.col("_kid")
            )
            .limit(k)
            .collect()
        )
        if len(seeds) < k:
            raise ValueError(
                f"kmeans_fit: k={k} but the input has only {len(seeds)} rows"
            )
        centroids = [[round(float(x), round_decimals) for x in r["vec"]] for r in seeds]
        for _ in range(iters):
            if _use_arrow(k):
                # fused assign+partial-update: one map pass, micro-shuffle
                rows = (
                    _update_partials_arrow(d, centroids)
                    .groupBy("cluster", "dim")
                    .agg((F.sum("s") / F.sum("c")).alias("m"))
                    .collect()
                )
            else:
                assigned = _assign_join(d, centroids, "_kid")
                rows = (
                    assigned.select("cluster", F.posexplode("vec").alias("dim", "val"))
                    .groupBy("cluster", "dim")
                    .agg(F.avg("val").alias("m"))
                    .collect()
                )
            new: dict[int, dict[int, float]] = {}
            for r in rows:
                new.setdefault(r["cluster"], {})[r["dim"]] = round(
                    float(r["m"]), round_decimals
                )
            centroids = [
                [new[c][i] for i in range(len(centroids[c]))] if c in new else centroids[c]
                for c in range(k)
            ]
    return centroids


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """df + (cluster, dist2) under fixed centroids."""
    d = df.select(
        F.col(id_col).alias("_kid"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("vec"),
    )
    out = _assign(d, centroids, "_kid").select(
        F.col("_kid").alias(id_col), "cluster", F.round("dist2", 4).alias("dist2")
    )
    return df.join(out, id_col)


def _sim_hits(S: "np.ndarray", threshold: float):
    """(rows, cols, rounded_vals) with round(S,4) >= threshold, WITHOUT
    rounding the full similarity block: a value below threshold−1e-4
    cannot round up to threshold (4-dp rounding moves a value by at most
    5e-5 + ulp), so the raw-value prefilter is exact-equivalent and the
    round(…,4) parity contract runs only on the hits.  Measured: at a
    candidate mass of ~3G the full-matrix np.round pass was a material
    slice of the pairs stage wall — the threshold scan itself (one
    comparison per candidate) is the irreducible part."""
    rr, cc = np.nonzero(S >= threshold - 1e-4)
    vals = _round_half_up(S[rr, cc], 4)
    keep = vals >= threshold
    return rr[keep], cc[keep], vals[keep]


def _pairs_frame(out_a: list, out_b: list, out_s: list) -> pd.DataFrame:
    if not out_a:
        return pd.DataFrame({"doc_id": [], "dup_id": [], "cosine": []})
    return pd.DataFrame(
        {
            "doc_id": np.concatenate(out_a),
            "dup_id": np.concatenate(out_b),
            "cosine": np.concatenate(out_s),
        }
    )


def _bucket_pairs(pdf: pd.DataFrame, threshold: float) -> pd.DataFrame:
    """One bucket's cosine≥threshold pairs, doc_id < dup_id: the strict
    upper triangle of its similarity matrix, row-blocked so ≤4M doubles
    (32 MB) are in flight per task regardless of bucket size.  Shared by
    _pairs_arrow and the diagonal tiles of _pairs_arrow_tiled."""
    n = len(pdf)
    out_a, out_b, out_s = [], [], []
    if n < 2:
        return _pairs_frame(out_a, out_b, out_s)
    pdf = pdf.sort_values("doc_id", kind="mergesort")
    X = np.stack(pdf["vec"].to_numpy()).astype(np.float64, copy=False)
    ids = pdf["doc_id"].to_numpy()
    norms = np.sqrt((X * X).sum(axis=1))
    block = max(16, 4_000_000 // n)
    with np.errstate(divide="ignore", invalid="ignore"):
        for i0 in range(0, n - 1, block):
            i1 = min(i0 + block, n)
            S = (X[i0:i1] @ X.T) / np.outer(norms[i0:i1], norms)
            rr, cc, vals = _sim_hits(S, threshold)  # nan → False, like JVM null
            keep = cc > rr + i0  # strict upper triangle: doc_id < dup_id
            rr, cc, vals = rr[keep], cc[keep], vals[keep]
            if len(rr):
                out_a.append(ids[rr + i0])
                out_b.append(ids[cc])
                out_s.append(vals)
    return _pairs_frame(out_a, out_b, out_s)


def _pairs_arrow(assigned: DataFrame, threshold: float) -> DataFrame:
    """Within-(cluster, sub) cosine≥threshold pairs via grouped
    applyInPandas: each bucket's all-pairs is one BLAS matmul instead of
    |b|² JVM zip_with rows.  Measured at 1M×64-dim, k=1024 (572M
    candidates): 396 s join path → see BENCH/BASELINE.md round 5 for the
    arrow number.  Whole-row grouping is genuinely required here (the
    bucket IS the unit of work), so applyInPandas is the sanctioned
    exception to the scalar-struct-UDF rule.  Parity contract with the
    join path: same dot/(‖a‖·‖b‖) formula, round(…,4) before the
    threshold, ids sorted so doc_id < dup_id, zero-norm rows drop on both
    sides (JVM null / numpy nan) — pinned by
    tests/test_dedup_similarity.py::test_semdedup_pairs_arrow_join_parity."""
    id_type = assigned.schema["doc_id"].dataType.simpleString()
    schema = f"doc_id {id_type}, dup_id {id_type}, cosine double"
    return assigned.groupBy("cluster", "sub").applyInPandas(
        lambda pdf: _bucket_pairs(pdf, threshold), schema
    )


def _pairs_arrow_tiled(
    assigned: DataFrame, threshold: float, tiles: dict[int, int]
) -> DataFrame:
    """EXACT tile-parallel variant of _pairs_arrow for buckets too large
    for one task: a bucket with nb row-blocks becomes nb·(nb+1)/2
    independent (ti ≤ tj) tile tasks — diagonal tiles do their block's
    upper triangle, off-diagonal tiles the full cross-block product — so
    the single-task straggler (measured: the largest k=256 cluster, 15.6k
    vectors = 122M cosines, ~11 s serial at BOTH parallelism levels of
    the round-5 scaling run) parallelizes WITHOUT the recall loss of
    sub-bucket salting: every pair lands in exactly one tile, output is
    set-identical to the untiled path (parity-pinned).  Cost: each row is
    replicated to its nb tiles — shuffle grows by |c|·nb ≈ |c|²/tile_size
    rows for the oversized clusters only."""
    nb_expr = F.lit(1)
    for c, nbv in tiles.items():
        nb_expr = F.when(F.col("cluster") == c, F.lit(nbv)).otherwise(nb_expr)
    blk = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":tile"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        nb_expr.cast("long"),
    ).cast("int")
    with_blk = assigned.withColumn("_nb", nb_expr).withColumn("blk", blk)
    tiled = with_blk.select(
        "cluster",
        "sub",
        "blk",
        "doc_id",
        "vec",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("_nb") - 1),
                lambda o: F.struct(
                    F.least(F.col("blk"), o).alias("ti"),
                    F.greatest(F.col("blk"), o).alias("tj"),
                ),
            )
        ).alias("_t"),
    ).select(
        "cluster", "sub", "doc_id", "vec", "blk",
        F.col("_t.ti").alias("ti"), F.col("_t.tj").alias("tj"),
    )
    id_type = assigned.schema["doc_id"].dataType.simpleString()
    schema = f"doc_id {id_type}, dup_id {id_type}, cosine double"

    def emit(key, pdf):
        ti, tj = int(key[2]), int(key[3])
        if ti == tj:
            return _bucket_pairs(pdf, threshold)
        a = pdf[pdf["blk"] == ti]
        b = pdf[pdf["blk"] == tj]
        out_a, out_b, out_s = [], [], []
        if not len(a) or not len(b):
            return _pairs_frame(out_a, out_b, out_s)
        XA = np.stack(a["vec"].to_numpy()).astype(np.float64, copy=False)
        XB = np.stack(b["vec"].to_numpy()).astype(np.float64, copy=False)
        ia, ib = a["doc_id"].to_numpy(), b["doc_id"].to_numpy()
        na = np.sqrt((XA * XA).sum(axis=1))
        nb_ = np.sqrt((XB * XB).sum(axis=1))
        block = max(16, 4_000_000 // max(len(b), 1))
        with np.errstate(divide="ignore", invalid="ignore"):
            for i0 in range(0, len(a), block):
                i1 = min(i0 + block, len(a))
                S = (XA[i0:i1] @ XB.T) / np.outer(na[i0:i1], nb_)
                rr, cc, vals = _sim_hits(S, threshold)
                if len(rr):
                    x, y = ia[rr + i0], ib[cc]
                    out_a.append(np.minimum(x, y))
                    out_b.append(np.maximum(x, y))
                    out_s.append(vals)
        return _pairs_frame(out_a, out_b, out_s)

    return tiled.groupBy("cluster", "sub", "ti", "tj").applyInPandas(emit, schema)


def semdedup_pairs(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    pins=None,
    max_cluster_size: int | None = 100_000,
    max_candidate_mass: int | None = None,
    tile_size: int | None = 4096,
    multi_assign: int = 1,
) -> DataFrame:
    """Within-cluster cosine ≥ threshold pairs (doc_id < dup_id) — the
    SemDeDup candidate structure: clusters partition the O(n²) search.
    Output feeds graph.dedup_keep_canonical like every other pair op.
    The assignment frame feeds BOTH sides of the cluster self-join, so it
    is pinned like its sibling pair operators (eviction via `pins`).

    Giant-cluster guard (VERDICT r4 #3 — the LSH-S-curve lesson applied to
    the cluster self-join): per-cluster sizes are observed (one ≤k-row
    collect off the pinned assignment), and a cluster larger than
    `max_cluster_size` is salted into ceil(size/max) deterministic
    md5(doc_id) sub-buckets compared only within themselves — bounding its
    candidate mass to ~size·max instead of size².  Salting is chosen over
    re-fitting with larger k because the degenerate corpus that CAUSES a
    giant cluster (near-identical vectors) is exactly the one k-means
    cannot split.  The trade is recall ACROSS sub-buckets of that one
    cluster, and it is reported, not silent: a warning lists every salted
    cluster and its size (an oversized cluster is the signal that k is too
    small for the corpus).  Default 100k ⇒ worst per-cluster candidate
    mass ~10¹⁰·|c|/max — pick max so a sub-bucket's all-pairs fits an
    executor task.

    `max_candidate_mass` additionally bounds the TOTAL predicted candidate
    count (sum of squared bucket sizes, computed from the same observed
    sizes, i.e. for free): the round-5 scale run measured that ordinary -
    not degenerate - cluster sizes make the self-join quadratic long
    before any single cluster is 'giant' (k=64 over 1M docs means 15.6G
    candidates, hours of cosine work; BENCH/BASELINE.md round 5).  When
    set and exceeded, the operator raises up front with the k it would
    take, instead of launching an unpayable join - SemDeDup's k must
    SCALE WITH n (Abbas et al. use n/k around 10^3); this guard is what
    tells you yours doesn't.

    Pair kernel: from k ≥ ARROW_ASSIGN_MIN_K a grouped applyInPandas runs
    one BLAS matmul per bucket (measured 371.8 s → 28.1 s against the
    cluster self-join on 572M candidates at 1M×64-dim/k=1024, identical
    output); smaller k keeps the self-join + JVM cosine, so the small-k
    catalog query runs the oracle-mirrored plan.

    `tile_size` (Arrow kernel only; None disables): a bucket whose pair
    mass exceeds the per-core share of the stage's total work splits into
    EXACT (ti ≤ tj) tile tasks (_pairs_arrow_tiled) so no single cluster
    serializes the stage tail — unlike salting this loses no pairs; it
    only re-partitions the same work.  Tiling is deliberately
    parallelism-aware: the round-5 measurements showed blanket tiling is
    a net LOSS when no bucket dominates (replicated-row shuffle >
    straggler savings), while a degenerate cluster (post-salt sub-bucket
    up to max_cluster_size² /2 pairs in ONE task) genuinely needs it.
    tile_size floors the tile edge.

    `multi_assign` (VERDICT r5 #8 — the cross-cluster recall option):
    each doc enters its `multi_assign` nearest clusters' buckets instead
    of only the argmin one, recovering pairs that a boundary splits
    between adjacent clusters (the r5 k-sweep measured 75,782 pairs at
    k=64 → 26,359 at k=1024 from exactly this loss).  Cost: candidate
    mass grows ~×multi_assign² in the worst case (both members of a pair
    replicated) and the pair output is deduped — a pair found in two
    shared clusters is emitted once (identical cosine both times, so
    distinct() is exact).  The observed-size guards see the REPLICATED
    occupancies, so max_candidate_mass prices the multiplier honestly.
    Default 1 keeps the single-assign plan byte-identical."""
    import math
    import warnings

    from ..pinning import pin as _pin

    from .similarity import cosine_expr

    # assign WITHOUT assign_clusters' full-schema reattach join: the pairs
    # stage only needs (id, vec, cluster), and the id-join shuffles the
    # whole vector payload on BOTH sides just to recover columns that are
    # dropped again — measured as a material slice of the pairs wall at
    # 1M×64-dim (the N→4N scaling run's quasi-fixed disk-bound component).
    # _assign keeps vec through the map, so this is join-free end to end.
    d = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("vec"),
    )
    if multi_assign > 1:
        assigned = _pin(_assign_topm(d, centroids, "doc_id", multi_assign), pins)
    else:
        assigned = _pin(
            _assign(d, centroids, "doc_id").select("doc_id", "vec", "cluster"),
            pins,
        )
    dedup_pairs = (lambda out: out.distinct()) if multi_assign > 1 else (lambda out: out)
    sub = F.lit(0)
    sizes: dict[int, int] | None = None
    over: dict[int, int] = {}
    if max_cluster_size is not None or max_candidate_mass is not None:
        sizes = {
            r["cluster"]: r["n"]
            for r in assigned.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()  # bounded by k rows
        }
        cap = max_cluster_size if max_cluster_size is not None else max(
            sizes.values(), default=1
        )
        over = {
            c: math.ceil(n / cap) for c, n in sizes.items() if n > cap
        }
        if max_candidate_mass is not None:
            # predicted post-salt candidate count: Σ_buckets |b|²/2, with a
            # salted cluster's mass ≈ size²/n_sub
            mass = sum(n * n // (2 * over.get(c, 1)) for c, n in sizes.items())
            if mass > max_candidate_mass:
                n_total = sum(sizes.values())
                # observed skew: Σ|b|²/2 over the uniform-cluster mass
                # n²/2k — a uniform k_needed under-recommends exactly when
                # the fit is skewed (measured: k=256 'needed 251' yet was
                # still 1.55× over budget at 1M docs)
                skew = max(1.0, mass * len(sizes) / (n_total * n_total / 2))
                k_needed = math.ceil(
                    skew * n_total * n_total / (2 * max_candidate_mass)
                )
                raise ValueError(
                    f"semdedup_pairs: predicted ~{mass:.2e} candidate pairs "
                    f"over {len(sizes)} buckets exceeds max_candidate_mass="
                    f"{max_candidate_mass:.0e}; the within-cluster self-join "
                    f"would be quadratic in practice.  Re-fit with k ≳ "
                    f"{k_needed} (SemDeDup's k must scale with n) or lower "
                    f"max_cluster_size to force salting"
                )
        if over and max_cluster_size is not None:
            warnings.warn(
                "semdedup_pairs: cluster(s) over max_cluster_size="
                f"{max_cluster_size} salted into sub-buckets (cluster: "
                f"n_sub) {over} — sizes {({c: sizes[c] for c in over})}; "
                "k is likely too small for this corpus",
                stacklevel=2,
            )
            n_sub = F.lit(None).cast("int")
            for c, s in over.items():
                n_sub = F.when(F.col("cluster") == c, F.lit(s)).otherwise(n_sub)
            sub = F.when(
                n_sub.isNotNull(),
                F.pmod(
                    F.conv(
                        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                        16,
                        10,
                    ).cast("long"),
                    n_sub.cast("long"),
                ).cast("int"),
            ).otherwise(F.lit(0))
    assigned = assigned.withColumn("sub", sub)
    if _use_arrow(len(centroids)):
        if tile_size:
            if sizes is None:
                sizes = {
                    r["cluster"]: r["n"]
                    for r in assigned.groupBy("cluster")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()  # bounded by k rows
                }
            # tile ONLY true stragglers: a bucket whose pair mass exceeds
            # the per-core share of the stage's total work would serialize
            # the stage tail; anything smaller tiles at a loss (measured at
            # k=256/1M: blanket tiling slowed pairs 27.8 → 34.2 s at 8
            # cores — the replicated-row shuffle costs more than the tail
            # it saves when no bucket dominates).  The tile edge is sized
            # to the per-core share itself, floored at tile_size.
            import math as _math

            par = max(df.sparkSession.sparkContext.defaultParallelism, 1)
            sub_sizes = {
                c: n // max(over.get(c, 1), 1) for c, n in sizes.items()
            }
            total_mass = sum(
                (n * n // 2) * max(over.get(c, 1), 1)
                for c, n in sub_sizes.items()
            )
            share = total_mass / par
            tile_eff = max(tile_size, int(_math.sqrt(2 * share)) or 1)
            tiles = {
                c: _math.ceil(n / tile_eff)
                for c, n in sub_sizes.items()
                if n * n / 2 > share and n > tile_eff
            }
            tiles = {c: nb for c, nb in tiles.items() if nb > 1}
            if tiles:
                return dedup_pairs(_pairs_arrow_tiled(assigned, threshold, tiles))
        return dedup_pairs(_pairs_arrow(assigned, threshold))
    l, r = assigned.alias("l"), assigned.alias("r")
    return dedup_pairs(
        l.join(
            r,
            (F.col("l.cluster") == F.col("r.cluster"))
            & (F.col("l.sub") == F.col("r.sub")),
        )
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("doc_id"),
            F.col("r.doc_id").alias("dup_id"),
            F.round(cosine_expr(F.col("l.vec"), F.col("r.vec")), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
