"""Point-in-time (as-of) join — SURVEY.md §2.6 J3, the north_rule centerpiece.

Semantics: for each left row, attach the single right row with the same key
and the greatest ``right.ts <= left.ts`` (direction='backward', exact matches
allowed).  Zero temporal leakage by construction: a right row with
``ts > left.ts`` can never be selected.

Physical strategies (scale-first):
  * :func:`asof_join_union_window` (the pipeline default, JVM only): the
    right side is hash-partitioned on ``by`` and unioned with the left; one
    window pass on ``by`` forward-fills the matched right row.  When the
    left already carries ``hashpartitioning(by)`` — a window chain on
    ``by`` upstream — the union keeps that partitioning, so the as-of
    window only sorts and ONLY the small right side shuffles (the
    co-partition-once plan of temporal-join processing); a left side
    without it gets one Exchange over the union;
  * :func:`asof_join` (cogroup): both sides are hash-partitioned on
    ``pmod(xxhash64(key), num_buckets)`` via ``groupBy(bucket).cogroup`` —
    ONE co-partitioning shuffle each, no broadcast of the big side, no row
    explosion (unlike a range-join + dedup, which shuffles |matches| rows);
    ``num_buckets`` decouples task count from key cardinality, and inside
    each bucket a single vectorized ``pd.merge_asof(by=key)`` runs a
    sort-merge in C — no per-row Python (input_hint);
  * either way a mega-key cannot straddle partitions (placement is a
    function of the key), so results are exact under skew; AQE handles
    residual partition imbalance.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_BUCKET = "__asof_bucket"


def asof_join_union_window(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str = "conv_id",
    right_ts_alias: str | None = None,
    tolerance_s: int | None = None,
) -> DataFrame:
    """Backward as-of join with identical semantics to :func:`asof_join`,
    implemented entirely JVM-side (the pipeline default).

    Strategy: tag and union both sides, then one window pass
    ``partitionBy(by).orderBy(on, side)`` forward-fills a single struct of
    ALL right columns onto later left rows (right sorts before left at
    equal ``on`` so exact matches are visible — merge_asof
    allow_exact_matches=True semantics; the struct fill guarantees every
    right column comes from the same matched row, including its NULLs);
    finally keep only left rows and unpack the struct.

    vs the cogroup/merge_asof variant: no Arrow round-trip of the (wide)
    left columns, whole-stage-codegen window, and a left side that is
    already hash-partitioned on ``by`` (by upstream windows) is not
    shuffled again — only the right side is.  Ties among right rows at the
    same (by, on) resolve to the last in order — same as merge_asof.
    """
    right_ts_alias = right_ts_alias or f"{on}_right"
    rv_names = [f.name for f in right.schema.fields if f.name not in (by, on)]

    # ONE struct of (right ts, all right value columns) is forward-filled —
    # never the columns independently — so every output column comes from
    # the SAME matched right row.  Per-column last(ignorenulls) would pull a
    # value column from an OLDER right row whenever the matched row holds
    # NULL in that column, diverging from pd.merge_asof (which attaches the
    # matched row's NULL) and leaking around the tolerance cut.
    rstruct_type = T.StructType(
        [T.StructField("__rts", right.schema[on].dataType, True)]
        + [T.StructField(c, right.schema[c].dataType, True) for c in rv_names]
    )
    lt = left.select(
        "*",
        F.lit(1).alias("__side"),
        F.lit(None).cast(rstruct_type).alias("__rstruct"),
    )
    left_nulls = [
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in left.schema.fields
        if f.name not in (by, on)
    ]
    # hash-partition the (small) right side on ``by``: when the left already
    # carries hashpartitioning(by) — e.g. from a window chain on ``by`` —
    # the union keeps that partitioning and the as-of window only sorts,
    # so the big side is not shuffled again
    rt = right.repartition(F.col(by)).select(
        F.col(by),
        F.col(on),
        *left_nulls,
        F.lit(0).alias("__side"),
        F.struct(
            F.col(on).alias("__rts"), *[F.col(c) for c in rv_names]
        ).alias("__rstruct"),
    ).select(*lt.columns)  # align column order with the left branch

    w = (
        Window.partitionBy(by)
        .orderBy(F.col(on).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = rt.unionByName(lt).withColumn(
        "__rstruct", F.last("__rstruct", ignorenulls=True).over(w)
    )
    out = filled.filter(F.col("__side") == 1).drop("__side")
    if tolerance_s is not None:
        # staleness from the matched row's own ts; a stale match nulls the
        # WHOLE struct (ts + all value columns together)
        stale = (
            F.col(on).cast("timestamp").cast("long")
            - F.col("__rstruct.__rts").cast("timestamp").cast("long")
        )
        out = out.withColumn(
            "__rstruct",
            F.when(stale <= tolerance_s, F.col("__rstruct")).otherwise(
                F.lit(None).cast(rstruct_type)
            ),
        )
    return out.select(
        *[c for c in left.columns],
        F.col("__rstruct.__rts").alias(right_ts_alias),
        *[F.col(f"__rstruct.{c}").alias(c) for c in rv_names],
    )


def _pandas_dtype(spark_type: T.DataType) -> str | None:
    """Nullable pandas dtype for right-side columns that may become null."""
    if isinstance(spark_type, (T.ByteType, T.ShortType, T.IntegerType)):
        return "Int32"
    if isinstance(spark_type, T.LongType):
        return "Int64"
    if isinstance(spark_type, T.BooleanType):
        return "boolean"
    if isinstance(spark_type, (T.FloatType, T.DoubleType)):
        return "float64"
    return None


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str = "conv_id",
    right_ts_alias: str | None = None,
    num_buckets: int | None = None,
    tolerance_s: int | None = None,
) -> DataFrame:
    """Backward as-of join of ``right`` onto ``left`` on (by, on).

    Right's ``on`` column is kept as ``right_ts_alias`` (default
    ``f"{on}_right"``) so leakage is auditable downstream.
    ``tolerance_s``: optional max staleness — matches older than this many
    seconds are dropped (pd.merge_asof tolerance).
    """
    right_ts_alias = right_ts_alias or f"{on}_right"
    if num_buckets is None:
        num_buckets = int(left.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))

    right_value_fields = [f for f in right.schema.fields if f.name not in (by, on)]
    out_fields = list(left.schema.fields)
    out_fields.append(T.StructField(right_ts_alias, right.schema[on].dataType, True))
    for f in right_value_fields:
        out_fields.append(T.StructField(f.name, f.dataType, True))
    out_schema = T.StructType(out_fields)

    left_cols = [f.name for f in left.schema.fields]
    rv_names = [f.name for f in right_value_fields]
    rv_dtypes = {f.name: _pandas_dtype(f.dataType) for f in right_value_fields}
    rv_dtypes[right_ts_alias] = None
    tol = pd.Timedelta(seconds=tolerance_s) if tolerance_s is not None else None

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        lpdf = lpdf.drop(columns=[_BUCKET]).sort_values(on, kind="mergesort")
        if rpdf.empty:
            out = lpdf.copy()
            out[right_ts_alias] = pd.NaT
            for c in rv_names:
                out[c] = None
        else:
            rpdf = (
                rpdf.drop(columns=[_BUCKET])
                .rename(columns={on: right_ts_alias})
                .sort_values(right_ts_alias, kind="mergesort")
            )
            out = pd.merge_asof(
                lpdf,
                rpdf,
                left_on=on,
                right_on=right_ts_alias,
                by=by,
                direction="backward",
                allow_exact_matches=True,
                tolerance=tol,
            )
        for c, dt in rv_dtypes.items():
            if dt is not None:
                out[c] = out[c].astype(dt)
        return out[[f.name for f in out_fields]]

    bucket = F.pmod(F.xxhash64(F.col(by)), F.lit(num_buckets))
    lb = left.withColumn(_BUCKET, bucket)
    rb = right.select(by, on, *rv_names).withColumn(_BUCKET, bucket)
    return (
        lb.groupBy(_BUCKET)
        .cogroup(rb.groupBy(_BUCKET))
        .applyInPandas(lambda l, r: merge(l, r), schema=out_schema)
    )
