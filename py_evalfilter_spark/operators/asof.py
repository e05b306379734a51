"""Point-in-time (as-of) join — SURVEY.md §2.6 J3, the north_rule centerpiece.

Semantics: for each left row, attach the single right row with the same key
and the greatest ``right.ts <= left.ts`` (direction='backward', exact matches
allowed).  Zero temporal leakage by construction: a right row with
``ts > left.ts`` can never be selected.

Physical strategy (:func:`asof_join_union_window`, JVM only): the right side
is hash-partitioned on ``by`` and unioned with the left; one window pass on
``by`` forward-fills the matched right row.  When the left already carries
``hashpartitioning(by)`` — a window chain on ``by`` upstream — the union
keeps that partitioning, so the as-of window only sorts and ONLY the small
right side shuffles (the co-partition-once plan of temporal-join
processing); a left side without it gets one Exchange over the union.  A
mega-key cannot straddle partitions (placement is a function of the key),
so results are exact under skew; AQE handles residual partition imbalance.
Not a cogroup + per-key ``pd.merge_asof``: that ships every left column
through Arrow, and measured slower both on mega-conversation transcripts
and at sf0.1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def asof_join_union_window(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str = "conv_id",
    right_ts_alias: str | None = None,
    tolerance_s: int | None = None,
) -> DataFrame:
    """Backward as-of join of ``right`` onto ``left`` on (by, on): the
    contract is ``pd.merge_asof(direction="backward",
    allow_exact_matches=True)`` — what ``golden.golden_asof`` computes.
    Right's ``on`` column is kept as ``right_ts_alias`` (default
    ``f"{on}_right"``) so leakage is auditable downstream.
    ``tolerance_s``: optional max staleness — a match older than this many
    seconds is dropped whole (pd.merge_asof tolerance).

    Strategy: tag and union both sides, then one window pass
    ``partitionBy(by).orderBy(on, side)`` forward-fills a single struct of
    ALL right columns onto later left rows (right sorts before left at
    equal ``on`` so exact matches are visible — merge_asof
    allow_exact_matches=True semantics; the struct fill guarantees every
    right column comes from the same matched row, including its NULLs);
    finally keep only left rows and unpack the struct.

    No Arrow round-trip of the (wide) left columns, a whole-stage-codegen
    window, and a left side that is already hash-partitioned on ``by`` (by
    upstream windows) is not shuffled again — only the right side is.
    Ties among right rows at the same (by, on) resolve to the last in
    order — same as merge_asof.
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
