"""Transform core: tolerant casts, filters, rate conversion, lag-diff.

Covers SURVEY §2 rows F1-F9, P6-P7, W1, A4/A5 — the value-level semantics of
the reference's ``transform()`` functions (ETL_OMS.py:59-85,
ETL_OMS_OPERATIONNEL.py:95-150) as pure column expressions. No Python UDFs:
every function here stays inside whole-stage codegen.

Scale notes
-----------
- `derive_daily_columns` is the one shuffle-bearing operator (window
  partitioned by country): it shuffles once on the group key and the A4/A5
  guard is folded into the same plan through a broadcast scalar aggregate
  (SURVEY §4 item 3) instead of a second eager scan.
- All date/numeric coercions use try_* functions → invalid input becomes
  NULL (pandas ``errors="coerce"``) and is dropped by explicit filters,
  which Catalyst pushes into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def tolerant_timestamp(col: Column | str, formats: list[str] | None = None) -> Column:
    """Tolerant multi-format date parse (F1).

    The v4 parser tries strict ``%Y-%m-%d`` then falls back lenient
    (ETL_OMS_OPERATIONNEL.py:100-107); here: ``coalesce`` of
    ``try_to_timestamp`` over the format list, ending with the formatless
    lenient parse. Invalid → NULL (pandas NaT), dropped by `drop_null_dates`.
    """
    c = F.col(col) if isinstance(col, str) else col
    formats = formats or ["yyyy-MM-dd", "MM/dd/yyyy", "dd/MM/yyyy"]
    attempts = [F.try_to_timestamp(c, F.lit(fmt)) for fmt in formats]
    attempts.append(F.try_to_timestamp(c))
    return F.coalesce(*attempts)


def tolerant_long(col: Column | str, default: int | None = None) -> Column:
    """``pd.to_numeric(errors="coerce")`` + optional 0-default (F2/F3).

    ``try_cast`` to double first (so "12.0" survives), then to long;
    ``default`` emulates the null→0 load coercion at
    ETL_OMS_OPERATIONNEL.py:326-329.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = c.try_cast("double").try_cast("long")
    if default is not None:
        out = F.coalesce(out, F.lit(default))
    return out


def tolerant_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast("double")


def drop_null_dates(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """P6 not-null filter (``dropna(subset=...)`` — ETL_OMS.py:62,84)."""
    return df.na.drop(subset=cols or ["date"])


def filter_min_date(df: DataFrame, min_date: str = "2019-01-01", col: str = "date") -> DataFrame:
    """P7 range predicate (ETL_OMS_OPERATIONNEL.py:108).

    Plain comparison → pushed into the parquet scan / pruned on partitioned
    layouts by Catalyst; nothing custom needed.
    """
    return df.filter(F.col(col) >= F.lit(min_date).cast("timestamp"))


def convert_rate_columns(
    df: DataFrame,
    population_col: str | None = "population",
    rate_suffixes: dict[str, int] | None = None,
) -> DataFrame:
    """Rate→absolute conversion (F6, ETL_OMS_OPERATIONNEL.py:120-138).

    Driver-side routing over ``df.columns``: any column whose normalized name
    ends with a per-population suffix is converted ``round(rate * pop /
    divisor)`` and lands in ``deaths`` (if the name mentions deaths) or
    ``confirmed`` — only where the target is NULL, preserving real counts.
    If no population column exists the conversion is skipped (the reference's
    ``get_population`` stub returns None — dead path, kept for parity).
    """
    from .reconcile import normalize_column_name
    from .schema import RATE_SUFFIXES

    rate_suffixes = rate_suffixes or RATE_SUFFIXES
    if population_col is None or population_col not in df.columns:
        return df
    pop = F.col(population_col).try_cast("double")
    out = df
    for c in df.columns:
        norm = normalize_column_name(c)
        for suffix, divisor in rate_suffixes.items():
            if norm.endswith(suffix):
                target = "deaths" if "death" in norm else "confirmed"
                if target not in out.columns:
                    continue
                absolute = F.round(
                    F.col(c).try_cast("double") * pop / F.lit(divisor)
                ).try_cast("long")
                out = out.withColumn(target, F.coalesce(F.col(target), absolute))
                break
    return out


def lag_diff(
    value: str,
    partition_by: list[str],
    order_by: list[str],
) -> Column:
    """Per-group lagged difference, first row → 0 (W1).

    ``groupby(k)[c].diff().fillna(0)`` (ETL_OMS.py:71,74). pandas relied on
    implicit row order; the Spark form orders explicitly — the correct
    intent (SURVEY §7 hard part 1).
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return F.coalesce(F.col(value) - F.lag(value, 1).over(w), F.lit(0))


def derive_daily_columns(
    df: DataFrame,
    cumulative_to_daily: dict[str, str] | None = None,
    partition_by: list[str] | None = None,
    order_by: list[str] | None = None,
    guard: str = "all_null",
    guard_by: list[str] | None = None,
) -> DataFrame:
    """Conditionally derive daily columns from cumulative series (W1+A4/A5).

    For each ``daily ← cumulative`` pair: if the existing daily column is
    entirely NULL (``guard="all_null"``, v1-v3: ETL_OMS.py:70-74) or entirely
    zero/NULL (``guard="all_zero"``, v4: ETL_OMS_OPERATIONNEL.py:141-144),
    replace it with the per-group lag-diff of the cumulative column.

    "Entirely" is judged per ``guard_by`` group (several files' worth of
    rows, one guard per file's disease, in one plan); an empty or None
    ``guard_by`` makes the whole frame one group.

    One-plan guard: the predicate is one aggregate grouped by ``guard_by``
    (a single row when there are no groups), broadcast-joined back (SURVEY
    §4 item 3) — a distributed aggregate plus a zero-cost broadcast instead
    of an eager ``.all()`` action per column, and no single-partition
    global window.
    """
    cumulative_to_daily = cumulative_to_daily or {
        "confirmed": "new_cases",
        "deaths": "new_deaths",
    }
    partition_by = partition_by or ["country"]
    order_by = order_by or ["date"]

    aggs = []
    for cum, daily in cumulative_to_daily.items():
        if daily not in df.columns or cum not in df.columns:
            continue
        if guard == "all_zero":
            # count of rows where daily is non-null AND non-zero
            aggs.append(
                F.count(F.when(F.col(daily).isNotNull() & (F.col(daily) != 0), 1)).alias(
                    f"__nz_{daily}"
                )
            )
        else:
            aggs.append(F.count(F.col(daily)).alias(f"__nz_{daily}"))
    if not aggs:
        return df

    dtypes = dict(df.dtypes)
    # the group columns come back renamed: flags derives from df, so the
    # original names would be ambiguous in the join condition; with no
    # groups the join has no condition (a broadcast cross join of one row)
    keys = {c: f"__g_{c}" for c in guard_by or []}
    flags = df.groupBy(*[F.col(c).alias(k) for c, k in keys.items()]).agg(*aggs)
    on = [F.col(c).eqNullSafe(F.col(k)) for c, k in keys.items()]
    out = df.join(F.broadcast(flags), on or None).drop(*keys.values())
    for cum, daily in cumulative_to_daily.items():
        flag = f"__nz_{daily}"
        if flag not in out.columns:
            continue
        derived = lag_diff(cum, partition_by, order_by).cast("long")
        # keep the original column's dtype: without the outer cast the
        # when(long)/otherwise(<orig>) expression silently widens to the
        # common type (e.g. bigint daily -> double output)
        out = out.withColumn(
            daily,
            F.when(F.col(flag) == 0, derived)
            .otherwise(F.col(daily))
            .cast(dtypes[daily]),
        )
    return out.drop(*[f"__nz_{d}" for d in cumulative_to_daily.values() if f"__nz_{d}" in out.columns])


def round_geo(df: DataFrame, cols: tuple[str, str] = ("latitude", "longitude"), scale: int = 6) -> DataFrame:
    """6-dp geo rounding (F5, ETL_OMS_OPERATIONNEL.py:147-148)."""
    present = [c for c in cols if c in df.columns]
    return df.withColumns({c: F.round(F.col(c).try_cast("double"), scale) for c in present})


def map_lookup(col: Column | str, mapping: dict[str, str], default: str = "unknown") -> Column:
    """Tiny literal dict lookup as a chained CASE (F7, ETL_OMS.py:83).

    The reference used a per-row Python ``map``; a literal ``when`` chain
    stays JVM-side and constant-folds. For big maps, join a broadcast
    lookup DataFrame instead.
    """
    c = F.col(col) if isinstance(col, str) else col
    expr: Column | None = None
    for k, v in mapping.items():
        cond = c == F.lit(k)
        expr = F.when(cond, F.lit(v)) if expr is None else expr.when(cond, F.lit(v))
    return expr.otherwise(F.lit(default)) if expr is not None else F.lit(default)


def winsorize(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    lower: float = 0.05,
    upper: float = 0.95,
) -> DataFrame:
    """Winsorize an integer-valued column at exact per-group percentiles:
    values below p_lower / above p_upper are clipped to those bounds
    (outlier taming before stats/quality scoring — the robust alternative
    to dropping tails).

    Bounds use the two-phase exact ``group_percentiles(mode="hist")``
    lowering — Spark's native ``percentile`` would buffer every group
    value in one task (OOM-bound at 100 TB); the histogram+rank plan is
    bounded by per-group distinct values and bit-identical (pass
    ``mode="approx"`` upstream when sketch error is acceptable). Bounds
    computed once per group (one aggregation), then one
    broadcast-or-shuffle join back; the clip itself is a pure column
    expression. Integer inputs make the interpolated bounds bit-identical
    across engines (see a13 oracle note).
    """
    from .operators.quantiles import group_percentiles

    keys = group_cols or []
    bounds = group_percentiles(
        df, keys, value_col, [lower, upper], names=["__lo", "__hi"], mode="hist"
    )
    joined = df.join(F.broadcast(bounds), keys) if keys else df.crossJoin(F.broadcast(bounds))
    clipped = F.least(F.greatest(F.col(value_col).cast("double"), F.col("__lo")), F.col("__hi"))
    return joined.withColumn(f"{value_col}_winsorized", clipped).drop("__lo", "__hi")


def fixed_width_histogram(
    df: DataFrame,
    value_col: str,
    n_buckets: int = 20,
) -> DataFrame:
    """Equal-width histogram of an integer-valued column: global min/max
    via one scalar aggregate (broadcast back — the same one-plan guard
    trick as derive_daily_columns), bucket index by pure integer
    arithmetic, then a buckets-sized count aggregate.

    Integer math keeps bucket edges bit-exact cross-engine (floating
    division would drift at the boundaries). The histogram itself is two
    scans of arithmetic + one tiny shuffle — at 100 TB the cost is the
    scan, as it should be.
    """
    bounds = df.agg(
        F.min(value_col).cast("long").alias("__lo"),
        F.max(value_col).cast("long").alias("__hi"),
    )
    span = F.col("__hi") - F.col("__lo") + F.lit(1)
    idx = F.floor(
        (F.col(value_col).cast("long") - F.col("__lo")) * F.lit(n_buckets) / span
    ).cast("int")
    return (
        df.crossJoin(F.broadcast(bounds))
        .select(
            idx.alias("bucket"),
            F.col("__lo"),
            span.alias("__span"),
        )
        .groupBy("bucket", "__lo", "__span")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .select(
            "bucket",
            (F.col("__lo") + F.floor(F.col("bucket") * F.col("__span") / F.lit(n_buckets)))
            .cast("long")
            .alias("bucket_lo"),
            (
                F.col("__lo")
                + F.floor((F.col("bucket") + 1) * F.col("__span") / F.lit(n_buckets))
                - F.lit(1)
            )
            .cast("long")
            .alias("bucket_hi"),
            "n_rows",
        )
    )


def impute_columns(
    df: DataFrame,
    cols: list[str],
    strategy: str = "mean",
    group_cols: list[str] | None = None,
    fill_value=None,
) -> DataFrame:
    """NULL imputation with distributed statistics — the general form of
    the reference's ``fillna(0)`` (F4, ETL_OMS_FINAL_Upgraded.py pivot
    fill): per-column ``mean`` / ``median`` / ``mode`` / ``const``,
    optionally per ``group_cols`` (each group imputes from its own
    statistic).

    The statistics frame is group-cardinality (one aggregate, map-side
    combined; median uses approx_percentile(…, 0.5) at accuracy 10000 —
    a sketch, appropriate for imputation; mode is a count + keep-first) and
    broadcast back — the corpus is touched once, NULL cells coalesce
    against the broadcast statistic, everything else streams through.
    """
    from pyspark.sql import Window

    if strategy == "const":
        return df.fillna({c: fill_value for c in cols})
    gb = group_cols or []
    if strategy in ("mean", "median"):
        aggs = [
            (
                F.avg(c) if strategy == "mean"
                else F.expr(f"approx_percentile({c}, 0.5, 10000)")
            ).alias(f"__st_{c}")
            for c in cols
        ]
        stats = df.groupBy(*gb).agg(*aggs) if gb else df.agg(*aggs)
    elif strategy == "mode":
        parts = []
        for c in cols:
            w = Window.partitionBy(*gb).orderBy(F.desc("__n"), F.asc(c))
            cnt = (
                df.filter(F.col(c).isNotNull())
                .groupBy(*gb, c)
                .agg(F.count(F.lit(1)).alias("__n"))
                .withColumn("__rk", F.row_number().over(w))
                .filter(F.col("__rk") == 1)
                .select(*gb, F.col(c).alias(f"__st_{c}"))
            )
            parts.append(cnt)
        stats = parts[0]
        for p in parts[1:]:
            stats = stats.join(p, gb) if gb else stats.crossJoin(p)
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    joined = (
        df.join(F.broadcast(stats), gb) if gb else df.crossJoin(F.broadcast(stats))
    )
    for c in cols:
        dt = dict(df.dtypes)[c]
        joined = joined.withColumn(
            c, F.coalesce(F.col(c), F.col(f"__st_{c}").cast(dt))
        )
    return joined.drop(*[f"__st_{c}" for c in cols])
