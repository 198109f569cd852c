"""Planning utilities for scale: parallelism guards, skew-salted joins,
plan introspection."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ensure_parallelism(df: DataFrame, *key_cols: str, target: int | None = None) -> DataFrame:
    """Repartition up if the input has fewer partitions than the cluster can
    use — guards compute-heavy per-row stages (shingle explode, vector
    folds) against the small-file/single-row-group case where a parquet
    scan yields 1 partition and serializes onto one core.

    No-op when the source is already parallel (the common case at scale —
    a 100 TB table arrives in thousands of splits), so well-partitioned
    inputs pay nothing. ``key_cols`` make the redistribution deterministic
    (hash partitioning on the key) and pre-align a later groupBy on the
    same key.
    """
    spark = df.sparkSession
    if target is None:
        target = spark.sparkContext.defaultParallelism
    if _estimated_partitions(df) >= target:
        return df
    if key_cols:
        return df.repartition(target, *key_cols)
    return df.repartition(target)


def _estimated_partitions(df: DataFrame) -> int:
    """Scan-partition estimate WITHOUT ``df.rdd`` — converting to an RDD
    compiles the physical plan and costs ~0.8s per fresh DataFrame, which
    dominated the very operators this guard protects. For file sources:
    Σ ceil(file_size / maxPartitionBytes) (how Spark actually splits
    parquet). Unsizable paths (object stores) or non-file frames fall back
    to the accurate-but-slow RDD probe.
    """
    import math
    import os
    from urllib.parse import urlparse

    try:
        paths = df.inputFiles()
    except Exception:  # noqa: BLE001
        paths = []
    if paths:
        max_bytes = _parse_bytes_conf(
            df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
        if max_bytes is None:
            return df.rdd.getNumPartitions()
        total = 0
        for p in paths:
            parsed = urlparse(p)
            if parsed.scheme not in ("file", ""):
                break  # remote path — can't size cheaply
            try:
                total += math.ceil(os.path.getsize(parsed.path) / max_bytes)
            except OSError:
                break
        else:
            return max(1, total)
    return df.rdd.getNumPartitions()


def _parse_bytes_conf(value: object) -> int | None:
    """Parse a Spark byte-size conf in any accepted form: plain bytes
    (``134217728``), with a ``b`` suffix, or human-readable (``128m``,
    ``128MB``, ``1g`` — case-insensitive). Returns None when unparsable so
    the caller can fall back to the RDD probe instead of crashing."""
    s = str(value).strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    multipliers = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}
    mult = 1
    if s and s[-1] in multipliers:
        mult = multipliers[s[-1]]
        s = s[:-1]
    try:
        return int(s) * mult
    except ValueError:
        return None


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated equi join: salt the skewed side, replicate the other.

    A hot key (one value holding a large share of rows) turns a shuffle
    join into a single straggler task. Salting splits each key into
    ``salt_buckets`` sub-keys: the skewed side gets a random-ish
    deterministic salt (hash of a unique-ish expression mod buckets), the
    other side is replicated across all salt values via an exploded
    sequence, and the join runs on (key, salt) — spreading the hot key
    over ``salt_buckets`` tasks.

    Prefer AQE's automatic skew-join splitting
    (``spark.sql.adaptive.skewJoin.enabled``, on by default in
    session.get_spark) when it fires; this explicit form is for joins AQE
    can't split (e.g. under a window) or for deterministic pre-planning.
    The replicated side grows ``salt_buckets``×, so keep it the smaller
    input.
    """
    salt = (F.spark_partition_id() * F.lit(2654435761) + F.monotonically_increasing_id()) % salt_buckets
    left = skewed.withColumn("__salt", salt.cast("int"))
    right = other.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    out = left.join(right, [key, "__salt"], how)
    return out.drop("__salt")


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as a string (for plan-shape assertions in tests)."""
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def with_global_index(
    df: DataFrame,
    order_cols: list[str],
    index_col: str = "row_idx",
    n_parts: int | None = None,
) -> DataFrame:
    """Contiguous global row index 0..N-1 in (total) ``order_cols`` order —
    WITHOUT the single-partition sort that ``row_number() OVER (ORDER BY
    ...)`` forces.

    Classic two-phase: range-partition on the order key (disjoint sorted
    ranges per partition), count rows per partition (partitions-sized
    aggregate), broadcast the cumulative offsets back, and add each
    partition's local ``row_number``. The only data-sized movement is the
    range exchange; every later step is partition-local or tiny.
    ``order_cols`` must be a TOTAL order (include a tiebreak id) or the
    index is nondeterministic within ties.
    """
    from pyspark.sql import Window

    ranged = (
        df.repartitionByRange(n_parts, *order_cols)
        if n_parts
        else df.repartitionByRange(*order_cols)
    )
    with_pid = ranged.withColumn("__pid", F.spark_partition_id())
    counts = with_pid.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
    w_off = (
        Window.orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "__pid", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__offset")
    )
    w_local = Window.partitionBy("__pid").orderBy(*[F.col(c).asc() for c in order_cols])
    return (
        with_pid.join(F.broadcast(offsets), "__pid")
        .withColumn(
            index_col,
            (F.row_number().over(w_local) - 1 + F.col("__offset")).cast("long"),
        )
        .drop("__pid", "__offset")
    )


def plan_stats(df: DataFrame) -> dict:
    """Physical-plan shape counters for tests and plan reviews: exchanges
    (shuffles), broadcast exchanges, scans, sorts, single-partition
    exchanges, and whole-stage-codegen spans. A cheap guardrail — assert
    `plan_stats(q)["exchanges"] <= n` instead of string-matching the whole
    plan dump."""
    plan = physical_plan(df, "simple")
    import re

    def count(pat: str) -> int:
        return len(re.findall(pat, plan))

    return {
        "exchanges": count(r"Exchange (?:hash|range)partitioning"),
        "broadcasts": count(r"BroadcastExchange|Exchange SinglePartition.*broadcast"),
        "single_partition": count(r"Exchange SinglePartition"),
        "scans": count(r"FileScan|Scan parquet|Scan csv|Scan json"),
        "sorts": count(r"\bSort\b|\bSort \["),
        # simple-mode plans mark codegen stages with "*(n)" prefixes
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
    }


def let_(value: Column, body) -> Column:
    """Bind ``value`` once per row and build an expression over it —
    the lambda-variable let-binding for higher-order functions.

    A Spark HOF lambda body re-evaluates any captured SUBTREE per
    element: ``transform(seq, i -> f(expensive_expr, i))`` computes
    ``expensive_expr`` once per output element, not once per row
    (measured in round 11: the whitespace-normalize regex inside the
    trigram/shingle builders cost 6-8x the whole operator). Wrapping
    the subtree as the element of a single-element array and passing
    it through ``transform`` turns it into a lambda VARIABLE, which
    nested lambdas reference by value:

        let_(tokens(col), lambda toks: transform(idx, i -> slice(toks, i, k)))

    evaluates ``tokens(col)`` exactly once per row. ``body`` receives
    the bound Column and returns the result expression.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def _sql_literal(v) -> str:
    """Render one Python value as a Spark SQL literal (the
    `_argmin_struct` one-parsed-string pattern). Fractional values go
    through CAST('repr' AS DOUBLE) because Spark parses bare decimal
    literals as DECIMAL, and repr round-trips IEEE doubles exactly.
    Strings use the default C-style escaping (escapedStringLiterals
    off). Raises TypeError for unsupported types — the caller falls
    back to createDataFrame."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        if not (-(2**63) <= v < 2**63):
            raise TypeError("int out of BIGINT range")
        return f"{v}L"
    if isinstance(v, float):
        import math

        # non-finite values render via the same string-cast path Spark
        # itself uses (CAST('NaN'/'Infinity' AS DOUBLE) is exact); the
        # old TypeError here crashed plan construction on degenerate
        # training output (NaN centroid/scale) that the previous
        # F.lit(float(x)) sites used to propagate (ADVICE r13)
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, str):
        out = []
        for ch in v:
            if ch == "\\":
                out.append("\\\\")
            elif ch == "'":
                out.append("\\'")
            elif ch == "\n":
                out.append("\\n")
            elif ch == "\r":
                out.append("\\r")
            elif ch == "\t":
                out.append("\\t")
            elif ord(ch) < 0x20:
                # remaining control chars (ESC/NUL/... survive
                # normalize_text, which only collapses \s) render as the
                # parser's \uXXXX escape instead of raising — a dirty
                # corpus must not crash plan construction (ADVICE r13)
                out.append(f"\\u{ord(ch):04X}")
            else:
                out.append(ch)
        return "'" + "".join(out) + "'"
    if isinstance(v, (list, tuple)):
        return "array(" + ",".join(_sql_literal(x) for x in v) + ")"
    raise TypeError(f"unsupported literal type {type(v)!r}")


def local_rows(spark, rows, schema) -> DataFrame:
    """Tiny driver-held row list -> DataFrame WITHOUT the Python-worker
    boundary.

    ``spark.createDataFrame(list, ...)`` parallelizes the list into
    ``defaultParallelism`` pickled slices — on local[32] that is 32
    Python-worker round trips (~0.15-0.8 s measured) to materialize a
    handful of rows, per call. This builds the same rows as ONE parsed
    JVM literal expression instead: ``inline(array(named_struct(...)))``
    rendered as a single SQL string (per-cell F.lit() Column chains cost
    ~0.5 s of py4j round-trips at a hundred cells — the `_argmin_struct`
    lesson) — a single-partition, JVM-only plan with zero Python
    workers, byte-identical values (every cell is CAST to the declared
    field type, exactly like createDataFrame's coercion).

    For tiny frames only (dims, query literals, driver-computed results
    of bounded training loops): the rows become expression-tree literals,
    so past a cell budget (scalar cells, array elements counted — plans
    in the hundreds of KB break the k=1000 kmeans_assign plan-size pin
    and slow analysis), or on a value type the SQL renderer does not
    cover (datetime, bytes, Decimal...), the call falls back to
    createDataFrame unchanged. An empty list is `empty_frame`.
    """
    from pyspark.sql import types as T

    if not isinstance(schema, T.StructType):
        schema = T.StructType.fromDDL(schema)
    if not rows:
        return empty_frame(spark, schema)
    cells = 0
    for row in rows:
        for v in row:
            cells += len(v) if isinstance(v, (list, tuple)) else 1
    if cells > 4096:
        return spark.createDataFrame(rows, schema)
    try:
        field_sql = [
            (f.name.replace("'", "''"), f.dataType.simpleString())
            for f in schema.fields
        ]
        structs = [
            "named_struct("
            + ",".join(
                f"'{name}',CAST({_sql_literal(v)} AS {dt})"
                for v, (name, dt) in zip(row, field_sql)
            )
            + ")"
            for row in rows
        ]
    except TypeError:
        return spark.createDataFrame(rows, schema)
    return spark.range(1).select(
        F.inline(F.expr("array(" + ",".join(structs) + ")"))
    )


def empty_frame(spark, schema) -> DataFrame:
    """Zero-row DataFrame with exactly ``schema`` (DDL string or
    StructType), as a JVM-only empty local relation.

    ``spark.createDataFrame([], schema)`` parallelizes the empty list
    through Python workers: one job of ``defaultParallelism`` tasks
    (0.3-1.2 s measured on 4 vCPU) to produce nothing. This plan runs no
    Python worker and keeps every field's type and nullability.
    """
    from pyspark.sql import types as T

    if not isinstance(schema, T.StructType):
        schema = T.StructType.fromDDL(schema)
    jspark = spark._jsparkSession
    jdf = jspark.createDataFrame(
        spark._jvm.java.util.ArrayList(), jspark.parseDataType(schema.json())
    )
    return DataFrame(jdf, spark)


@contextmanager
def scoped_conf(spark, key: str, value: str):
    """Set one session conf for the ``with`` block, then restore the
    caller's state: its explicit value, or no value at all when it had
    none (``spark.conf.get(key, None)`` is None only for an unset key).

    Helpers that need a setting for one write must not leak it into the
    caller's session.
    """
    saved = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
