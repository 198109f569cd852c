"""Sources: CSV / JSON / parquet scans, directory scans, JDBC dim reads.

SURVEY §2.1 rows S1-S5. The reference reads one file at a time with pandas
(``extract`` — ETL_OMS.py:32-36) and loops a directory twice
(ETL_OMS_OPERATIONNEL.py:242,287); the Spark form hands the whole directory
to one reader per format and keeps per-file provenance via
``input_file_name()`` — a single distributed scan, no driver loop, no
second pass.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_csv(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    """S1 CSV scan: header + inferred dtypes (pandas ``read_csv`` parity).

    At scale, pass an explicit ``schema`` — ``inferSchema`` costs an extra
    full pass over the data; inference is a convenience for small inputs.
    """
    opts = {"header": "true", **({} if schema else {"inferSchema": "true"}), **options}
    reader = spark.read.options(**opts)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    """S2 JSON scan.

    pandas reads a whole JSON array → ``multiLine=true`` for parity with
    array-of-records files; JSON-lines files can pass ``multiLine=false``
    (the scalable layout: splittable, parallel scan).
    """
    opts = {"multiLine": "true", **options}
    reader = spark.read.options(**opts)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_orc(spark: SparkSession, path: str, merge_schema: bool = False) -> DataFrame:
    """ORC scan (Spark-native columnar alternative to parquet — same
    predicate pushdown / column pruning / partition pruning behavior;
    ``merge_schema`` reconciles files written under evolving schemas)."""
    return spark.read.option("mergeSchema", str(merge_schema).lower()).orc(path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table (TESTDATA.md layout)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def scan_dataset_directory(
    spark: SparkSession,
    directory: str,
    with_provenance: bool = True,
) -> dict[str, DataFrame]:
    """S3 directory scan with case-insensitive extension filter.

    Mirrors the ``./DATASETS`` loop (ETL_OMS_OPERATIONNEL.py:242-245) but
    groups files per format and issues ONE distributed read per format.
    Heterogeneous schemas within a format are unioned by the caller after
    reconciliation (`unionByName(allowMissingColumns=True)`); per-file
    identity survives via the ``_source_file`` column, so the per-file
    driver loop of the reference disappears.
    """
    csvs, jsons = [], []
    for name in sorted(os.listdir(directory)):
        low = name.lower()
        full = os.path.join(directory, name)
        if low.endswith(".csv"):
            csvs.append(full)
        elif low.endswith(".json"):
            jsons.append(full)
    out: dict[str, DataFrame] = {}
    for fmt, paths, reader in (("csv", csvs, read_csv), ("json", jsons, read_json)):
        if not paths:
            continue
        # schemas differ per file → read per file lazily, reconcile upstream;
        # still lazy plans, the union executes as one job.
        out.update({p: _with_provenance(reader(spark, p), p) if with_provenance else reader(spark, p) for p in paths})
    return out


def _with_provenance(df: DataFrame, path: str) -> DataFrame:
    return df.withColumn("_source_file", F.lit(os.path.basename(path)))


def read_jdbc_dim(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """S5 JDBC dim read (ETL_OMS_OPERATIONNEL.py:229-234).

    The reference SELECTs whole dims into Python dicts for map-side lookup;
    the Spark analogue reads the dim once over JDBC and lets the caller
    ``broadcast()`` it into joins. Connection config comes from the caller /
    environment — never hard-coded (the reference embeds live credentials;
    deliberately not reproduced).
    """
    return spark.read.jdbc(url, table, properties=properties or {})


def read_dbapi_dim(
    spark: SparkSession,
    connect,
    table_or_query: str,
    schema=None,
) -> DataFrame:
    """S5 dim read over any DB-API connection — the embedded twin of
    `read_jdbc_dim`, testable against a real database without a JDBC
    server (same seam-closing move as ``upsert_via_dbapi`` on the write
    side). Reference: ETL_OMS_OPERATIONNEL.py:229-234 SELECTs whole dims
    into Python dicts; here the dim lands in a (tiny) DataFrame the
    caller ``broadcast()``s into joins.

    Driver-side funnel BY DESIGN: dims are dim-sized. Anything bigger
    belongs to `read_jdbc_dim`'s parallel partitioned JDBC scan.
    ``connect`` is a zero-arg factory (connection closed on return) or an
    open connection (left open). ``table_or_query`` is a table name or a
    full SELECT. Pass ``schema`` explicitly for empty dims (no rows to
    infer from) or to pin types.
    """
    owns_conn = callable(connect)
    conn = connect() if owns_conn else connect
    try:
        cur = conn.cursor()
        q = table_or_query
        if not q.lstrip().lower().startswith(("select", "with")):
            q = f"SELECT * FROM {q}"
        cur.execute(q)
        names = [d[0] for d in cur.description]
        rows = [tuple(r) for r in cur.fetchall()]
    finally:
        if owns_conn:
            conn.close()
    return spark.createDataFrame(rows, schema if schema is not None else names)


def read_csv_robust(
    spark: SparkSession,
    path: str,
    schema=None,
    corrupt_col: str = "_corrupt_record",
    **options,
) -> DataFrame:
    """S1 with explicit bad-row capture instead of silent failure.

    The reference wraps its whole pipeline in a blanket try/except
    (ETL_OMS.py:89-100) — one bad row kills the file. Spark's PERMISSIVE
    mode keeps good rows and lands unparseable ones in ``corrupt_col`` so
    the pipeline can count/quarantine them (A7 bilan) and continue. Pass an
    explicit ``schema`` for the corrupt column to be populated (with
    inferSchema the malformed row itself would distort inference).
    """
    opts = {
        "header": "true",
        "mode": "PERMISSIVE",
        "columnNameOfCorruptRecord": corrupt_col,
        **({} if schema else {"inferSchema": "true"}),
        **options,
    }
    reader = spark.read.options(**opts)
    if schema is not None:
        from pyspark.sql import types as T

        if corrupt_col not in [f.name for f in schema.fields]:
            schema = T.StructType(
                list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
            )
        reader = reader.schema(schema)
    return reader.csv(path)


def split_corrupt(
    df: DataFrame, corrupt_col: str = "_corrupt_record"
) -> tuple[DataFrame, DataFrame]:
    """(clean_rows, quarantined_rows) — quarantine keeps the raw record for
    reprocessing; clean side drops the bookkeeping column.

    The parsed frame is cached first: Spark disallows queries that touch
    only the internal corrupt-record column on a raw file scan
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — and the cache
    also guarantees both sides see one consistent parse.
    """
    df = df.cache()
    clean = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.filter(F.col(corrupt_col).isNotNull())
    return clean, bad


def read_any(spark: SparkSession, path: str, fmt: str | None = None, schema=None, **options) -> DataFrame:
    """Format-dispatching reader: csv / json / parquet / orc (all built-in
    Spark sources — vectorized, splittable, predicate-pushdown for the
    columnar pair). ``fmt`` defaults from the file extension. Beyond the
    reference's CSV/JSON surface; parquet or ORC is what the same data
    should become at warehouse scale."""
    fmt = (fmt or os.path.splitext(path)[1].lstrip(".")).lower()
    if fmt == "csv":
        return read_csv(spark, path, schema=schema, **options)
    if fmt == "json":
        return read_json(spark, path, schema=schema, **options)
    if fmt in ("parquet", "orc"):
        reader = spark.read.options(**options)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.format(fmt).load(path)
    raise ValueError(f"unsupported format: {fmt!r}")


def read_binary_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Raw-bytes ingestion via Spark's built-in ``binaryFile`` source:
    (path, modificationTime, length, content binary) — the entry point for
    the multimodal pipeline (operators/multimodal.py decodes the
    ``content`` column with Arrow-batched mapInPandas).

    ``glob`` filters filenames (e.g. ``*.png``); ``max_bytes`` pushes a
    length predicate down to the file listing so oversized blobs are never
    read. At scale prefer many medium files over millions of tiny ones
    (listing cost) or a few huge ones (a file is the split unit here —
    binary content is not splittable).
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    return df


def read_csv_tolerant(
    spark: SparkSession,
    path: str,
    schema,
    corrupt_col: str = "_corrupt_record",
    **options,
) -> DataFrame:
    """S1 + the reference's coerce philosophy lifted to whole records:
    PERMISSIVE parse against an explicit schema, with rows that fail the
    schema landed in ``corrupt_col`` instead of failing the job (pandas'
    ``errors="coerce"`` coerces cell-wise; this is the record-wise Spark
    form — quarantine, count, and triage the bad rows downstream).

    The corrupt column is appended to the caller's schema automatically.
    Pass ``mode="FAILFAST"`` to assert clean data instead, or
    ``mode="DROPMALFORMED"`` to silently drop (the pandas dropna twin).
    At 100 TB a quarantine column beats a failed 6-hour job.
    """
    from pyspark.sql import types as T

    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType(), True)]
    )
    opts = {
        "header": "true",
        "mode": "PERMISSIVE",
        "columnNameOfCorruptRecord": corrupt_col,
        **options,
    }
    return spark.read.options(**opts).schema(full).csv(path)


def ingest_new_files(
    spark: SparkSession,
    path: str,
    ledger_path: str,
    fmt: str = "csv",
    schema=None,
    **options,
):
    """Incremental file-level ingest: read a directory, keep only rows
    from files NOT yet recorded in the ledger, and return (new_rows,
    new_files) so the caller can process then commit.

    The ledger is a tiny parquet of processed file paths — broadcast into
    a left-anti join against ``input_file_name()``, so re-running a
    nightly load never re-ingests yesterday's files (the reference reruns
    whole directories and relies on DB upserts to mask it —
    ETL_OMS_OPERATIONNEL.py directory loops; this makes the idempotence
    explicit and pushes only NEW bytes through the pipeline). Commit with
    :func:`record_ingested` AFTER the downstream write succeeds —
    at-least-once on failure, never silent loss.
    """
    from pyspark.sql import functions as F

    from ..util import empty_frame

    df = read_any(spark, path, fmt=fmt, schema=schema, **options).withColumn(
        "__file", F.input_file_name()
    )
    try:
        seen = spark.read.parquet(ledger_path).select("file")
    except Exception:  # noqa: BLE001 - first run: no ledger yet
        seen = empty_frame(spark, "file STRING")
    fresh = df.join(
        F.broadcast(seen), df["__file"] == seen["file"], "left_anti"
    )
    new_files = [r["__file"] for r in fresh.select("__file").distinct().collect()]
    return fresh.drop("__file"), new_files


def record_ingested(spark: SparkSession, files: list[str], ledger_path: str) -> None:
    """Append processed file paths to the ingest ledger (tiny parquet)."""
    if not files:
        return
    spark.createDataFrame([(f,) for f in files], "file STRING").write.mode(
        "append"
    ).parquet(ledger_path)
