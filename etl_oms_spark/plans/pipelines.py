"""End-to-end pipelines mirroring the reference's entry points, Spark-first.

- `long_format_pipeline`  ≙ EP1 ``python ETL_OMS.py`` (ETL_OMS.py:87-100):
  reconcile → clean → lag-diff → melt → units. ONE lazy plan.
- `pivot_report`          ≙ ``ETL_OMS_V2.py``: long → wide for BI.
- `star_schema_pipeline`  ≙ EP2 ``ETL_OMS_FINAL.py:110-125``: shared upstream
  plan, cached, fanned into 4 outputs (2 window dims, 1 literal dim,
  broadcast-joined fact).
- `warehouse_pipeline`    ≙ EP3 ``ETL_OMS_OPERATIONNEL.py:218-369`` single
  pass: the reference reads every file twice because dict-based id
  assignment is sequential; join-based assignment collapses it to one pass
  (SURVEY §3 EP3).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import merge as merge_mod
from ..reconcile import reconcile
from ..reshape import melt_with_units, pivot_wide
from ..star import (
    build_fact,
    build_maladie,
    build_pays,
    build_region,
    keep_last_dedup,
    rollup_statistique,
)
from ..schema import STANDARD_COLUMNS
from ..util import local_rows
from ..transform import (
    derive_daily_columns,
    drop_null_dates,
    filter_min_date,
    round_geo,
    tolerant_timestamp,
)


def clean_canonical(df: DataFrame, pandemic: str, min_date: str | None = None) -> DataFrame:
    """Shared upstream: reconcile → tolerant date → drop null dates →
    conditional daily derivation (one plan, broadcast guard)."""
    out = reconcile(df, pandemic=pandemic)
    out = out.withColumn("date", tolerant_timestamp(F.col("date").cast("string")))
    out = drop_null_dates(out)
    if min_date:
        out = filter_min_date(out, min_date)
    out = derive_daily_columns(out)
    return round_geo(out)


def long_format_pipeline(df: DataFrame, pandemic: str) -> DataFrame:
    """EP1: wide heterogeneous input → tidy long format with units."""
    cleaned = clean_canonical(df, pandemic)
    return melt_with_units(cleaned, ids=["country", "date", "pandemic"])


def pivot_report(long_df: DataFrame) -> DataFrame:
    """V2: long → wide pivot, nulls filled with 0."""
    return pivot_wide(long_df, index=["date", "country", "pandemic"])


def star_schema_pipeline(
    df: DataFrame, pandemic: str, pre_cleaned: bool = False
) -> dict[str, DataFrame]:
    """EP2: one cleaned plan → Pays/Region/Maladie dims + Statistique fact."""
    cleaned = (df if pre_cleaned else clean_canonical(df, pandemic)).cache()
    pays = build_pays(cleaned)
    region = build_region(pays)
    maladie = build_maladie(df.sparkSession, [pandemic])
    fact = build_fact(cleaned, pays, region, id_maladie=1)
    return {"Pays": pays, "Region": region, "Maladie": maladie, "Statistique": fact}


def warehouse_pipeline(
    df: DataFrame,
    pandemic: str,
    existing_fact: DataFrame | None = None,
    min_date: str = "2019-01-01",
) -> DataFrame:
    """EP3 single-pass warehouse load (in-engine merge form).

    clean → star fact → keep-last dedup on the upsert key → rollup →
    merge into the existing fact on ``(id_region, date)``.
    """
    cleaned = reconcile(df, pandemic=pandemic).withColumn(
        "date", tolerant_timestamp(F.col("date").cast("string"))
    )
    cleaned = filter_min_date(drop_null_dates(cleaned), min_date)
    cleaned = round_geo(derive_daily_columns(cleaned, guard="all_zero"))
    tables = star_schema_pipeline(cleaned, pandemic, pre_cleaned=True)
    fact = tables["Statistique"]
    fact = fact.withColumn("__arrival", F.monotonically_increasing_id())
    fact = keep_last_dedup(fact, ["id_region", "date"], "__arrival").drop("__arrival")
    rolled = rollup_statistique(fact)
    if existing_fact is None:
        return rolled
    return merge_mod.merge_dataframes(existing_fact, rolled, keys=["id_region", "date"])


def run_directory_etl(
    spark,
    directory: str,
    min_date: str = "2019-01-01",
) -> tuple[DataFrame | None, dict[str, int]]:
    """EP3-style directory run with the reference's bilan counters (A7,
    ETL_OMS_OPERATIONNEL.py:220-221,252-255,368): scan the directory once,
    reconcile each file, union the conformable ones, and report
    processed/ignored counts. Files without a country column are ignored —
    the v4 rule (ETL_OMS_OPERATIONNEL.py:250-256).

    Returns (unioned canonical DataFrame or None, bilan). The counters are
    driver-side schema decisions — no data is read to compute them, so the
    bilan is free and the returned plan is still fully lazy.
    """
    from ..reconcile import apply_flexible_mapping, complete_missing_columns
    from ..sources.readers import scan_dataset_directory

    frames = scan_dataset_directory(spark, directory)
    bilan = {"files_seen": len(frames), "processed": 0, "ignored": 0}
    parts: list[DataFrame] = []
    for path, df in frames.items():
        renamed = apply_flexible_mapping(df)
        if "country" not in renamed.columns:
            bilan["ignored"] += 1
            continue
        disease = disease_from_name_str(path)
        completed = complete_missing_columns(renamed).withColumn(
            "pandemic", F.lit(disease)
        )
        parts.append(completed.select(*STANDARD_COLUMNS, "pandemic", "_source_file"))
        bilan["processed"] += 1
    if not parts:
        return None, bilan
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    out = out.withColumn("date", tolerant_timestamp(F.col("date").cast("string")))
    out = filter_min_date(drop_null_dates(out), min_date)
    return out, bilan


def disease_from_name_str(path: str) -> str:
    """Driver-side filename→disease classification (S4 twin of the column
    expression in reconcile.disease_from_name)."""
    from ..schema import DISEASE_DEFAULT, DISEASE_KEYWORDS

    low = path.lower()
    for kw, disease in DISEASE_KEYWORDS.items():
        if kw in low:
            return disease
    return DISEASE_DEFAULT


def read_dim_ids(spark, path: str, name_col: str, id_col: str) -> dict:
    """A persisted dimension as a driver dict ``{name: id}``; ``{}`` when
    the dim does not exist yet (first run).

    The warehouse's id spaces must be stable across pandemics and across
    runs — the reference loads one shared pays/region id space from the DB
    into dicts (ETL_OMS_OPERATIONNEL.py run_etl, :229-234, :276-284). Here
    the dims live as tiny parquet tables next to the fact target.
    """
    try:
        # the declared schema spares the footer-reading inference job
        dim = spark.read.schema(f"`{name_col}` STRING, `{id_col}` INT").parquet(path)
    except AnalysisException:  # first run: the dim does not exist yet
        return {}
    return {r[0]: r[1] for r in dim.collect()}


def grow_dim_ids(ids: dict, names) -> dict:
    """`star.grow_dimension` on the driver: names absent from ``ids`` get
    contiguous ids after the current max, in name order; NULL names are
    skipped and assigned ids never change."""
    new = sorted({n for n in names if n is not None} - ids.keys())
    top = max(ids.values(), default=0)
    return {**ids, **{n: top + i for i, n in enumerate(new, 1)}}


def warehouse_directory_to_parquet(
    spark,
    directory: str,
    target_path: str,
    min_date: str = "2019-01-01",
    dims_path: str | None = None,
) -> tuple[DataFrame | None, dict[str, int]]:
    """EP3 directory run with STABLE shared dimensions (the reference's
    run_etl loop, ETL_OMS_OPERATIONNEL.py:218-369), in a fixed number of
    Spark jobs whatever the number of diseases:

    1. scan + reconcile + union the directory (lazy; bilan from schemas);
    2. one job collects the batch's distinct (disease, country) pairs; the
       Pays/Maladie dims are read into dicts, grown on the driver
       (`grow_dim_ids`: ids never change once assigned, so id_region means
       the same country in every pandemic and every run), written back;
    3. one fact plan for every disease: a literal CASE gives id_maladie,
       the all-zero guard is evaluated per disease and the lag-diff per
       (disease, country);
    4. keep-last on (disease, country, date), last being the later file in
       name order, then the later row of that file (the reference's
       per-file ON CONFLICT sequence);
    5. one merge into the parquet fact keyed ``(id_maladie, id_region,
       date)``, so two diseases reporting the same region-day never
       overwrite each other.

    Returns ``(updates DataFrame or None, bilan)``.
    """
    from ..sources.merge_table import merge_into_parquet

    dims_path = dims_path or target_path.rstrip("/") + "__dims"
    unioned, bilan = run_directory_etl(spark, directory, min_date=min_date)
    if unioned is None:
        return None, bilan

    pairs = unioned.select("pandemic", "country").distinct().collect()
    diseases = sorted({r["pandemic"] for r in pairs})
    pays_ids = grow_dim_ids(
        read_dim_ids(spark, f"{dims_path}/pays", "country", "id_pays"),
        (r["country"] for r in pairs),
    )
    maladie_ids = grow_dim_ids(
        read_dim_ids(spark, f"{dims_path}/maladie", "nom_maladie", "id_maladie"),
        diseases,
    )
    pays = local_rows(spark, list(pays_ids.items()), "country STRING, id_pays INT")
    maladie = local_rows(
        spark, [(i, d) for d, i in maladie_ids.items()], "id_maladie INT, nom_maladie STRING"
    )
    region = build_region(pays)
    # persist the grown dims BEFORE the fact merge so stored ids are always
    # resolvable even if the fact write fails mid-run
    pays.write.mode("overwrite").parquet(f"{dims_path}/pays")
    maladie.write.mode("overwrite").parquet(f"{dims_path}/maladie")
    region.write.mode("overwrite").parquet(f"{dims_path}/region")

    id_maladie = F.lit(None).cast("int")
    for d in diseases:
        id_maladie = F.when(F.col("pandemic") == d, maladie_ids[d]).otherwise(id_maladie)
    # arrival order is read order: file name, then row within the file —
    # assigned before any shuffle, so the dedup below is deterministic
    arrived = unioned.withColumn(
        "__arrival", F.struct("_source_file", F.monotonically_increasing_id())
    )
    cleaned = derive_daily_columns(
        arrived,
        partition_by=["pandemic", "country"],
        guard="all_zero",
        guard_by=["pandemic"],
    )
    cleaned = keep_last_dedup(
        cleaned.withColumn("date", F.col("date").cast("date")),
        ["pandemic", "country", "date"],
        "__arrival",
    ).drop("__arrival")
    # one row per (id_maladie, id_region, date) already: the keep-last
    # dedup leaves the pre-load rollup nothing to aggregate
    updates = build_fact(cleaned, pays, region, id_maladie=id_maladie)
    merge_into_parquet(
        spark,
        target_path,
        updates,
        keys=["id_maladie", "id_region", "date"],
        partition_col="date",
    )
    return updates, bilan


def warehouse_to_parquet(
    df: DataFrame,
    pandemic: str,
    target_path: str,
    min_date: str = "2019-01-01",
) -> None:
    """EP3 end-to-end with the scalable lake sink: clean → star fact →
    keep-last dedup → rollup → partition-pruned parquet upsert keyed on
    ``(id_region, date)`` and partitioned by date. Re-running the same
    batch is idempotent (the ON CONFLICT property); each batch rewrites
    only the date partitions it touches."""
    from ..sources.merge_table import merge_into_parquet

    rolled = warehouse_pipeline(df, pandemic, existing_fact=None, min_date=min_date)
    merge_into_parquet(
        df.sparkSession,
        target_path,
        rolled,
        keys=["id_region", "date"],
        partition_col="date",
    )
