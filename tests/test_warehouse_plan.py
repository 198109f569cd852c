"""The one-plan directory warehouse load (`warehouse_directory_to_parquet`):
the fact equals the per-disease computation, the job count does not depend
on the number of diseases, the driver-grown dims equal `grow_dimension`,
keep-last means last-read, and the parquet writers leave the session conf
as they found it."""

from __future__ import annotations

import csv
import json
from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_oms_spark.plans.pipelines import (
    grow_dim_ids,
    run_directory_etl,
    warehouse_directory_to_parquet,
)
from etl_oms_spark.sources.merge_table import (
    cdc_merge_into_parquet,
    compact_partitions,
    merge_into_parquet,
    refresh_aggregate,
)
from etl_oms_spark.star import (
    build_fact,
    build_region,
    grow_dimension,
    keep_last_dedup,
    rollup_statistique,
)
from etl_oms_spark.transform import derive_daily_columns
from etl_oms_spark.util import empty_frame, local_rows

FACT_KEYS = ["id_maladie", "id_region", "date"]
CSV_HEADER = ["Country/Region", "Date", "Confirmed", "Deaths", "New cases", "New deaths"]


def _write_csv(path, rows, header=CSV_HEADER) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


def _cumulative_rows(countries, days, scale, zero_daily):
    """Per country, cumulative confirmed/deaths over ``days`` days; the
    daily columns are all zero (to be derived) or the true increments."""
    rows = []
    for k, country in enumerate(countries):
        confirmed = deaths = 0
        for d in range(days):
            new_c, new_d = (k + 1) * scale + d, (d + k) % 3
            confirmed, deaths = confirmed + new_c, deaths + new_d
            daily = (0, 0) if zero_daily else (new_c, new_d)
            rows.append([country, f"2020-03-{d + 1:02d}", confirmed, deaths, *daily])
    return rows


def _rows(df) -> list[tuple]:
    """Fact rows, keys first then measures by name, sorted."""
    measures = sorted(set(df.columns) - set(FACT_KEYS))
    return sorted(tuple(r) for r in df.select(*FACT_KEYS, *measures).collect())


def _fact(spark, target: str) -> list[tuple]:
    return _rows(spark.read.parquet(target))


def _dim(spark, path: str, name_col: str, id_col: str) -> dict:
    return {r[name_col]: r[id_col] for r in spark.read.parquet(path).collect()}


def _per_disease_fact(spark, directory: str, dims: str) -> list[tuple]:
    """The fact as one plan per disease slice, each slice through
    `derive_daily_columns` on its own, unioned."""
    unioned, _ = run_directory_etl(spark, directory)
    pays = spark.read.parquet(f"{dims}/pays")
    region = build_region(pays)
    parts = []
    for name, id_maladie in _dim(spark, f"{dims}/maladie", "nom_maladie", "id_maladie").items():
        cleaned = derive_daily_columns(
            unioned.filter(F.col("pandemic") == name), guard="all_zero"
        )
        fact = build_fact(cleaned, pays, region, id_maladie=id_maladie)
        fact = keep_last_dedup(
            fact.withColumn("__arrival", F.monotonically_increasing_id()),
            FACT_KEYS,
            "__arrival",
        ).drop("__arrival")
        parts.append(rollup_statistique(fact, keys=tuple(FACT_KEYS)))
    return _rows(reduce(DataFrame.unionByName, parts))


def test_fact_equals_per_disease_computation(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    # COVID reports zero dailies (derive them); Monkeypox reports real ones
    # (keep them). A whole-batch guard would see Monkeypox's non-zero
    # dailies and leave COVID's at zero.
    _write_csv(
        src / "covid_19_clean.csv", _cumulative_rows(["Aland", "Bora", "Cuzo"], 6, 10, True)
    )
    mpox = [
        {"location": c, "date": d, "total_cases": tc, "total_deaths": td,
         "new_cases": nc, "new_deaths": nd}
        for c, d, tc, td, nc, nd in _cumulative_rows(["Bora", "Dumo"], 5, 3, False)
    ]
    (src / "monkeypox_owid.json").write_text(json.dumps(mpox))
    target, dims = str(tmp_path / "fact"), str(tmp_path / "dims")

    _, bilan = warehouse_directory_to_parquet(spark, str(src), target, dims_path=dims)

    assert bilan == {"files_seen": 2, "processed": 2, "ignored": 0}
    got = _fact(spark, target)
    assert got == _per_disease_fact(spark, str(src), dims)
    ids = _dim(spark, f"{dims}/maladie", "nom_maladie", "id_maladie")
    covid_daily = [r[3] for r in got if r[0] == ids["COVID-19"]]  # nouveau_cas
    assert len(covid_daily) == 18 and sum(covid_daily) > 0
    mpox_daily = sorted(r[3] for r in got if r[0] == ids["Monkeypox"])
    assert mpox_daily == sorted(m["new_cases"] for m in mpox)


def _jobs_of(spark, fn) -> int:
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(None))
    fn()
    bus.waitUntilEmpty()
    return len(set(tracker.getJobIdsForGroup(None)) - before)


def test_job_count_does_not_depend_on_disease_count(spark, tmp_path):
    """Three same-shaped files, first as one disease and then as three:
    the load and the upsert each issue the same number of jobs."""
    counts = {}
    for label, names in (
        ("one", ["covid_a.csv", "covid_b.csv", "covid_c.csv"]),
        ("three", ["covid.csv", "ebola.csv", "monkeypox.csv"]),
    ):
        src = tmp_path / label
        src.mkdir()
        for k, name in enumerate(names):
            countries = [f"C{k}{i}" for i in range(3)]
            _write_csv(src / name, _cumulative_rows(countries, 4, k + 1, k % 2 == 0))
        target, dims = str(tmp_path / f"{label}_fact"), str(tmp_path / f"{label}_dims")

        def load():
            warehouse_directory_to_parquet(spark, str(src), target, dims_path=dims)

        counts[label] = (_jobs_of(spark, load), _jobs_of(spark, load))
    assert counts["one"] == counts["three"], counts


@pytest.mark.parametrize(
    "existing, incoming",
    [
        ({}, ["Fiji", None, "Chad", "Fiji"]),  # first run: no dim yet
        ({"Fiji": 1, "Peru": 2}, ["Chad", "Peru", None, "Benin", "Zambia"]),  # incremental
        ({"Fiji": 3, "Chad": 7}, ["Aruba", None, "Chad"]),  # ids continue after the max
        ({"Fiji": 1}, ["Fiji", None]),  # nothing new
    ],
)
def test_grow_dim_ids_matches_grow_dimension(spark, existing, incoming):
    dim = local_rows(spark, list(existing.items()), "country STRING, id_pays INT")
    names = local_rows(spark, [(n,) for n in incoming], "country STRING")
    grown = grow_dimension(dim, names, "country", "id_pays")
    assert grow_dim_ids(existing, incoming) == {r[0]: r[1] for r in grown.collect()}


def test_persisted_dims_match_grow_dimension(spark, tmp_path):
    """First run with no dims directory, then an incremental batch with a
    NULL country and a new disease: the written dims equal `grow_dimension`
    over the same batches."""
    target, dims = str(tmp_path / "fact"), str(tmp_path / "dims")
    first, second = tmp_path / "b1", tmp_path / "b2"
    first.mkdir()
    second.mkdir()
    _write_csv(first / "covid.csv", _cumulative_rows(["Togo", "Mali"], 3, 2, True))
    _write_csv(second / "covid.csv", _cumulative_rows(["Mali", "", "Chad"], 3, 5, True))
    _write_csv(second / "ebola.csv", _cumulative_rows(["Benin", "Togo"], 2, 1, False))

    pays = empty_frame(spark, "country STRING, id_pays INT")
    maladie = empty_frame(spark, "id_maladie INT, nom_maladie STRING")
    for batch in (first, second):
        unioned, _ = run_directory_etl(spark, str(batch))
        pays = grow_dimension(pays, unioned, "country", "id_pays").localCheckpoint()
        maladie = grow_dimension(
            maladie,
            unioned.select(F.col("pandemic").alias("nom_maladie")),
            "nom_maladie",
            "id_maladie",
        ).localCheckpoint()
        warehouse_directory_to_parquet(spark, str(batch), target, dims_path=dims)
        want_pays = {r[0]: r[1] for r in pays.collect()}
        assert _dim(spark, f"{dims}/pays", "country", "id_pays") == want_pays
        assert _dim(spark, f"{dims}/region", "nom_region", "id_region") == want_pays
        assert _dim(spark, f"{dims}/maladie", "nom_maladie", "id_maladie") == {
            r["nom_maladie"]: r["id_maladie"] for r in maladie.collect()
        }
    assert None not in _dim(spark, f"{dims}/pays", "country", "id_pays")
    assert len(_fact(spark, target)) == 3 * 3 + 2 * 2  # NULL country dropped


def test_keep_last_is_the_later_file_in_name_order(spark, tmp_path):
    """Two COVID files report the same (country, date): the file later in
    name order wins, even though CSVs are read before JSONs."""
    src = tmp_path / "in"
    src.mkdir()
    header = ["location", "date", "total_cases", "total_deaths", "new_cases", "new_deaths"]
    early = [{"location": "Togo", "date": "2020-03-02", "total_cases": 111,
              "total_deaths": 11, "new_cases": 5, "new_deaths": 1}]
    (src / "covid_a.json").write_text(json.dumps(early))
    _write_csv(
        src / "covid_b.csv",
        [["Togo", "2020-03-01", 50, 4, 3, 1], ["Togo", "2020-03-02", 222, 22, 7, 2]],
        header=header,
    )
    target = str(tmp_path / "fact")

    warehouse_directory_to_parquet(spark, str(src), target, dims_path=str(tmp_path / "dims"))

    rows = spark.read.parquet(target).filter(F.col("date") == "2020-03-02").collect()
    assert [(r["total_cas"], r["total_mort"], r["nouveau_cas"]) for r in rows] == [(222, 22, 7)]


OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


def _run_writer(spark, writer: str, root: str) -> None:
    """Each writer twice: bootstrap, then the partition-swap path."""
    batch = spark.createDataFrame(
        [(1, "d1", 10), (2, "d2", 20)], "id long, day string, v long"
    )
    changes = spark.createDataFrame(
        [(1, "d1", 1, "U", 10), (2, "d2", 1, "D", 0)],
        "id long, day string, ts long, op string, v long",
    )
    for _ in range(2):
        if writer == "merge":
            merge_into_parquet(spark, root, batch, keys=["id", "day"], partition_col="day")
        elif writer == "compact":
            batch.write.partitionBy("day").mode("append").parquet(root)
            compact_partitions(spark, root, "day")
        elif writer == "cdc":
            cdc_merge_into_parquet(spark, root, changes, keys=["id", "day"], partition_col="day")
        else:
            refresh_aggregate(spark, root, batch, keys=["day"], sum_cols=["v"], partition_col="day")


@pytest.mark.parametrize("start", [None, "STATIC"], ids=["unset", "set"])
@pytest.mark.parametrize("writer", ["merge", "compact", "cdc", "refresh"])
def test_writers_leave_session_conf_as_found(spark, tmp_path, writer, start):
    saved = spark.conf.get(OVERWRITE_MODE, None)
    try:
        if start is None:
            spark.conf.unset(OVERWRITE_MODE)
        else:
            spark.conf.set(OVERWRITE_MODE, start)
        _run_writer(spark, writer, str(tmp_path / writer))
        assert spark.conf.get(OVERWRITE_MODE, None) == start
    finally:
        if saved is None:
            spark.conf.unset(OVERWRITE_MODE)
        else:
            spark.conf.set(OVERWRITE_MODE, saved)


@pytest.mark.parametrize("start", [None, "false"], ids=["unset", "set"])
def test_sentinel_flush_leaves_session_conf_as_found(spark, tmp_path, start):
    from etl_oms_spark.streaming.events import single_run_sentinel_flush

    knob = "spark.sql.streaming.noDataMicroBatches.enabled"
    saved = spark.conf.get(knob, None)
    src = str(tmp_path / "src")
    spark.createDataFrame([(1,)], "x long").write.parquet(src)
    try:
        if start is None:
            spark.conf.unset(knob)
        else:
            spark.conf.set(knob, start)
        single_run_sentinel_flush(
            spark, src, spark.createDataFrame([(2,)], "x long"), lambda s: s,
            str(tmp_path / "out"), str(tmp_path / "ckpt"),
        )
        assert spark.conf.get(knob, None) == start
    finally:
        if saved is None:
            spark.conf.unset(knob)
        else:
            spark.conf.set(knob, saved)
    assert sorted(r.x for r in spark.read.parquet(str(tmp_path / "out")).collect()) == [1, 2]


def test_empty_frame_keeps_schema_and_runs_no_python_worker(spark):
    ddl = "file STRING, n INT NOT NULL, xs ARRAY<DOUBLE>"
    df = local_rows(spark, [], ddl)
    assert df.schema == empty_frame(spark, ddl).schema
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema.fields] == [
        ("file", "string", True), ("n", "int", False), ("xs", "array<double>", True)
    ]
    assert df.collect() == []
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
