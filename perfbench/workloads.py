"""The workloads: their operations and their correctness gates.

An operation is one query run or one pipeline call. ``build`` constructs
the DataFrame(s) through the public entry points, including whatever
eager jobs construction runs; ``act`` runs the sink. The runner times the
two halves separately. ``check(built, result)`` is the correctness gate:
the runner calls it, untimed, right after the operation in every untraced
warm pass, and it returns the list of problems found (empty when the
output is right).
"""

from __future__ import annotations

import importlib.util
import os
import random
import shutil
from dataclasses import dataclass
from typing import Any, Callable

from . import whogen

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")

# driver-bound fixpoint, iterative and streaming queries: tens of eager
# jobs while building, a cheap action
ITERATIVE = [
    "kc1_kcore",
    "kcs1_kcenter_coreset",
    "e7_kmeans",
    "sdd1_streaming_dedup",
]

# the who_warehouse operations, in pipeline order, and the per-layer
# metric each one's wall time is reported under
WHO_OPS = {
    "load": "warehouse.load_s",
    "upsert": "warehouse.upsert_s",
    "long": "reports.long_s",
    "pivot": "reports.pivot_s",
    "star": "reports.star_s",
}

SCALES = {
    # (sf data directory, who_warehouse generator size). 120 days give the
    # load a 120-partition write and the upsert 12 rewritten partitions;
    # NOTES.md has the load and upsert times at other sizes
    "bench": ("sf0.01", {"countries": 24, "days": 120}),
    "tiny": ("sf0.001", {"countries": 6, "days": 20}),
}


@dataclass
class Op:
    name: str
    build: Callable[[], Any]
    act: Callable[[Any], Any]
    check: Callable[[Any, Any], list[str]]


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _tools_check(root: str):
    """``tools/check.py`` of the checkout, for its ``TABLES`` and ``compare``."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_tools_check", os.path.join(root, "tools", "check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class IterativeDriver:
    """Contract queries on the bundled TESTDATA.md tables, noop sink.

    The seed only permutes the order of the warm passes; the cold pass
    keeps the declared order because its first query pays JVM warm-up.
    """

    has_outputs = False

    def __init__(self, root: str, work: str, seed: int, scale: str) -> None:
        import __spark_entry__ as entry

        self.entry = entry
        self.queries = list(ITERATIVE)
        self.sf_dir = os.path.join(DATA, SCALES[scale][0])
        self.rng = random.Random(seed)
        self.oracles = entry.oracle_sql()
        self.tools = _tools_check(root)
        missing = [q for q in self.queries if q not in self.oracles]
        if missing:
            raise SystemExit(f"queries without an oracle: {missing}")

    def ops(self, spark, out_dir: str) -> list[Op]:
        qs = self.entry.queries()
        return [
            Op(q, lambda fn=qs[q]: fn(spark, self.sf_dir), noop_sink,
               lambda df, _, q=q: self._check(df, q))
            for q in self.queries
        ]

    def warm_order(self, ops: list[Op]) -> list[Op]:
        ops = list(ops)
        self.rng.shuffle(ops)
        return ops

    def _check(self, df, q: str) -> list[str]:
        """Collects the DataFrame the operation built and sank, and
        compares it with the query's DuckDB oracle by ``tools/check.py``'s
        rules."""
        import duckdb

        got = df.toPandas()
        with duckdb.connect() as con:
            for t in self.tools.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.sf_dir}/{t}.parquet')")
            want = con.execute(self.oracles[q]).df()
        return self.tools.compare(q, got, want)


class WhoWarehouse:
    """The paper's v4 production path on a seeded input directory.

    One pass loads batch 1 into an empty date-partitioned parquet fact,
    upserts batch 2, then writes the long-format, pivot and star-schema
    reports of the batch-1 COVID panel through ``sources.writers``.
    """

    has_outputs = True

    def __init__(self, root: str, work: str, seed: int, scale: str) -> None:
        self.input = os.path.join(work, "who-input")
        shutil.rmtree(self.input, ignore_errors=True)
        self.truth = whogen.generate(self.input, seed, **SCALES[scale][1])
        self.batch1 = os.path.join(self.input, "batch1")
        self.batch2 = os.path.join(self.input, "batch2")
        self.panel = os.path.join(self.batch1, "covid_19_clean_complete.csv")
        self.input_bytes = whogen.input_bytes(self.batch1) + whogen.input_bytes(self.batch2)

    def _load(self, spark, batch: str, out_dir: str):
        from etl_oms_spark.plans.pipelines import warehouse_directory_to_parquet

        return warehouse_directory_to_parquet(
            spark, batch, os.path.join(out_dir, "fact"),
            dims_path=os.path.join(out_dir, "dims"),
        )

    def _long(self, spark):
        from etl_oms_spark.plans.pipelines import long_format_pipeline
        from etl_oms_spark.sources.readers import read_csv

        return long_format_pipeline(read_csv(spark, self.panel), "COVID-19")

    @staticmethod
    def _duckdb(sql: str, parquet_glob: str) -> list[tuple]:
        """Runs ``sql`` on DuckDB with ``t`` the hive-partitioned parquet
        files matching ``parquet_glob``: the checks read the outputs with
        another engine, and in a fraction of the time Spark takes."""
        import duckdb

        with duckdb.connect() as con:
            con.read_parquet(parquet_glob, hive_partitioning=True).create_view("t")
            return con.execute(sql).fetchall()

    def _fact_state(self, out_dir: str):
        """(rows, distinct keys, per-disease sums) of the fact."""
        per_disease = self._duckdb(
            "SELECT id_maladie, count(*), count(DISTINCT (id_region, date)), "
            "sum(nouveau_cas), sum(nouveau_mort), max(total_cas) "
            "FROM t GROUP BY id_maladie ORDER BY id_maladie",
            os.path.join(out_dir, "fact", "*", "*.parquet"))
        return (sum(r[1] for r in per_disease), sum(r[2] for r in per_disease),
                per_disease)

    def _check_load(self, spark, out_dir: str, result, step: str) -> list[str]:
        """The bilan counters and the fact's key count after a load or an
        upsert; after the upsert, a repeated upsert must change nothing."""
        problems = []
        bilan, want = result[1], self.truth[f"bilan_{step}"]
        if bilan != want:
            problems.append(f"bilan {bilan} != {want}")
        state = self._fact_state(out_dir)
        want = self.truth[f"fact_keys_{step}"]
        if state[0] != state[1] or state[1] != want:
            problems.append(f"fact rows={state[0]} keys={state[1]}, expected {want} unique keys")
        if step == "upsert":
            self._load(spark, self.batch2, out_dir)
            if self._fact_state(out_dir) != state:
                problems.append("repeated upsert changed the fact table")
        return problems

    def _check_rows(self, path: str, key: str) -> list[str]:
        n = self._duckdb("SELECT count(*) FROM t", os.path.join(path, "*.parquet"))[0][0]
        return [] if n == self.truth[key] else [f"{key}: {n} != {self.truth[key]}"]

    def ops(self, spark, out_dir: str) -> list[Op]:
        from etl_oms_spark.plans.pipelines import pivot_report, star_schema_pipeline
        from etl_oms_spark.sources.readers import read_csv
        from etl_oms_spark.sources.writers import write_parquet

        def out(name: str) -> str:
            return os.path.join(out_dir, name)

        def write_star(tables) -> None:
            for k in sorted(tables):
                write_parquet(tables[k], out(f"star/{k}"))

        return [
            Op("load", lambda: None,
               lambda _: self._load(spark, self.batch1, out_dir),
               lambda _, r: self._check_load(spark, out_dir, r, "load")),
            Op("upsert", lambda: None,
               lambda _: self._load(spark, self.batch2, out_dir),
               lambda _, r: self._check_load(spark, out_dir, r, "upsert")),
            Op("long", lambda: self._long(spark),
               lambda df: write_parquet(df, out("long")),
               lambda *_: self._check_rows(out("long"), "long_rows")),
            Op("pivot", lambda: pivot_report(self._long(spark)),
               lambda df: write_parquet(df, out("pivot")),
               lambda *_: self._check_rows(out("pivot"), "pivot_rows")),
            Op("star",
               lambda: star_schema_pipeline(read_csv(spark, self.panel), "COVID-19"),
               write_star,
               lambda *_: self._check_rows(out("star/Statistique"), "fact_rows_star")),
        ]

    def warm_order(self, ops: list[Op]) -> list[Op]:
        return list(ops)


WORKLOADS = {
    "who_warehouse": WhoWarehouse,
    "iterative_driver": IterativeDriver,
}
