"""The benchmark's two workloads.

Each workload is a closed loop with one client: :meth:`setup` once, then
:meth:`op` repeatedly, each operation starting after the previous one
completed. An operation returns an :class:`Op` with its wall time split
into the end-to-end parts the workload reports, and whether it failed.
Correctness checks run after the timed calls and are not timed.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import datagen
import expect
from python_sql_etl_project_spark import registry
from python_sql_etl_project_spark.load.incremental import Warehouse
from python_sql_etl_project_spark.plans.star_schema import build_star_schema
from python_sql_etl_project_spark.report import format_message, get_sales_data
from python_sql_etl_project_spark.sources.ingest import (
    read_json_records,
    spark_df_from_pandas,
)

#: ETL inputs: sf 0.01 of the TPC-H shapes (1,500 clients, 15,000
#: transactions) over 60 days, so the fact table has 60 date partitions.
ETL_SF = 0.01
ETL_DAYS = 60
ETL_END = dt.date(2025, 6, 30)
#: ``daily_cron`` holds out this many days, drawn from the last
#: ``HELD_OUT_WINDOW`` days of the history.
HELD_OUT_DAYS = 12
HELD_OUT_WINDOW = 20
#: Query-mix inputs: sf 0.01 of the testdata shapes.
MIX_SF = 0.01
#: One registered query per engine module that registers queries, the
#: cheapest that exercises the module's characteristic operator; the
#: reference report query stands for ``plans.analytics``.
MIX_QUERIES = (
    "q1_pricing_summary",
    "ref_distributor_report",
    "dd_simhash",
    "sim_knn_brute",
    "txt_token_stats",
    "graph_degree_distribution",
    "strm_static_dim_enrich",
    "mm_feature_extract",
    "smp_hash_split",
    "fn_sql_table_function",
    "scd2_customer_status_history",
)
#: Set-up steps that are cheap enough are repeated and their median kept.
SETUP_REPEATS = 3


@dataclass
class Op:
    wall: float
    parts: dict[str, float]
    failed: bool = False
    problems: list[str] = field(default_factory=list)
    #: set by the runner: whether the operation ran traced, and the summed
    #: peak use of the JVM's heap pools while it ran
    traced: bool = False
    heap_peak_mb: float = 0.0


def module_of(query: str) -> str:
    """``plans.tpch`` for a query registered in ``python_sql_etl_project_spark.plans.tpch``."""
    return registry.QUERIES[query].__module__.split(".", 1)[1]


def _median_time(fn, repeats: int = SETUP_REPEATS) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


class TracedWarehouse(Warehouse):
    """The engine's warehouse with one span per table load."""

    def __init__(self, spark, base_dir, tracer):
        super().__init__(spark, base_dir)
        self.tracer = tracer

    def incremental_append(self, df, table):
        with self.tracer.span(f"load.{table}"):
            return super().incremental_append(df, table)


class Workload:
    name = ""
    #: operations a run makes, and checks, before the measured ones
    warmup_ops = 0

    def __init__(self, spark, tracer, tmp: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.tmp = tmp
        self.seed = seed
        #: set-up time beyond the session build, and its parts
        self.setup_parts: dict[str, float] = {}
        self.max_ops: int | None = None
        #: warehouse size after each operation's load (``daily_cron``)
        self.warehouse_mb: list[float] = []

    def setup(self) -> None:
        raise NotImplementedError

    def verify(self) -> dict[str, str]:
        """Checks that run once, after set-up and before the measured
        operations; returns the mismatches by name."""
        return {}

    def op(self, i: int) -> Op:
        raise NotImplementedError


class DailyCron(Workload):
    """The reference's daily cron, one held-out day per operation: load
    the full history through that day, then report on it."""

    name = "daily_cron"
    # the first anti-join load runs 15-45% slower than the next ones while
    # the JVM compiles its paths
    warmup_ops = 1

    def _generate(self) -> None:
        tables = datagen.tpch_tables(
            self.seed, ETL_SF, ETL_END - dt.timedelta(days=ETL_DAYS - 1), ETL_DAYS
        )
        self.src = datagen.reference_sources(tables, self.seed)
        self.json_path = os.path.join(self.tmp, "RecomendadosMarca.json")
        self.src.recomendados.to_json(self.json_path, orient="records", force_ascii=False)

    def _frames(self, trx_mask=None):
        trx = self.src.transacciones
        if trx_mask is not None:
            trx = trx[trx_mask]
        return self.src.clientes, trx, self.src.varios, self.src.recomendados

    def _load(self, warehouse: Warehouse, frames):
        """One pipeline run (``pipeline.run_pipeline`` with the Excel parse
        replaced by the already-parsed frames); returns the load results."""
        cli, trx, varios, rec = frames
        with self.tracer.span("sources", rows=len(cli) + len(trx) + len(varios) + len(rec)):
            sources = (
                spark_df_from_pandas(self.spark, cli),
                spark_df_from_pandas(self.spark, trx),
                spark_df_from_pandas(self.spark, varios),
                read_json_records(self.spark, self.json_path),
            )
        with self.tracer.span("star_schema"):
            tables = build_star_schema(*sources)
        with self.tracer.span("load") as sp:
            results = warehouse.load_ordered(tables)
            if sp is not None:
                sp.attrs["results"] = [
                    [r.table, r.inserted, r.ignored, r.ok] for r in results
                ]
        return results

    def setup(self) -> None:
        self.setup_parts["generate_s"] = _median_time(self._generate)
        rng = np.random.default_rng([self.seed, 2])
        window = self.src.days[-HELD_OUT_WINDOW:]
        self.held_out = np.sort(rng.choice(window, HELD_OUT_DAYS, replace=False))
        self.max_ops = HELD_OUT_DAYS

        pristine = os.path.join(self.tmp, "pristine")
        preloaded = TracedWarehouse(self.spark, pristine, self.tracer)
        frames = self._frames(~np.isin(self.src.trx_day, self.held_out))
        self.oracle = expect.LoadOracle()
        t0 = time.perf_counter()
        results = self._load(preloaded, frames)
        self.setup_parts["preload_s"] = time.perf_counter() - t0
        problems = expect.load_mismatches(results, self.oracle.expect(*frames))
        if problems:
            raise RuntimeError("preload incorrect: " + "; ".join(problems))

        self.work = os.path.join(self.tmp, "warehouse")

        def copy():
            shutil.rmtree(self.work, ignore_errors=True)
            shutil.copytree(pristine, self.work)

        self.setup_parts["copy_s"] = _median_time(copy)
        self.warehouse = TracedWarehouse(self.spark, self.work, self.tracer)

    def op(self, i: int) -> Op:
        day = self.held_out[i]
        frames = self._frames(self.src.trx_day <= day)
        corte = str(day)
        t0 = time.perf_counter()
        results = self._load(self.warehouse, frames)
        t1 = time.perf_counter()
        with self.tracer.span("report.register_views"):
            self.warehouse.register_views()
        with self.tracer.span("report") as sp:
            metrics, distribuidores = get_sales_data(self.spark, corte)
            text = format_message(metrics, distribuidores, corte)
            if sp is not None:
                sp.attrs["result_rows"] = 1 + len(distribuidores)
        t2 = time.perf_counter()

        problems = expect.load_mismatches(results, self.oracle.expect(*frames))
        problems += expect.report_mismatches(
            metrics,
            distribuidores,
            expect.report_expectation(*self._frames(), dt.date.fromisoformat(corte)),
        )
        if not text.startswith("REPORTE DE COLOCACIÓN"):
            problems.append("report text not rendered")
        self.warehouse_mb.append(dir_bytes(self.work) / 1e6)
        return Op(t2 - t0, {"cron_load_s": t1 - t0, "report_s": t2 - t1}, bool(problems), problems)


class EngineQueryMix(Workload):
    """One operation is one pass over :data:`MIX_QUERIES`, each query run
    to a ``noop`` sink after ``clearCache`` and a JVM GC."""

    name = "engine_query_mix"
    # the oracle pass in :meth:`verify` has run every query once
    warmup_ops = 0

    def setup(self) -> None:
        self.sf_dir = os.path.join(self.tmp, "sf")

        def generate():
            datagen.write_parquet(datagen.tpch_tables(self.seed, MIX_SF), self.sf_dir)

        self.setup_parts["generate_s"] = _median_time(generate)
        self.jvm_system = self.spark.sparkContext._jvm.java.lang.System

    def verify(self) -> dict[str, str]:
        """Every query's collected result against its DuckDB oracle; this
        also warms the JVM before the measured passes."""
        from tests.parity import duckdb_connection

        bad = {}
        con = duckdb_connection(self.sf_dir)
        try:
            for q in MIX_QUERIES:
                try:
                    result = registry.QUERIES[q](self.spark, self.sf_dir).toPandas()
                    problem = expect.oracle_mismatch(result, registry.ORACLES[q], con)
                except Exception:
                    problem = traceback.format_exc(limit=3)
                if problem:
                    bad[q] = problem
        finally:
            con.close()
        self.spark.catalog.clearCache()
        return bad

    def op(self, i: int) -> Op:
        total = 0.0
        problems = []
        for q in MIX_QUERIES:
            self.spark.catalog.clearCache()
            self.jvm_system.gc()
            t0 = time.perf_counter()
            try:
                with self.tracer.span(module_of(q), query=q):
                    registry.QUERIES[q](self.spark, self.sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
            except Exception:
                problems.append(f"{q}: {traceback.format_exc(limit=3)}")
            total += time.perf_counter() - t0
        return Op(total, {"query_mix_s": total}, bool(problems), problems)


WORKLOADS = {w.name: w for w in (DailyCron, EngineQueryMix)}
