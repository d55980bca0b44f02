"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import sys
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import datagen  # noqa: E402
import expect  # noqa: E402
import metrics  # noqa: E402
import probe  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from python_sql_etl_project_spark.load.incremental import LoadResult  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _sources(seed: int) -> datagen.Sources:
    start = workloads.ETL_END - dt.timedelta(days=workloads.ETL_DAYS - 1)
    tables = datagen.tpch_tables(seed, workloads.ETL_SF, start, workloads.ETL_DAYS)
    return datagen.reference_sources(tables, seed)


@pytest.fixture(scope="module")
def src() -> datagen.Sources:
    return _sources(5)


@pytest.fixture(scope="module")
def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- the adapter ----------------------------------------------------------


def test_adapter_is_deterministic(src):
    again = _sources(5)
    for name in ("clientes", "transacciones", "varios", "recomendados"):
        pd.testing.assert_frame_equal(getattr(src, name), getattr(again, name))
    np.testing.assert_array_equal(src.trx_day, again.trx_day)
    other = _sources(6)
    assert not src.transacciones.equals(other.transacciones)


def test_query_mix_tables_are_deterministic():
    a = datagen.tpch_tables(3, 0.001)
    b = datagen.tpch_tables(3, 0.001)
    assert a.keys() == b.keys()
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])


def test_adapter_injects_every_dirty_case(src):
    trx, cli, rec = src.transacciones, src.clientes, src.recomendados
    assert trx["c1"].isin(datagen.BAD_TIMESTAMPS).any()
    assert cli["fechaafiliacion"].isin(datagen.BAD_DATES).any()
    assert trx["c2"].isna().any()
    assert trx["c2"].isin(datagen.ORPHAN_TIPOS).any()
    names = rec.groupby("IDDISTRIBUIDOR")["NOMBRE DISTRIBUIDOR"].nunique()
    assert (names > 1).any()
    assert not set(cli["IDCLIENTE"]) <= set(rec["IDCLIENTE"])
    assert not set(rec["IDCLIENTE"]) <= set(cli["IDCLIENTE"])
    ids = src.varios[0].tolist()
    assert ids.count("ID") == 2
    for junk in datagen.JUNK_IDS:
        assert junk in ids
    assert trx["c3"].is_unique


# -- names ------------------------------------------------------------------


def test_emitted_names_are_listed_in_benchmark_json(bench):
    listed_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    listed_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert listed_e2e == metrics.END_TO_END
    assert listed_layer == metrics.PER_LAYER
    names = [*listed_e2e, *listed_layer, *(w["name"] for w in bench["workloads"])]
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names))
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
    assert any(m["name"] == "setup_s" and m["better"] == "lower" for m in bench["end_to_end"])


def test_query_mix_covers_every_module_metric():
    from python_sql_etl_project_spark import registry

    registry.load_all()
    modules = {workloads.module_of(q) for q in workloads.MIX_QUERIES}
    assert modules == set(metrics.MIX_MODULES)
    assert all(q in registry.ORACLES for q in workloads.MIX_QUERIES)


def test_span_names_map_to_layers():
    spans = [
        probe.Span("sources", 0, 0, None, 0.0, 1.0, {"rows": 10}, _counts()),
        probe.Span("load.dim_clientes", 0, 1, 2, 1.0, 1.5, {}, _counts()),
        probe.Span("load", 0, 2, None, 1.0, 3.0, {"results": [["dim_clientes", 4, 6, True]]}, _counts()),
        probe.Span("operators.graph", 0, 3, None, 3.0, 4.0, {"query": "q"}, _counts(sql_exec_s=0.25)),
    ]
    v = metrics.layer_values(spans, 0)
    assert set(v) == set(metrics.PER_LAYER)
    assert v["load.self_s"] == pytest.approx(1.5)
    assert v["load.dim_clientes.busy_s"] == pytest.approx(0.5)
    assert v["load.useful_ratio"] == pytest.approx(0.4)
    assert v["operators.graph.driver_s"] == pytest.approx(0.75)
    with pytest.raises(ValueError):
        metrics.layer_values([probe.Span("mystery", 0, 0, None, 0.0, 1.0, {}, _counts())], 0)


def _counts(**over) -> dict:
    c = dict.fromkeys(
        ("sql_execs", "sql_exec_s", "jobs", "gc_s", "files_read", "partitions_read",
         "scan_rows", "files_written", "shuffle_bytes", "spill_bytes", "bytes_written"),
        0,
    )
    c.update(over)
    return c


def test_dot_metrics_parse():
    dot = "\n".join(
        [
            "digraph G {",
            '  0 [id="node0" labelType="html" label="<b>Execute InsertIntoHadoopFsRelationCommand</b>'
            '<br><br>number of written files: 1,210<br>written output: 8.7 KiB" tooltip="x"];',
            '  8 [id="node8" labelType="html" label="<b>Scan parquet </b><br><br>number of files read: 2'
            "<br>scan time total (min, med, max (stageId: taskId))<br>179 ms (88 ms, 91 ms, 91 ms)"
            '<br>number of output rows: 200<br>number of partitions read: 1" tooltip="FileScan"];',
            '  5 [id="node5" labelType="html" label="<b>Range</b><br><br>number of output rows: 1,000" tooltip="R"];',
            "}",
        ]
    )
    assert probe.parse_dot_metrics(dot) == {
        "files_read": 2,
        "partitions_read": 1,
        "scan_rows": 200,
        "files_written": 1210,
    }


# -- correctness checkers fail on perturbed results ---------------------------


def test_load_checker_fails_on_perturbed_counts(src):
    frames = (src.clientes, src.transacciones, src.varios, src.recomendados)
    expected = expect.LoadOracle().expect(*frames)
    assert expected["dim_sedes"] == (25, 0)
    assert expected["fct_transacciones"] == (len(src.transacciones), 0)
    assert expected["dim_tipo_transaccion"][0] == len(datagen.TIPOS) + len(datagen.ORPHAN_TIPOS)
    good = [LoadResult(t, ins, ign, True) for t, (ins, ign) in expected.items()]
    assert expect.load_mismatches(good, expected) == []
    off_by_one = [LoadResult(r.table, r.inserted + (r.table == "dim_clientes"), r.ignored, True) for r in good]
    assert expect.load_mismatches(off_by_one, expected)
    failed = [LoadResult(r.table, r.inserted, r.ignored, r.table != "dim_sedes") for r in good]
    assert expect.load_mismatches(failed, expected)


def test_rerun_expects_nothing_inserted(src):
    oracle = expect.LoadOracle()
    frames = (src.clientes, src.transacciones, src.varios, src.recomendados)
    oracle.expect(*frames)
    again = oracle.expect(*frames)
    assert all(inserted == 0 for inserted, _ in again.values())


def test_report_checker_fails_on_perturbed_report(src):
    corte = dt.date.fromisoformat(str(src.days[-3]))
    want = expect.report_expectation(src.clientes, src.transacciones, src.varios, src.recomendados, corte)
    diaria, acumulado, dist = want
    assert diaria > 0 and acumulado >= diaria and dist
    rows = [
        {"nombre_distribuidor": k, "total_prestamos": v}
        for k, v in sorted(dist.items(), key=lambda kv: kv[1], reverse=True)
    ]
    metrics_row = {"diaria": diaria, "acumulado_mes": acumulado}
    assert expect.report_mismatches(metrics_row, rows, want) == []
    bumped = {"diaria": diaria + Decimal("0.01"), "acumulado_mes": acumulado}
    assert expect.report_mismatches(bumped, rows, want)
    moved = [dict(rows[0], total_prestamos=rows[0]["total_prestamos"] - Decimal("0.01")), *rows[1:]]
    assert expect.report_mismatches(metrics_row, moved, want)
    assert expect.report_mismatches(metrics_row, rows[::-1], want)


def test_oracle_checker_fails_on_perturbed_rows():
    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (1, 'a', 0.5), (2, 'b', 1.5)) t(k, s, x)"
    good = pd.DataFrame({"k": [2, 1], "s": ["b", "a"], "x": [1.5, 0.5]})
    assert expect.oracle_mismatch(good, sql, con) is None
    assert expect.oracle_mismatch(good.assign(x=[1.5, 0.25]), sql, con)
    assert expect.oracle_mismatch(good.iloc[:1], sql, con)
    assert expect.oracle_mismatch(good.rename(columns={"x": "y"}), sql, con)


def test_refuses_shared_flags_and_report_credentials(monkeypatch):
    for k in list(os.environ):
        if k.startswith(run.SHARED_FLAG_PREFIX) or k in run.TELEGRAM_VARS:
            monkeypatch.delenv(k)
    assert run.refuse_environment() is None
    monkeypatch.setenv("SPARK_GRAFT_SHARED_EDGES", "1")
    assert run.refuse_environment()
    monkeypatch.delenv("SPARK_GRAFT_SHARED_EDGES")
    monkeypatch.setenv("TELEGRAM_TOKEN", "x")
    assert run.refuse_environment()
