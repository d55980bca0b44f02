"""Correctness checks, computed independently of the engine.

* :class:`LoadOracle` — the per-table inserted and ignored counts a load
  must report, from DuckDB over the generated pandas sources and the keys
  already loaded.
* :func:`report_expectation` — ``diaria``, ``acumulado_mes`` and the
  per-distributor totals of one cut day, from DuckDB over the generated
  rows, with the engine's cut-day-inclusive semantics (the whole cut day
  counts, see ``report.QUERY_METRICS``).
* :func:`oracle_mismatch` — a registry query's result against its DuckDB
  oracle, canonicalized as ``tests/parity.py`` does.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import duckdb
import pandas as pd

TABLES = (
    "dim_sedes",
    "dim_tipo_transaccion",
    "dim_distribuidores",
    "dim_clientes",
    "fct_transacciones",
)

_VARIOS_SPLIT = """
    WITH hdr AS (SELECT min(pos) AS h0, max(pos) AS h1 FROM varios WHERE c0 = 'ID')
    SELECT pos > h1 AS is_tipo, CAST(TRY_CAST(c0 AS DOUBLE) AS INTEGER) AS k
    FROM varios, hdr
    WHERE pos > h0 AND pos <> h1 AND TRY_CAST(c0 AS DOUBLE) IS NOT NULL
"""

#: One row per star-schema row, with its table and primary key.
_STAR_KEYS = f"""
    WITH v AS ({_VARIOS_SPLIT}),
    tipos AS (SELECT k FROM v WHERE is_tipo)
    SELECT 'dim_sedes' AS t, k FROM v WHERE NOT is_tipo
    UNION ALL SELECT 'dim_tipo_transaccion', k FROM tipos
    UNION ALL SELECT 'dim_tipo_transaccion', k FROM (
        SELECT DISTINCT CAST(c2 AS INTEGER) AS k FROM trx
        WHERE c2 IS NOT NULL AND NOT isnan(c2)
    ) WHERE k NOT IN (SELECT k FROM tipos)
    UNION ALL SELECT 'dim_distribuidores', k FROM (
        SELECT DISTINCT CAST(IDDISTRIBUIDOR AS INTEGER) AS k FROM rec
    )
    UNION ALL SELECT 'dim_clientes', CAST(c.IDCLIENTE AS INTEGER)
        FROM cli c LEFT JOIN rec r ON c.IDCLIENTE = r.IDCLIENTE
    UNION ALL SELECT 'fct_transacciones', CAST(c3 AS INTEGER) FROM trx
"""

_REPORT_METRICS = """
    SELECT SUM(CASE WHEN CAST(ts AS DATE) = $corte THEN monto ELSE 0 END) AS diaria,
           SUM(monto) AS acumulado_mes
    FROM (SELECT TRY_CAST(c1 AS TIMESTAMP) AS ts, CAST(c4 AS DECIMAL(12, 2)) AS monto FROM trx)
    WHERE ts >= $mes_inicio AND CAST(ts AS DATE) <= $corte
"""

_REPORT_DISTRIBUTORS = """
    WITH dist AS (
        SELECT CAST(IDDISTRIBUIDOR AS INTEGER) AS id, "NOMBRE DISTRIBUIDOR" AS nombre
        FROM (SELECT *, row_number() OVER (PARTITION BY IDDISTRIBUIDOR ORDER BY pos) AS rn
              FROM rec)
        WHERE rn = 1
    ),
    clientes AS (
        SELECT CAST(c.IDCLIENTE AS INTEGER) AS id, CAST(r.IDDISTRIBUIDOR AS INTEGER) AS dist
        FROM cli c LEFT JOIN rec r ON c.IDCLIENTE = r.IDCLIENTE
    )
    SELECT COALESCE(d.nombre, 'Venta Directa') AS nombre,
           SUM(CAST(t.c4 AS DECIMAL(12, 2))) AS total
    FROM trx t
    LEFT JOIN clientes c ON CAST(t.c0 AS INTEGER) = c.id
    LEFT JOIN dist d ON c.dist = d.id
    WHERE CAST(TRY_CAST(t.c1 AS TIMESTAMP) AS DATE) = $corte
    GROUP BY 1
"""


def _connect(clientes, transacciones, varios, recomendados) -> duckdb.DuckDBPyConnection:
    """DuckDB over the pandas sources, typed as the engine's ingest sees them
    (``spark_df_from_pandas`` turns object columns into strings)."""
    con = duckdb.connect()
    grid = varios.copy()
    grid.columns = ["c0", "c1"]
    grid = grid.map(lambda v: None if pd.isna(v) else str(v))
    grid["pos"] = range(len(grid))
    rec = recomendados.copy()
    rec["pos"] = range(len(rec))
    con.register("varios", grid)
    con.register("trx", transacciones)
    con.register("cli", clientes)
    con.register("rec", rec)
    return con


class LoadOracle:
    """Expected ``LoadResult`` counts for a sequence of loads into one
    warehouse: a row is inserted when its key is not loaded yet."""

    def __init__(self) -> None:
        self.loaded: dict[str, set[int]] = {t: set() for t in TABLES}

    def expect(self, clientes, transacciones, varios, recomendados) -> dict[str, tuple[int, int]]:
        con = _connect(clientes, transacciones, varios, recomendados)
        try:
            rows = con.execute(_STAR_KEYS).fetchall()
        finally:
            con.close()
        by_table: dict[str, list[int]] = {t: [] for t in TABLES}
        for table, key in rows:
            by_table[table].append(key)
        out = {}
        for table, keys in by_table.items():
            new = [k for k in keys if k not in self.loaded[table]]
            out[table] = (len(new), len(keys) - len(new))
            self.loaded[table].update(new)
        return out


def load_mismatches(results, expected: dict[str, tuple[int, int]]) -> list[str]:
    """Differences between the engine's ``LoadResult`` list and ``expected``."""
    got = {r.table: (r.inserted, r.ignored) for r in results}
    bad = [f"{r.table}: load failed" for r in results if not r.ok]
    for table, want in expected.items():
        if got.get(table) != want:
            bad.append(f"{table}: inserted/ignored {got.get(table)} != expected {want}")
    return bad


def report_expectation(
    clientes, transacciones, varios, recomendados, corte: dt.date
) -> tuple[Decimal, Decimal, dict[str, Decimal]]:
    con = _connect(clientes, transacciones, varios, recomendados)
    try:
        params = {"corte": corte, "mes_inicio": corte.replace(day=1)}
        diaria, acumulado = con.execute(_REPORT_METRICS, params).fetchone()
        dist = dict(con.execute(_REPORT_DISTRIBUTORS, {"corte": corte}).fetchall())
    finally:
        con.close()
    return diaria or Decimal(0), acumulado or Decimal(0), dist


def report_mismatches(metrics, distribuidores, expected) -> list[str]:
    """Differences between the engine's report rows and ``expected``."""
    diaria, acumulado, dist = expected
    bad = []
    if Decimal(metrics["diaria"] or 0) != diaria:
        bad.append(f"diaria {metrics['diaria']} != {diaria}")
    if Decimal(metrics["acumulado_mes"] or 0) != acumulado:
        bad.append(f"acumulado_mes {metrics['acumulado_mes']} != {acumulado}")
    got = {r["nombre_distribuidor"]: Decimal(r["total_prestamos"]) for r in distribuidores}
    if got != dist:
        bad.append(f"distributor totals differ on {len(set(got.items()) ^ set(dist.items()))} entries")
    totals = [r["total_prestamos"] for r in distribuidores]
    if totals != sorted(totals, reverse=True):
        bad.append("distributor rows not ordered by total descending")
    return bad


def oracle_mismatch(result: pd.DataFrame, oracle_sql: str, con: duckdb.DuckDBPyConnection) -> str | None:
    """None when ``result`` equals the oracle's rows after canonicalization."""
    from tests.parity import canonicalize

    want = con.execute(oracle_sql).df()
    if sorted(c.lower() for c in result.columns) != sorted(c.lower() for c in want.columns):
        return f"columns {sorted(result.columns)} != {sorted(want.columns)}"
    if len(result) != len(want):
        return f"{len(result)} rows != {len(want)} oracle rows"
    left, right = canonicalize(result), canonicalize(want)
    bad = sum(a != b for a, b in zip(left, right))
    return f"{bad} rows differ" if bad else None
