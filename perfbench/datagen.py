"""Seeded input generation for the benchmark.

Two products, both a pure function of ``(seed, scale)``:

* :func:`tpch_tables` — TPC-H-shaped tables (plus ``events``,
  ``documents`` and ``embeddings``) with the column names, types and
  value distributions of the engine's testdata, so every registered query
  runs on them unchanged. The engine query mix reads them as parquet.
* :func:`reference_sources` — the adapter from those tables to the four
  source shapes of the reference pipeline (FIXTURES.md §A): the
  ``Clientes`` and ``Transacciones`` sheets, the headerless mixed
  ``Varios`` sheet and the distributor JSON records, with the dirty cases
  injected at seeded positions.

The reference reads the sheets with ``pd.read_excel``; the frames built
here are what that call returns, so the benchmark hands them to
``spark_df_from_pandas`` directly. The Excel parse itself is not
measured: it needs ``openpyxl``, which the benchmark does not depend on.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gizmo", "rod", "plate", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

#: Transaction types of the ``Varios`` sheet's second table (ids 1..8).
TIPOS = [
    "Deposito", "Retiro", "Transferencia", "Pago",
    "Recarga", "Prestamo", "Abono", "Comision",
]
#: ``id_tipo_trx`` values used in transactions but absent from ``Varios``:
#: the star schema repairs them with generated dimension rows.
ORPHAN_TIPOS = [90, 91, 92, 93, 94]
BAD_TIMESTAMPS = ["not-a-ts", "2025-13-45 25:61:00", "??"]
BAD_DATES = ["garbage", "31/31/2020", "sin fecha"]
JUNK_IDS = ["junk", None, "12abc"]
CATEGORIAS = ["Oro", "Plata", "Bronce"]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts with exactly two decimals (integer cents / 100)."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def tpch_tables(
    seed: int,
    sf: float,
    start: dt.date = dt.date(1995, 1, 1),
    days: int = 2400,
) -> dict[str, pd.DataFrame]:
    """TPC-H-shaped tables at scale factor ``sf`` (sf 1 = 150k customers).

    Order and ship dates are midnight timestamps spread over ``days`` days
    from ``start``; ``events`` covers January 2024 as in the testdata.
    """
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = 4 * n_ord
    n_evt = max(int(1_000_000 * sf), 100)
    n_docs = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)
    n_users = max(int(15_000 * sf), 10)
    t0 = np.datetime64(start, "us")
    day_us = np.int64(86_400_000_000)

    def days_from_start(n: int) -> np.ndarray:
        return t0 + rng.integers(0, days, n).astype("int64") * day_us

    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS}
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    out["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part)
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": days_from_start(n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": days_from_start(n_line),
        }
    )
    gaps = rng.exponential(30 * 86_400e6 / n_evt, n_evt).astype("int64")
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_evt, dtype="int64"),
            "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps),
            "user_id": rng.integers(0, n_users, n_evt).astype("int64"),
            "event_type": rng.choice(EVENT_TYPES, n_evt),
            "value": np.maximum(np.round(rng.exponential(50, n_evt), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    texts = [
        " ".join(rng.choice(VOCAB, n)) for n in rng.integers(10, 100, n_docs)
    ]
    # ~5% near-duplicates: an earlier document plus a marker word
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    out["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    vecs = rng.standard_normal((n_emb, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype="int64"),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n_emb).astype("int32"),
        }
    )
    return out


def write_parquet(tables: dict[str, pd.DataFrame], sf_dir: str) -> None:
    """One ``<name>.parquet`` file per table, as in the engine's testdata."""
    import os

    os.makedirs(sf_dir, exist_ok=True)
    for name, pdf in tables.items():
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1, "embedding", pa.array(pdf["embedding"].tolist(), pa.list_(pa.float32()))
            )
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


@dataclass
class Sources:
    """The reference pipeline's four sources, as pandas frames.

    ``trx_day`` is the calendar day each ``transacciones`` row belongs to —
    also for rows whose date string was made unparseable — so the
    ``daily_cron`` workload can cut full-history sources at a day.
    """

    clientes: pd.DataFrame
    transacciones: pd.DataFrame
    varios: pd.DataFrame
    recomendados: pd.DataFrame
    trx_day: np.ndarray
    days: np.ndarray  # every calendar day of the history, ascending


def _seeded_positions(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    return rng.choice(n, size=max(1, int(n * share)), replace=False)


def reference_sources(tables: dict[str, pd.DataFrame], seed: int) -> Sources:
    """Adapter: ``customer`` → clientes, ``orders`` → transacciones,
    ``nation`` + :data:`TIPOS` → Varios, ``supplier`` → distributor JSON.

    Dirty cases (FIXTURES.md §A) at seeded positions: unparseable dates in
    both sheets, NaN and orphan ``id_tipo_trx``, duplicate distributors
    with differing names, clients missing from the JSON (and JSON clients
    missing from the sheet), junk ids in both ``Varios`` tables.
    """
    rng = np.random.default_rng([seed, 1])
    cust, orders = tables["customer"], tables["orders"]
    nation, supp = tables["nation"], tables["supplier"]
    n_cust, n_ord = len(cust), len(orders)

    first_day = orders["o_orderdate"].min()
    afil = first_day - pd.to_timedelta(rng.integers(30, 720, n_cust), unit="D")
    primer = afil + pd.to_timedelta(rng.integers(0, 60, n_cust), unit="D")
    afil_s = pd.Series(afil).dt.strftime("%Y-%m-%d").to_numpy(dtype=object)
    primer_s = pd.Series(primer).dt.strftime("%Y-%m-%d").to_numpy(dtype=object)
    for i in _seeded_positions(rng, n_cust, 0.01):
        afil_s[i] = BAD_DATES[i % len(BAD_DATES)]
    primer_s[_seeded_positions(rng, n_cust, 0.01)] = None
    clientes = pd.DataFrame(
        {
            "IDCLIENTE": cust["c_custkey"].to_numpy() + 1,
            "fechaafiliacion": afil_s,
            "fechaprimertrx": primer_s,
        }
    )

    day = orders["o_orderdate"].to_numpy().astype("datetime64[D]")
    ts = orders["o_orderdate"] + pd.to_timedelta(rng.integers(0, 86_400, n_ord), unit="s")
    fecha = ts.dt.strftime("%Y-%m-%d %H:%M:%S").to_numpy(dtype=object)
    for i in _seeded_positions(rng, n_ord, 0.005):
        fecha[i] = BAD_TIMESTAMPS[i % len(BAD_TIMESTAMPS)]
    tipo = rng.integers(1, len(TIPOS) + 1, n_ord).astype("float64")
    tipo[_seeded_positions(rng, n_ord, 0.01)] = np.nan
    orphan_pos = _seeded_positions(rng, n_ord, 0.01)
    tipo[orphan_pos] = rng.choice(ORPHAN_TIPOS, len(orphan_pos))
    monto = np.round(orders["o_totalprice"].to_numpy() / 100.0, 2)
    sede = cust["c_nationkey"].to_numpy()[orders["o_custkey"].to_numpy()]
    transacciones = pd.DataFrame(
        {
            "c0": orders["o_custkey"].to_numpy() + 1,
            "c1": fecha,
            "c2": tipo,
            "c3": orders["o_orderkey"].to_numpy() + 1,
            "c4": monto,
            "c5": np.round(monto * 0.015, 2),
            "c6": sede,
        }
    )

    grid: list[list] = [["ID", "SEDE"]]
    grid += [[int(k), n] for k, n in zip(nation["n_nationkey"], nation["n_name"])]
    grid.insert(1 + int(rng.integers(0, len(nation))), [JUNK_IDS[0], "Sede Fantasma"])
    grid.append(["ID", "TIPO"])
    grid += [[i + 1, name] for i, name in enumerate(TIPOS)]
    grid.insert(len(grid) - int(rng.integers(0, len(TIPOS))), [JUNK_IDS[1], "Sin Id"])
    grid.append([JUNK_IDS[2], "Tipo Basura"])
    varios = pd.DataFrame(grid)

    in_json = np.ones(n_cust, dtype=bool)
    in_json[_seeded_positions(rng, n_cust, 0.03)] = False
    ids = cust["c_custkey"].to_numpy()[in_json] + 1
    extra = np.arange(n_cust + 1, n_cust + 1 + max(1, n_cust // 100))
    json_ids = np.concatenate([ids, extra])
    n_json = len(json_ids)
    dist = rng.integers(0, len(supp), n_json)
    names = supp["s_name"].to_numpy(dtype=object)[dist].copy()
    for i in _seeded_positions(rng, n_json, 0.02):
        names[i] = names[i] + " DUPLICADA"
    recomendados = pd.DataFrame(
        {
            "IDCLIENTE": json_ids,
            "IDDISTRIBUIDOR": supp["s_suppkey"].to_numpy()[dist] + 1,
            "NOMBRE DISTRIBUIDOR": names,
            "TELEFONO": 5_550_000_000 + json_ids,
            "categoría": rng.choice(CATEGORIAS, n_json),
            "recomendados": rng.integers(0, 10, n_json),
        }
    ).iloc[rng.permutation(n_json)].reset_index(drop=True)

    return Sources(
        clientes=clientes,
        transacciones=transacciones,
        varios=varios,
        recomendados=recomendados,
        trx_day=day,
        days=np.unique(day),
    )
