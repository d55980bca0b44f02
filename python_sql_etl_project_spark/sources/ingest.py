"""Source adapters (replaces ``/root/reference/src/extract.py``).

Design split (SURVEY §2.1): *edge* formats — Excel workbooks, remote-object
fetch — are landing-zone concerns handled driver-side before data enters
the plan; *engine* formats — parquet, JSON, JDBC — are lazy ``spark.read``
scans. Excel sheets in the reference are KB-scale dimension catalogs, so
pandas→Arrow→``createDataFrame`` is the idiomatic bridge (S1); anything
large lands as parquet first.

Every adapter attaches ``_ingest_order`` — the file row position — because
two reference semantics depend on physical row order, which Spark
DataFrames deliberately don't have:

* the mixed-sheet positional split (P5, ``transform.py:23-55``), and
* keep-*first* dedup (A5, ``transform.py:79``).
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import scoped_conf

INGEST_ORDER_COL = "_ingest_order"


def spark_df_from_pandas(
    spark: SparkSession, pdf: pd.DataFrame, add_ingest_order: bool = True
) -> DataFrame:
    """Driver-side pandas → Spark via Arrow, with an explicit row-order column.

    Column names are stringified (headerless Excel reads produce integer
    column labels, ``/root/reference/src/extract.py:149``).
    """
    pdf = pdf.copy()
    pdf.columns = [str(c) for c in pdf.columns]
    # headerless/mixed Excel sheets yield object columns with mixed Python
    # types ('ID' header rows between integer ids); a Spark column has one
    # type, so object columns land as strings — downstream coercion
    # filters re-type them leniently, as the reference does.
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].map(lambda v: None if pd.isna(v) else str(v))
    if add_ingest_order:
        pdf[INGEST_ORDER_COL] = range(len(pdf))
    # Arrow conversion is semantic here, not just fast: pandas float NaN
    # means MISSING (the reference's world), and Arrow maps NaN → null.
    # The row-wise fallback keeps NaN as a float value, which a non-ANSI
    # int cast would silently turn into 0. The conversion happens inside
    # createDataFrame, so the session's own setting is restored after it.
    with scoped_conf(spark, {"spark.sql.execution.arrow.pyspark.enabled": "true"}):
        return spark.createDataFrame(pdf)


def read_excel_sheet(
    spark: SparkSession,
    file_path: str,
    sheet_name: str,
    header: bool = True,
    **read_kwargs,
) -> DataFrame | None:
    """Excel sheet scan (S1, ``/root/reference/src/extract.py:85-105``).

    Returns None (never raises) when the file is unavailable or the Excel
    engine is missing — matching the reference's per-source null contract
    (``extract.py:96-105``), which the orchestrator turns into
    all-or-nothing extraction.
    """
    if not os.path.exists(file_path):
        return None
    try:
        pdf = pd.read_excel(
            file_path,
            sheet_name=sheet_name,
            header=0 if header else None,
            **read_kwargs,
        )
    except (ImportError, ValueError, OSError):
        return None
    return spark_df_from_pandas(spark, pdf)


def read_json_records(spark: SparkSession, file_path: str) -> DataFrame | None:
    """JSON file scan (S2, ``/root/reference/src/extract.py:107-128``).

    The source is a top-level JSON array of flat records, so ``multiLine``
    is required (a JSON-lines file would use the default splittable
    reader). The file is re-read with an explicit zipWithIndex-free row
    number derived from a monotonic id *per file order*: for a single
    multiLine file Spark preserves record order within the one partition,
    so ``_ingest_order`` is well-defined.
    """
    if not os.path.exists(file_path):
        return None
    df = spark.read.option("multiLine", "true").json(file_path)
    if df.isEmpty():
        return None
    # one multiLine JSON document = one partition → monotonic id is the
    # file record order
    return df.withColumn(INGEST_ORDER_COL, F.monotonically_increasing_id())


def split_mixed_sheet(
    varios: DataFrame,
    header_token: str = "ID",
) -> tuple[DataFrame, DataFrame]:
    """Positional split of the mixed 'Varios' sheet (P4+P5,
    ``/root/reference/src/transform.py:23-55``).

    One headerless 2-column grid contains two stacked tables, each headed
    by a row whose first cell is ``'ID'``. The reference slices with
    ``iloc`` on the pandas row index; here the same three branches run on
    the ``_ingest_order`` column the ingest adapter attached:

    * two headers  → table1 = (h0, h1), table2 = (h1, end]
    * one header   → at row 0: all rows after it are table1, table2 empty;
                     mid-sheet: [0, h) is table1, (h, end] is table2
    * no headers   → both empty

    INTENTIONAL DEVIATION from the reference's two-header branch: the
    reference slices ``iloc[1:cut_point]`` — physical row 1 onward
    regardless of where the first ``'ID'`` header sits, so any preamble
    rows ABOVE the first header leak into table1. Here table1 starts at
    ``h0 + 1`` (after the first header), dropping preamble junk. For a
    sheet whose first header is at row 0 (every fixture the reference
    ships) the two are identical; the divergence is pinned by
    ``tests/test_star_schema.py::test_split_two_header_preamble_dropped``.

    Only the *header positions* are collected (≤ a handful of ints); the
    row data itself never leaves the cluster — at 100 TB the two range
    filters are partition-prunable predicates on ``_ingest_order``.
    """
    first_col, second_col = (
        c for c in varios.columns if c != INGEST_ORDER_COL
    )
    ord_col = F.col(INGEST_ORDER_COL)

    header_positions = [
        r[0]
        for r in varios.filter(F.col(first_col) == header_token)
        .select(INGEST_ORDER_COL)
        .orderBy(INGEST_ORDER_COL)
        .collect()
    ]

    def slice_rows(lo: int | None, hi: int | None) -> DataFrame:
        out = varios
        if lo is not None:
            out = out.filter(ord_col >= lo)
        if hi is not None:
            out = out.filter(ord_col < hi)
        return out

    empty = varios.filter(F.lit(False))

    if len(header_positions) > 1:
        cut = header_positions[1]
        sedes = slice_rows(header_positions[0] + 1, cut)
        tipos = slice_rows(cut + 1, None)
    elif len(header_positions) == 1:
        cut = header_positions[0]
        if cut == 0:
            sedes = slice_rows(1, None)
            tipos = empty
        else:
            sedes = slice_rows(None, cut)
            tipos = slice_rows(cut + 1, None)
    else:
        sedes = empty
        tipos = empty

    def conform(df: DataFrame, id_name: str, label_name: str) -> DataFrame:
        return df.select(
            F.col(first_col).alias(id_name),
            F.col(second_col).alias(label_name),
            ord_col,
        )

    return (
        conform(sedes, "id_sede", "nombre_sede"),
        conform(tipos, "id_tipo_trx", "descripcion_tipo"),
    )


def extract_sources(
    spark: SparkSession,
    excel_path: str = "data/ClientesMarca.xlsx",
    json_path: str = "data/RecomendadosMarca.json",
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame] | None:
    """All-or-nothing extraction (``/root/reference/src/extract.py:130-158``).

    Returns (clientes, transacciones, varios, recomendados) or None if any
    source is unavailable. The reference's Google Drive fetch (S3) is a
    landing-zone concern: stage files with :mod:`.staging` (idempotent,
    atomic, provider-pluggable) before calling this.
    """
    clientes = read_excel_sheet(spark, excel_path, "Clientes")
    transacciones = read_excel_sheet(spark, excel_path, "Transacciones")
    varios = read_excel_sheet(spark, excel_path, "Varios", header=False)
    recomendados = read_json_records(spark, json_path)
    frames = (clientes, transacciones, varios, recomendados)
    if any(f is None for f in frames):
        return None
    return frames
