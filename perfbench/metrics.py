"""Metric catalogue and the per-layer roll-up of a traced operation.

The names here are the ones ``BENCHMARK.json`` lists; the self-tests
check that the two agree.
"""

from __future__ import annotations

from probe import STAGE_FIELDS, Span

#: End-to-end metrics printed in the result line of an untraced run.
END_TO_END = {"op_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}

#: Engine modules that register a query of the query mix.
MIX_MODULES = (
    "plans.tpch",
    "plans.analytics",
    "operators.dedup",
    "operators.similarity",
    "operators.text",
    "operators.graph",
    "streaming.windows",
    "operators.multimodal",
    "operators.sampling",
    "functions.sqlfuncs",
    "load.scd",
)

#: Per-layer metrics printed in the result line of a traced run.
PER_LAYER = {
    "session.build_s": "s",
    "sources.busy_s": "s",
    "sources.sql_execs": "count",
    "sources.rows_in": "count",
    "star_schema.busy_s": "s",
    "star_schema.sql_execs": "count",
    "load.busy_s": "s",
    "load.self_s": "s",
    "load.fct_transacciones.busy_s": "s",
    "load.dim_clientes.busy_s": "s",
    "load.sql_execs": "count",
    "load.sql_exec_s": "s",
    "load.rows_inserted": "count",
    "load.rows_ignored": "count",
    "load.useful_ratio": "ratio",
    "load.files_written": "count",
    "load.bytes_written": "B",
    "load.key_scan_files_read": "count",
    "load.shuffle_bytes": "B",
    "load.spill_bytes": "B",
    "load.failed_tables": "count",
    "report.register_views_s": "s",
    "report.busy_s": "s",
    "report.sql_execs": "count",
    "report.files_read": "count",
    "report.partitions_read": "count",
    "report.rows_scanned_per_result_row": "ratio",
    **{
        f"{m}.{k}": u
        for m in MIX_MODULES
        for k, u in (
            ("busy_s", "s"),
            ("driver_s", "s"),
            ("sql_execs", "count"),
            ("shuffle_bytes", "B"),
            ("spill_bytes", "B"),
        )
    },
    "spark.gc_s": "s",
    "spark.jobs": "count",
    "jvm.heap_peak_mb": "MB",
    "trace.op_s": "s",
    "trace.untraced_op_s": "s",
    "trace.op_diff_s": "s",
    "trace.overhead_s": "s",
}

#: Tables whose load gets its own ``load.<table>.busy_s`` metric.
_TABLE_METRICS = ("fct_transacciones", "dim_clientes")


def layer_values(spans: list[Span], op_id: int) -> dict[str, float]:
    """Per-layer values of one traced operation (0 where a layer is unused).

    The run-level ``session.build_s``, ``jvm.heap_peak_mb`` and ``trace.*``
    op times are filled in by the caller.
    """
    v = {k: 0.0 for k in PER_LAYER}
    mine = [s for s in spans if s.op_id == op_id]
    v["trace.overhead_s"] = sum(s.overhead for s in mine)
    for s in mine:
        if s.parent is not None:
            continue
        c = s.counts
        v["spark.gc_s"] += c["gc_s"]
        v["spark.jobs"] += c["jobs"]
        if s.name == "sources":
            v["sources.busy_s"] += s.wall
            v["sources.sql_execs"] += c["sql_execs"]
            v["sources.rows_in"] += s.attrs["rows"]
        elif s.name == "star_schema":
            v["star_schema.busy_s"] += s.wall
            v["star_schema.sql_execs"] += c["sql_execs"]
        elif s.name == "load":
            children = [ch for ch in mine if ch.parent == s.span_id]
            v["load.busy_s"] += s.wall
            v["load.self_s"] += s.wall - sum(ch.wall for ch in children)
            for ch in children:
                table = ch.name.split(".", 1)[1]
                if table in _TABLE_METRICS:
                    v[f"load.{table}.busy_s"] += ch.wall
            v["load.sql_execs"] += c["sql_execs"]
            v["load.sql_exec_s"] += c["sql_exec_s"]
            v["load.files_written"] += c["files_written"]
            v["load.key_scan_files_read"] += c["files_read"]
            for key in STAGE_FIELDS.values():
                v[f"load.{key}"] += c[key]
            for _table, inserted, ignored, ok in s.attrs["results"]:
                v["load.rows_inserted"] += inserted
                v["load.rows_ignored"] += ignored
                v["load.failed_tables"] += not ok
        elif s.name == "report.register_views":
            v["report.register_views_s"] += s.wall
        elif s.name == "report":
            v["report.busy_s"] += s.wall
            v["report.sql_execs"] += c["sql_execs"]
            v["report.files_read"] += c["files_read"]
            v["report.partitions_read"] += c["partitions_read"]
            v["report.rows_scanned_per_result_row"] += c["scan_rows"] / s.attrs["result_rows"]
        elif s.name in MIX_MODULES:
            v[f"{s.name}.busy_s"] += s.wall
            v[f"{s.name}.driver_s"] += s.wall - c["sql_exec_s"]
            v[f"{s.name}.sql_execs"] += c["sql_execs"]
            v[f"{s.name}.shuffle_bytes"] += c["shuffle_bytes"]
            v[f"{s.name}.spill_bytes"] += c["spill_bytes"]
        else:
            raise ValueError(f"span {s.name!r} has no per-layer metrics")
    scanned = v["load.rows_inserted"] + v["load.rows_ignored"]
    v["load.useful_ratio"] = v["load.rows_inserted"] / scanned if scanned else 0.0
    return v
