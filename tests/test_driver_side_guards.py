"""Structural guards for the two driver-side anti-patterns the round
verdicts audit by hand each round — made permanent here:

* **No row-at-a-time Python UDFs** and no RDD drops: every Python
  boundary in the package must be Arrow-batched (``pandas_udf`` /
  ``mapInPandas`` / ``applyInPandas[WithState]``). ``F.udf``/``@udf``
  serialize row by row (10-100× slower) and fence off Catalyst
  pushdown; ``.rdd`` abandons the optimizer entirely.
* **Every ``.collect()`` pulls reduced data only**: a collect that isn't
  preceded by an aggregate / groupBy / limit / distinct (or explicitly
  allowlisted with a boundedness justification) is a driver-side loop
  over distributed data — the operator isn't distributed anymore.
* **Every environment variable the package reads is declared** here:
  an env switch forks library behaviour between callers, so a new one
  cannot come back silently.
"""

from __future__ import annotations

import os
import re

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "python_sql_etl_project_spark",
)

_UDF_PAT = re.compile(r"\bF\.udf\(|^\s*@udf\b|\.rdd\b", re.MULTILINE)
_COLLECT_PAT = re.compile(r"\.collect\(\)")
#: markers that prove the collected frame was reduced before the pull.
#: ``F.explode(`` was dropped from this set (ADVICE r8): explode EXPANDS
#: rows, so its presence near a collect proves nothing.
_REDUCED = (".agg(", ".groupBy(", ".limit(", ".distinct()")

#: ``(relative file, context-substring)`` → justification for collects
#: with no reduction marker in the preceding window.
COLLECT_ALLOWLIST: tuple[tuple[str, str, str], ...] = (
    ("report.py", "spark.sql(QUERY_METRICS, args=args)",
     "1-row scalar report per SURVEY S6/S7 (the bot's daily metrics)"),
    ("report.py", "spark.sql(QUERY_DISTRIBUIDORES, args=args)",
     "|distributors| rows, grouped report per SURVEY S6/S7"),
    ("sources/ingest.py", "header",
     "Excel header-position probe: first rows of one sheet"),
    ("load/layout.py", 'census(manifest_v1, "v1")',
     "union of two status-census snapshots (|snapshots|x|statuses| "
     "rows; each census is an .agg defined above the window)"),
    ("load/layout.py", "rows = merged",
     "month-grain merge of two pre-aggregated rollups (calendar-"
     "bounded; the .agg sites sit above the context window)"),
)

#: Every environment variable the package reads.
DECLARED_ENV = {
    "SPARK_GRAFT_CPUS",  # local-mode core count (session.build_spark)
    "SPARK_DRIVER_MEMORY",  # driver heap (session.build_spark)
    # scale probes force the sharded rank path (README §Scale design)
    "SPARK_GRAFT_SMALL_FRAME_ROWS",
    "TELEGRAM_TOKEN",  # report delivery (report.py)
    "TELEGRAM_CHAT_ID",
}
_ENV_PAT = re.compile(
    r"\b(?:environ|getenv)\b(?:\.get)?\s*[(\[]?\s*(?:(['\"])(\w+)\1)?"
)


def _py_files():
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(root, f)


def test_no_row_at_a_time_python_udfs_or_rdd():
    offenders = []
    for path in _py_files():
        rel = os.path.relpath(path, PKG)
        src = open(path).read()
        for m in _UDF_PAT.finditer(src):
            line = src[: m.start()].count("\n") + 1
            offenders.append(f"{rel}:{line}: {m.group(0)!r}")
    assert not offenders, (
        "Row-at-a-time Python boundary (use pandas_udf / mapInPandas / "
        "applyInPandas instead):\n" + "\n".join(offenders)
    )


def test_collect_sites_pull_reduced_data_only():
    offenders = []
    for path in _py_files():
        rel = os.path.relpath(path, PKG)
        src = open(path).read()
        for m in _COLLECT_PAT.finditer(src):
            ctx = src[max(0, m.start() - 700) : m.start()]
            if any(marker in ctx for marker in _REDUCED):
                continue
            if any(
                rel == f and marker in ctx
                for f, marker, _why in COLLECT_ALLOWLIST
            ):
                continue
            line = src[: m.start()].count("\n") + 1
            offenders.append(f"{rel}:{line}")
    assert not offenders, (
        "collect() without a visible reduction (aggregate/groupBy/limit/"
        "distinct) and no allowlisted justification — driver-side pull "
        "of distributed data:\n" + "\n".join(offenders)
    )


def test_collect_allowlist_entries_all_match():
    stale = []
    for f, marker, _why in COLLECT_ALLOWLIST:
        src = open(os.path.join(PKG, f)).read()
        if marker not in src:
            stale.append(f"{f}: {marker!r}")
    assert not stale, "stale allowlist entries:\n" + "\n".join(stale)


def test_env_reads_are_declared():
    keys = set()
    for path in _py_files():
        rel = os.path.relpath(path, PKG)
        src = open(path).read()
        for m in _ENV_PAT.finditer(src):
            line = src[: m.start()].count("\n") + 1
            keys.add(m.group(2) or f"{rel}:{line}: non-literal env read")
    assert keys == DECLARED_ENV, (
        f"undeclared: {sorted(keys - DECLARED_ENV)}; "
        f"declared but never read: {sorted(DECLARED_ENV - keys)}"
    )
