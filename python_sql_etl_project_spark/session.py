"""SparkSession construction with the engine's pinned semantics.

Replaces the reference's bootstrap (``/root/reference/src/main.py:13-26``)
with one module owning every semantics-bearing config:

* ``spark.sql.ansi.enabled=false`` — the reference's casts are lenient
  (``pd.to_numeric(..., errors='coerce')`` at
  ``/root/reference/src/transform.py:63,114-117,121``): unparseable values
  become NULL, never errors.  Spark 4 defaults ANSI **on**, so this must be
  pinned off explicitly and is load-bearing for cast parity.
* UTC session timezone — testdata parquet carries naive timestamps; UTC
  makes Spark and the DuckDB oracle read identical wall-clock values.
* AQE on (+ coalesce partitions, skew-join) — runtime re-planning is the
  100 TB posture for skewed keys and over-partitioned shuffles.
* Arrow on — every pandas interop (Excel ingest, Pandas UDFs) goes through
  Arrow batches, never per-row pickling.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: Shuffle partitions for local mode: match cores, not the 200 default.
#: On a real cluster this is sized so that (input bytes / partitions)
#: stays in the 64-256 MB range, or left to AQE coalescing.
_LOCAL_SHUFFLE_PARTITIONS = "32"


#: SQL confs that carry engine *semantics* (not tuning). These must hold
#: on ANY session executing engine queries — including sessions built by
#: an external harness — so they are (re-)applied at query-call time via
#: :func:`apply_runtime_semantics`. All are runtime-settable.
RUNTIME_SEMANTICS: dict[str, str] = {
    # lenient casts: errors='coerce' parity (Spark 4 defaults ANSI on)
    "spark.sql.ansi.enabled": "false",
    # naive testdata timestamps must read as the same wall-clock in
    # Spark and the DuckDB oracle
    "spark.sql.session.timeZone": "UTC",
    # events.parquet carries TIMESTAMP(NANOS); read as long, convert in
    # read_table()
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def apply_runtime_semantics(spark: SparkSession) -> None:
    """Pin the engine's semantic confs on an externally built session."""
    for k, v in RUNTIME_SEMANTICS.items():
        spark.conf.set(k, v)
    _ship_package(spark)


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors via ``addPyFile`` (idempotent).

    Pandas-UDF / ``mapInPandas`` / ``applyInPandasWithState`` callables
    defined at module level are cloudpickled **by reference** — executors
    must be able to ``import python_sql_etl_project_spark`` to run them.
    On a real cluster that means shipping the package (``--py-files`` /
    ``addPyFile``); an externally built local session whose Python
    workers don't inherit this repo on ``PYTHONPATH`` has the same need.
    The zip is content-addressed (source file sizes+mtimes) so edits in a
    long-lived dev box never serve a stale package.
    """
    sc = spark.sparkContext
    if getattr(sc, "_sql_etl_pkg_shipped", False):
        return
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        for f in sorted(files):
            if f.endswith(".py"):
                sources.append(os.path.join(root, f))
    h = hashlib.md5()
    for p in sorted(sources):
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, pkg_dir)}:{st.st_size}:{st.st_mtime_ns};".encode())
    zpath = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}_{h.hexdigest()[:12]}.zip"
    )
    if not os.path.exists(zpath):
        tmp = zpath + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for p in sorted(sources):
                z.write(p, os.path.join(pkg_name, os.path.relpath(p, pkg_dir)))
        os.replace(tmp, zpath)  # atomic: concurrent sessions race safely
    sc.addPyFile(zpath)
    sc._sql_etl_pkg_shipped = True


def build_spark(
    app_name: str = "python_sql_etl_project_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    for local runs; on a cluster, leave it unset and let spark-submit
    provide the master.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # -- optimizer / execution posture --
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", _LOCAL_SHUFFLE_PARTITIONS)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # broadcast threshold: dims in this engine are KB-MB scale; 64 MB
        # keeps every dim join a broadcast-hash join even at sf100.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # -- driver hygiene for many-query sessions (r12, guide §5) --
        # The app status store tracks every job/stage/SQL execution even
        # with the UI off; a several-hundred-query batch session
        # accumulates tens of thousands of entries whose retention
        # cleanup churns the driver. Retained windows sized to "recent
        # history only" — a production long-lived driver wants the same.
        .config("spark.ui.retainedJobs", "200")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "10000")
        .config("spark.sql.ui.retainedExecutions", "50")
        # -- join posture (r12, guide §3.1/§9; r13 paired A/B: neutral
        # on the sim family — kept as the guide-§9 baseline) --
        # Let the planner and AQE pick shuffled-hash over sort-merge
        # when a build side fits per-partition. Two distinct gates
        # (ADVICE r12): the AQE threshold below checks the ACTUAL
        # per-partition build size at runtime and rewrites SMJ→SHJ only
        # when every partition fits; the static planner gate behind
        # preferSortMergeJoin=false checks total build-side ESTIMATE ×
        # numShufflePartitions — an average, so a skewed build key can
        # still oversize one partition's hash map. AQE skew-join
        # handling (enabled above) splits such partitions for the
        # runtime rewrites; if a statically planned SHJ ever OOMs on a
        # skewed build, scope this conf to the iterative operators
        # instead of the session.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
    )
    for k, v in RUNTIME_SEMANTICS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Lazy parquet scan of one testdata table (column-pruned, pushdown-able).

    ``events.ts`` is normalized to TIMESTAMP regardless of the file's
    physical encoding: ns-encoded files surface as a long (via
    ``nanosAsLong``) and are integer-divided to µs (``div`` — a double
    round-trip would lose precision above 2^53 ns, and floor-truncation
    matches DuckDB's read); µs-encoded files surface as TIMESTAMP_NTZ
    and are cast (value-preserving under the pinned UTC session tz).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        dt = df.schema["ts"].dataType
        if isinstance(dt, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(dt, T.TimestampNTZType):
            # µs-encoded files surface as TIMESTAMP_NTZ; time functions
            # (unix_micros, window, watermark) require TIMESTAMP. The
            # session tz is pinned UTC, so the cast is value-preserving
            # and matches DuckDB's naive read of the same column.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def finalize_unpersist(df, *cached):
    """Materialize ``df`` (eager ``localCheckpoint`` — small final results
    only) and release the persisted intermediates that fed it.

    Iterative operators (PageRank, BFS, LSH audits) persist an edge list
    or fingerprint stage that every round re-reads. Returning a lazy
    result that still references those caches would leak the blocks into
    a long-lived session (bench.py masked this with ``clearCache``
    between queries). Checkpointing the *small* final vector breaks that
    lineage, after which the big intermediates can be dropped
    immediately; the caller holds only result-sized blocks, freed when
    the DataFrame is garbage-collected.

    The returned frame's own plan is a ``LogicalRDD`` scan; plan audits
    and plan dumps read the plans that actually ran (every round and the
    checkpoint itself) from Spark's status store via :func:`ran_plans`.
    """
    out = df.localCheckpoint(eager=True)
    for c in cached:
        c.unpersist()
        # DataFrame.unpersist() does NOT cascade to caches buried in the
        # frame's subplan (a derived frame over an internal persist() is
        # a silent no-op to unpersist — verified via getPersistentRDDs).
        # Helpers that return such frames tag the real persisted handle;
        # release it too (round 11).
        inner = getattr(c, "_graft_inner_cache", None)
        if inner is not None:
            inner.unpersist()
    return out


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict):
    """Set ``conf`` on the session for the ``with`` block, then restore
    each key's prior value, on error too: later queries in the session
    see the session's own settings."""
    prev = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def _final_plan(plan: str) -> str:
    """``plan`` without its AQE ``Initial Plan`` sections (the subtree
    under each header is indented past the header's ``+-``)."""
    out, cut = [], -1
    for line in plan.splitlines():
        if cut >= 0 and not line[: cut + 3].strip(" :"):
            continue
        cut = line.find("+- == Initial Plan ==")
        if cut < 0:
            out.append(line)
    return "\n".join(out)


def ran_plans(spark: SparkSession, run):
    """Call ``run()`` and return ``(result, plans)``: one
    ``(analyzed, final physical)`` plan pair per SQL execution the call
    started, read from Spark's status store once the listener bus is
    drained, then the returned frame's own pair (not executed).

    A call whose executions outnumber ``spark.sql.ui.retainedExecutions``
    loses the oldest from the store; that gap raises rather than audit
    the call in part.
    """
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def last_id():
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).head().executionId() if n else -1

    with scoped_conf(spark, {"spark.sql.ui.explainMode": "extended"}):
        bus.waitUntilEmpty()
        mark = last_id()
        df = run()
        bus.waitUntilEmpty()
        plans = []
        for eid in range(mark + 1, last_id() + 1):
            # the final plan is stored with the completion time, asynchronously
            deadline = time.monotonic() + 5.0
            while (e := store.execution(eid)).isDefined() and (
                e.get().completionTime().isEmpty() and time.monotonic() < deadline
            ):
                time.sleep(0.01)
            if e.isEmpty():
                raise RuntimeError(
                    f"SQL execution {eid} left the status store during the "
                    f"call (more than spark.sql.ui.retainedExecutions ran)"
                )
            text = e.get().physicalPlanDescription()
            analyzed = text.split("== Analyzed Logical Plan ==\n")[-1]
            plans.append((
                analyzed.split("\n== Optimized Logical Plan ==")[0],
                _final_plan(text.split("== Physical Plan ==\n")[-1]),
            ))
    qe = df._jdf.queryExecution()
    plans.append((qe.analyzed().toString(), _final_plan(qe.executedPlan().toString())))
    return df, plans


def tag_release(out, *caches):
    """Attach the persisted handles backing a LAZY result to the result
    itself, so the CALLER can free them once done (round 12).

    The other half of the cache-lifecycle convention documented on
    :func:`operators.dedup.shingles`: result-sized queries end in
    :func:`finalize_unpersist` (checkpoint + immediate release), but
    pair-grain queries return corpus-proportional LAZY plans —
    checkpointing those would materialize a result bigger than the cache
    it frees, so the cache must outlive the query call. This tags every
    real handle (a frame's own persist and/or the ``_graft_inner_cache``
    a helper buried in its subplan) on the returned frame as
    ``_graft_release``; after consuming the result, the caller calls
    :func:`release_caches` on it. A :func:`pin_stage` frame is a
    checkpoint, not a cache, so it is never collected here: the batch
    driver that pinned it owns it, and a release leaves it alone.
    """
    handles = []
    for c in caches:
        inner = getattr(c, "_graft_inner_cache", None)
        if inner is not None:
            handles.append(inner)
        try:
            lvl = c.storageLevel
            if lvl.useMemory or lvl.useDisk:
                handles.append(c)
        except Exception:  # Connect-style frames without storageLevel
            pass
    if handles:
        out._graft_release = handles
    return out


def release_caches(df) -> None:
    """Release the caches a pair-grain query left behind (round 12).

    Call AFTER the last action on ``df``: the frame is lazy, so dropping
    the cache earlier would force the next action to recompute the whole
    shingle pipeline uncached. Idempotent; a no-op on untagged frames.
    Never touches a :func:`pin_stage` frame: only
    :func:`release_stages` frees those."""
    for h in getattr(df, "_graft_release", ()):
        h.unpersist()


#: Driver-pinned shared stages: ``(applicationId, key)`` → the pinned
#: frame and the ids of the persisted RDDs that hold its checkpoint.
_PINNED: dict = {}


def _persisted_rdd_ids(spark: SparkSession) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def pin_stage(spark: SparkSession, key, df):
    """Materialize ``df`` once and share it with every later builder
    that asks for ``key`` in this Spark application.

    A batch driver running many queries over one snapshot (``bench.py``)
    pins the stages they have in common: the shingle set, the co-purchase
    edges, the LPA labels, the IVF codebook. Each builder opens with
    :func:`pinned_stage` and builds cold when nothing is pinned, so the
    library only reads pins and never decides what is shared. The eager
    ``localCheckpoint`` is lineage-free and outside the CacheManager: it
    survives ``spark.catalog.clearCache()``, and a consumer's
    ``unpersist``/:func:`finalize_unpersist`/:func:`release_caches` is a
    no-op on it. :func:`release_stages` frees it. Caches the build
    itself persisted are freed once the checkpoint holds the stage.
    """
    before = _persisted_rdd_ids(spark)
    pinned = df.localCheckpoint(eager=True)
    release_caches(tag_release(df, df))
    held = _persisted_rdd_ids(spark) - before
    _PINNED[(spark.sparkContext.applicationId, key)] = (pinned, held)
    return pinned


def pinned_stage(spark: SparkSession, key):
    """The frame pinned under ``key`` in this application, or ``None``."""
    return _PINNED.get((spark.sparkContext.applicationId, key), (None,))[0]


def release_stages(spark: SparkSession) -> None:
    """Unpin every stage of this application and free its blocks."""
    app = spark.sparkContext.applicationId
    for k in [k for k in _PINNED if k[0] == app]:
        for rdd_id in _PINNED.pop(k)[1]:
            spark.sparkContext._jsc.sc().unpersistRDD(rdd_id, True)


def read_table_parallel(spark: SparkSession, sf_dir: str, name: str, key: str):
    """Scan + hash-repartition across all cores before CPU-heavy stages.

    Parquet scan parallelism follows file splits; a compact file yields
    ONE partition, serializing everything downstream (measured 7× on the
    shingle explode: one core doing all the tokenize work). Explicitly
    hash-repartitioning on the row key before expensive per-row expansion
    (tokenize/explode/shingle) is the same move a 1000-executor cluster
    needs when an upstream stage under-partitions — the shuffle moves the
    *narrow* pre-explode rows, which is the cheap side.
    """
    return read_table(spark, sf_dir, name).repartition(
        spark.sparkContext.defaultParallelism, key
    )
