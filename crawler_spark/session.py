"""SparkSession factory.

One place to encode the execution-model decisions that matter at scale:
AQE on (runtime re-plan, skew-join handling, partition coalescing),
Arrow on (vectorized Python interop for the few pandas-UDF operators),
UTC session timezone (oracle comparability — DuckDB timestamps are
UTC-naive), and shuffle partitions sized to the machine rather than the
Spark default of 200 (wrong in both directions: over-parallelized
locally, under-parallelized on a 1000-executor cluster — production
deployments should raise it alongside AQE's coalescing).

Python workers start from an engine-owned daemon
(``spark.python.daemon.module`` = ``crawler_spark.pyworker``). Every
Python-worker task — each ``pandas_udf``, ``mapInArrow`` and
``applyInPandas`` partition — begins with
``importlib.invalidate_caches()``, which before CPython 3.13 re-parses
the central directory of ``pyspark.zip`` once per cached zip importer:
140-290 ms of fixed cost per task, against 1-50 ms of UDF work at the
sizes this engine runs interactively. The daemon makes that call
re-read only archives whose stat signature changed (see
``pyworker``). Sessions not built by ``get_spark`` — e.g. the
external driver's session handed to ``__spark_entry__`` — keep the
stock daemon and its per-task cost; results are the same either way.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

# the Python worker daemon entry, started as ``python -m``; the package's
# parent goes on the workers' PYTHONPATH so it imports from any cwd
PYWORKER_MODULE = f"{__package__}.pyworker"
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Partition sizing for the narrow (two-long-column) frames iterative
# loops shuffle every round. 50k rows/partition is deliberately far
# below the guide's byte-oriented 100 MB-1 GB target (§2.2): these
# loops are CPU-bound on DECIMAL(38,18)-exact aggregation, not
# shuffle-byte-bound, and a 393k-edge round measured fastest near 8
# partitions (0.6 s vs 1.1-1.9 s at 1 or 32 — round-12 sweep).
LOOP_ROWS_PER_PARTITION = 50_000


def loop_shuffle_partitions(
    spark: SparkSession,
    n_rows: int,
    rows_per_partition: int = LOOP_ROWS_PER_PARTITION,
) -> int:
    """Shuffle-partition count for an iterative loop over a frame of
    ``n_rows`` (already-materialized, so the count is exact and cheap):
    scale-ADAPTIVE instead of a constant (guide §2) — a fixture graph
    gets 1 partition (per-round shuffles of a handful of rows at the
    batch default are pure task-scheduling overhead, measured round
    12), a 10^9-edge graph gets the session default back. Never above
    the ambient ``spark.sql.shuffle.partitions``: a caller that sized
    the session for its cluster keeps that ceiling."""
    import math

    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(default, math.ceil(max(n_rows, 1) / rows_per_partition)))


@contextlib.contextmanager
def loop_conf(
    spark: SparkSession,
    n_rows: int,
    rows_per_partition: int = LOOP_ROWS_PER_PARTITION,
):
    """Session-conf regime for an iterative loop over a frame of
    ``n_rows`` — THE one place the shrunk-loop trade lives (round 13,
    centralizing five copy-pasted save/set/restore blocks per the
    round-12 ADVICE):

    * shuffle partitions sized by ``loop_shuffle_partitions`` (scale-
      adaptive — a fixture graph loops at 1 partition, a 10⁹-edge
      graph keeps the session default);
    * when the derivation SHRANK the loop below the session default,
      AQE and whole-stage codegen are disabled for the loop's
      duration: the row bound already did AQE's coalescing job, AQE
      otherwise materializes every exchange as its own job (round-12:
      job count is most of a tiny loop's cost), and codegen COMPILES
      more code per throwaway round than the round executes. Full-
      scale loops keep both, including AQE's skew handling.

    Yields ``(loop_parts, shrunk)``; restores all three confs on exit,
    error included.

    SINGLE-THREADED-SESSION ASSUMPTION (documented, not enforced):
    ``spark.conf.set`` is session-global, so any CONCURRENT work on
    the same SparkSession (a streaming micro-batch, a parallel query
    thread) would execute under the loop's shrunk regime, and two
    overlapping save/restore pairs could persist the wrong value.
    Every caller in this repo runs its loop on a driver thread that
    owns the session for the duration; a deployment that shares one
    session across threads should clone the session (newSession()) or
    scope these via SQLConf.withExistingConf instead."""
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_cg = spark.conf.get("spark.sql.codegen.wholeStage")
    loop_parts = loop_shuffle_partitions(spark, n_rows, rows_per_partition)
    shrunk = loop_parts == 1 or loop_parts < int(prev_parts)
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
        if shrunk:
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            spark.conf.set("spark.sql.codegen.wholeStage", "false")
        yield loop_parts, shrunk
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.codegen.wholeStage", prev_cg)


def get_spark(
    app_name: str = "crawler_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    In local mode there is a single JVM, so ``spark.driver.memory`` is
    the only memory knob; on a real cluster the same configs apply per
    executor. Shuffle partitions default to the core count — AQE's
    ``coalescePartitions`` then shrinks small shuffles further at runtime.

    Python workers fork from ``PYWORKER_MODULE``, which spares each
    Python-worker task the stock per-task re-read of ``pyspark.zip``
    (module docstring). Like every static conf here, this applies only
    when this call creates the SparkContext: fetching a session someone
    else built keeps that session's daemon.
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # PySpark 4's default, pinned so the guarantee survives any
        # deployment conf: overflowing casts/arithmetic FAIL LOUD
        # (ArithmeticException), never silent NULLs — the decimal-exact
        # graph/Lloyd reductions (operators/graph.py _exact_sum)
        # document their magnitude precondition in terms of this.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", PYWORKER_MODULE)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
