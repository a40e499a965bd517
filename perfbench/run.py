"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload search --seed 1 --seconds 15 --trace 0

Run from the repository root. ``--trace 0`` prints every end-to-end
metric; ``--trace 1`` runs an untraced phase and a traced phase and
prints every per-layer metric, writing the spans to
``.perfbench/out/``. Everything the run writes stays under
``.perfbench/`` in the working directory. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "mem_mb": "MB",
    "latency_ms": "ms",
    "tail_ms": "ms",
    "rate_per_s": "1/s",
}

# Per-layer metrics of the workloads BENCHMARK.json lists (ingest, curate).
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "session.loop_conf.ms": "ms",
    "sources.load_table.ms": "ms",
    "plans.ingest.parse_stage.ms": "ms",
    "plans.ingest.embed_stage.ms": "ms",
    **{f"plans.{q}.{part}_s": "s"
       for q in ("dedup_minhash_lsh", "dedup_canonical", "graph_influence_ppr",
                 "curation_funnel")
       for part in ("build", "exec")},
    "operators.similarity.semantic_dedup_ingest_step.wave_s": "s",
    "semdedup.accepted_per_arrived": "ratio",
    "operators.dedup.minhash_lsh_pairs.s": "s",
    "operators.dedup.canonical_closure.s": "s",
    "operators.graph.personalized_pagerank.s": "s",
    "streaming.trigger.add_batch_ms": "ms",
    "streaming.trigger.wal_commit_ms": "ms",
    "streaming.trigger.commit_offsets_ms": "ms",
    "streaming.trigger.latest_offset_ms": "ms",
    "streaming.trigger.query_planning_ms": "ms",
    "streaming.commit_manifest.ms": "ms",
    "streaming.read_buckets.ms": "ms",
    "ingest.landed_per_fetched": "ratio",
    "operators.upsert.merge_by_key.calls": "count",
    **{f"spark.{k}": u for k, u in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
        ("shuffle_read_b", "B"), ("shuffle_write_b", "B"), ("spill_b", "B"),
        ("input_rows", "count"), ("input_bytes", "B"), ("driver_s", "s"))},
    **{f"layer.{name}.self_ms": "ms"
       for name in ("session", "sources", "functions", "plans", "operators",
                    "streaming", "unattributed")},
    "trace.overhead_pct": "%",
}

# The search workload runs on demand but is not in BENCHMARK.json: with
# the engine's ~20-40 s cold start per process, three workloads do not
# fit the run budget (see README.md). Its traced run adds these.
SEARCH_LAYER = {
    "functions.embedding.embed_text.ms": "ms",
    **{f"plans.search_api.{fn}.{part}_ms": "ms"
       for fn in ("semantic_search", "rag_chat", "web_pages", "dashboard_analytics")
       for part in ("build", "exec")},
    "operators.similarity.knn_topk_ivf.build_ms": "ms",
    "operators.similarity.knn_topk_ivf.exec_ms": "ms",
    "search.ann.rows_scanned_per_hit": "count",
}

WORKLOADS = ("ingest", "curate", "search")
RUN_LIMIT_S = 170


def ncores() -> int:
    return len(os.sched_getaffinity(0))


def env_stamp(cores: int) -> dict:
    def cmd(*args: str) -> str | None:
        try:
            return subprocess.run(args, cwd=ROOT, capture_output=True, text=True,
                                  timeout=10, check=True).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            return None

    src = hashlib.sha256()
    pkg = os.path.join(ROOT, "crawler_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    src.update(f.encode() + fh.read())
    import pyspark

    return {"cores": cores, "nproc": ncores(), "git_head": cmd("git", "rev-parse", "HEAD"),
            "src_sha256": src.hexdigest()[:16], "pyspark": pyspark.__version__,
            "python": sys.version.split()[0], "loadavg_start": os.getloadavg()}


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=ncores(),
                    help="Spark local cores (default: the cores this process may use)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "crawler_spark")):
        print("perfbench: the crawler_spark package is not in this tree", file=sys.stderr)
        return 2

    base = os.path.join(os.getcwd(), ".perfbench")
    # isolation: every temporary file of this process, the JVM and the
    # Python workers lands in the run's own directory
    sys.path.insert(0, ROOT)
    from perfbench.harness import Run
    from perfbench.workloads import WORKLOADS as RUNNERS, patch_layers

    run = Run(base, args.workload, args.seed, args.seconds, bool(args.trace), args.cores,
              T_START)
    for var in ("TMPDIR", "TMP", "TEMP"):
        os.environ[var] = run.path("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = run.path("spark-local")
    # spark-submit's launcher is a JVM of its own
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run.path('tmp')}"
    import tempfile

    tempfile.tempdir = None

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(RUN_LIMIT_S)
    stamp = env_stamp(args.cores)
    try:
        run.start_spark()
        if args.trace:
            patch_layers(run.tracer)
        metrics = RUNNERS[args.workload](run)
        stamp["loadavg_end"] = os.getloadavg()
        out_dir = os.path.join(base, "out")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{'trace' if args.trace else 'run'}-"
                                     f"{args.workload}-s{args.seed}")
        if args.trace:
            run.tracer.dump(stem + ".spans.jsonl")
            catalog = PER_LAYER | (SEARCH_LAYER if args.workload == "search" else {})
            values = {k: float(run.layer.get(k, 0.0)) for k in catalog}
        else:
            values = {"setup_s": run.setup_s, "mem_mb": run.mem_mb, **metrics}
            catalog = END_TO_END
        with open(stem + ".json", "w") as f:
            json.dump({"env": stamp, "metrics": values, "ops": run.ops}, f, indent=1,
                      default=str)
    finally:
        signal.alarm(0)
        run.tracer.unpatch()
        run.close()
    for what in run.failures[:20]:
        print(f"perfbench: FAILED check: {what}", file=sys.stderr)
    print("perfbench env: " + json.dumps(stamp))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in catalog.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
