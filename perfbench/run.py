"""KG-construction benchmark: one workload per invocation.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 5 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics
(set-up time, docs per CPU-second, median CPU-seconds per operation);
``--trace 1`` runs the workload's operation once untraced and once traced
and prints the per-layer metrics. The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``; human-readable
checks go to stderr. The exit code is non-zero when a correctness check
fails or the library cannot be found.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
END_TO_END = {
    "setup_s": "s",
    "docs_per_cpu_s": "docs/cpu_s",
    "op_cpu_p50_s": "s",
}
#: per-layer metrics beyond the span fields and the sampled ratios
TRACE_EXTRA = {
    "trace.coverage": "ratio",
    "trace.overhead_s": "s",
    "trace.overhead_pct": "%",
    "trace.untraced_docs_per_s": "docs/s",
    "process.peak_rss_mb": "MB",
}


def _args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["kg_batch", "kg_incremental"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args()


def _isolate(root: str, work: str) -> None:
    """Point every scratch location of Python, Spark and the JVM at the
    run's work dir, and let python workers import the library and the
    benchmark's own modules."""
    for d in ("tmp", "spark_local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark_local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [root, HERE]


def main() -> int:
    args = _args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "jamie_spark", "__init__.py")):
        print(f"jamie_spark not found under {root}: run from the repository root",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    state = os.path.join(root, ".perfbench_state")
    _isolate(root, work)

    from harness import ProcessTree, box_cores, build_spark, log, stop_spark
    from workloads import SAMPLED, SPANS, WORKLOADS, Canaries, Run
    from tracing import FIELDS

    cores = box_cores()
    canaries = Canaries(state, args.workload, args.seed)
    run = Run()
    # RSS is sampled in the background only in the traced run: the sampler's
    # own CPU time would otherwise land in the timed operations
    with ProcessTree(0.2 if args.trace else None) as tree:
        t0 = time.perf_counter()
        spark = build_spark(work, cores)
        log("spark session up")
        try:
            wl = WORKLOADS[args.workload](
                spark, work, args.seed, cores, canaries, tree
            )
            wl.setup()
            # input generation ran several times; set-up counts its median
            reps = wl.setup_reps
            setup_s = time.perf_counter() - t0 - sum(reps) + median(reps)
            log(f"set-up {setup_s:.2f}s (input generation runs: "
                f"{[round(x, 2) for x in reps]})")
            if args.trace:
                wl.trace(run)
            else:
                wl.measure(run, args.seconds)
        except Exception:  # noqa: BLE001 - report, stop Spark, fail the run
            traceback.print_exc()
            run.failed += 1
            run.attempted += 1
            run.check("run completed", False)
            setup_s = None
        finally:
            tree.sample()
            stop_spark(spark)
            log("spark stopped")
        tree.wait_all_ended()
        log("per-process peak RSS (MB): "
            f"{sorted((round(kb / 1024) for kb in tree.per_pid.values()), reverse=True)}")
        log("all processes ended")
    canaries.save()
    shutil.rmtree(work, ignore_errors=True)

    for name, ok, detail in run.checks:
        print(f"[{'ok' if ok else 'FAIL'}] {name} {detail}", file=sys.stderr)
    if setup_s is None:
        return 1
    if args.trace:
        run.layer["process.peak_rss_mb"] = tree.peak_mb
        units = {f"{s}.{f}": FIELDS[f][0] for s in SPANS for f in FIELDS}
        units.update({n: "ratio" for n in SAMPLED})
        units.update(TRACE_EXTRA)
        metrics = {n: {"value": run.layer.get(n, 0.0), "unit": u}
                   for n, u in units.items()}
        spans = os.path.join(state, f"spans-{args.workload}-seed{args.seed}.json")
        with open(spans, "w") as f:
            json.dump(run.spans, f, indent=1)
        print(f"span records: {spans}", file=sys.stderr)
    else:
        values = {
            "setup_s": setup_s,
            "docs_per_cpu_s": run.docs / sum(run.cpus) if run.cpus else 0.0,
            "op_cpu_p50_s": median(run.cpus) if run.cpus else 0.0,
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}
        print(f"ops: wall (s) {[round(x, 2) for x in run.walls]}, "
              f"CPU (s) {[round(x, 2) for x in run.cpus]}, "
              f"steal over all CPUs {run.steal:.2f}s",
              file=sys.stderr)
    print(json.dumps({
        "correct": run.correct and run.failed == 0,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0 if run.correct and run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
