"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,serve,pipeline} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Builds the workload's inputs from the seed,
loads them twice (each time in a fresh JVM), warms up, measures a
closed single-client loop of ops for ``--seconds``, checks every result,
and prints one JSON object as the last line of stdout: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. Everything the
run writes stays under ``.perfbench_tmp/`` (removed at the end) and, for
traced runs, the span dump under ``.perfbench_out/``. See NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "keboola_storage_duckdb_spark"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest", "serve", "pipeline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "engine.py")):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2

    ncpu = str(len(os.sched_getaffinity(0)))
    rundir = os.path.join(ROOT, ".perfbench_tmp",
                          f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local", "inputs"):
        os.makedirs(os.path.join(rundir, sub))
    os.environ.update({
        "SPARK_GRAFT_CPUS": ncpu, "SPARK_GRAFT_SHUFFLE": ncpu,
        "SPARK_GRAFT_DRIVER_MEM": "2g", "SPARK_LOCAL_DIRS":
        os.path.join(rundir, "spark-local"),
        "TMPDIR": os.path.join(rundir, "tmp"),
        # every JVM, the launcher's too: temp files in the run directory,
        # no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir="
        + os.path.join(rundir, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
    })
    sys.path.insert(0, ROOT)
    # The JVM inherits stdout; point fd 1 at stderr until the result line
    # so that nothing else can land after it.
    sys.stdout.flush()
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    cwd = os.getcwd()
    os.chdir(rundir)        # stray spark-warehouse/ or derby.log land here
    try:
        from perfbench import harness, workloads
        spans = None
        if args.trace:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            spans = os.path.join(
                out, f"spans-{args.workload}-{args.seed}.json")
        result = harness.run_workload(
            workloads.get(args.workload), args.seed, args.seconds,
            bool(args.trace), rundir, spans)
    finally:
        os.chdir(cwd)
        shutil.rmtree(rundir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(rundir))   # only if no other run's
        except OSError:
            pass
        sys.stdout.flush()
        os.dup2(real_stdout, 1)
        os.close(real_stdout)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
