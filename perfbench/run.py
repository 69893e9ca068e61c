"""Benchmark of the near-duplicate engine: one workload per invocation.

    python3 perfbench/run.py --workload pipeline_mixed --seed 1 --seconds 12 --trace 0

Run from the repository root. The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones (see BENCHMARK.json);
with ``--trace 1`` a separate traced run reports the per-layer ones.
Progress and extra detail go to stderr. Everything the run writes stays
under ``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

import host
import workloads
from inputs import GENERATORS, load_inputs, quality

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
# What the benchmark drives; a tree without them cannot be measured.
PROGRAM_FILES = (
    "fastcdc_rs_spark/pipeline.py",
    "jobs/dedup_job.py",
    "tests/oracle.py",
    "__spark_entry__.py",
)
CORES = 4         # local[4]: the benchmark's fixed degree of parallelism
WARM_REPS = 2     # full reps in the set-up: most of the JVM's JIT warm-up
MIN_REPS = 3      # measured reps per run, even past --seconds
HEAP = "2g"       # driver heap cap; the session's 16g default suits a 32-core host
_T0 = time.perf_counter()


def log(*args) -> None:
    print(f"[{time.perf_counter() - _T0:6.1f}]", *args, file=sys.stderr, flush=True)


def _environment() -> str:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    return tmp


def new_session(tmp: str, event_dir: str | None = None):
    from fastcdc_rs_spark.session import spark_session

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.eventLog.enabled": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = spark_session(app="perfbench", cores=CORES, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Tally:
    """Attempted and failed outputs; a wrong output counts as failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            log(f"WRONG OUTPUT ({what}): " + "; ".join(problems))


def run_rep(docs, inputs, tally: Tally, what: str):
    """One timed rep plus its (untimed) correctness check."""
    t0 = time.perf_counter()
    cl, vp = workloads.rep(docs)
    dt = time.perf_counter() - t0
    tally.record(what, workloads.check(inputs, cl, vp))
    return dt, cl


def setup(inputs, tmp: str, tally: Tally, event_dir: str | None = None,
          warm_reps: int = WARM_REPS):
    """Session start and input load, then ``warm_reps`` checked reps. In a
    fresh process the session start also launches the JVM, the first rep
    starts the Python workers and loads the kernel, and the reps warm the
    JVM's JIT, which outlives the session. The first rep after two of them
    is still 10-20% slow; the median of the timed reps absorbs that.
    Returns (session, cached docs, set-up seconds)."""
    t0 = time.perf_counter()
    spark = new_session(tmp, event_dir)
    docs = workloads.load(spark, inputs.docs_path)
    warm = [run_rep(docs, inputs, tally, f"warm-up rep {i}")[0] for i in range(warm_reps)]
    dt = time.perf_counter() - t0
    log(f"set-up: {dt:.3f} s; warm-up reps: {[round(w, 3) for w in warm]}")
    return spark, docs, dt


def measure(args, inputs, tmp: str, tally: Tally) -> dict:
    """One cold set-up, then reps for ``--seconds`` (at least MIN_REPS)."""
    with host.RssSampler() as rss:
        spark, docs, setup_s = setup(inputs, tmp, tally)
        walls: list[float] = []
        while sum(walls) < args.seconds or len(walls) < MIN_REPS:
            dt, cl = run_rep(docs, inputs, tally, f"rep {len(walls)}")
            walls.append(dt)
    # three or four reps support no tail percentile: only the median is a metric
    log("reps:", [round(w, 3) for w in walls])

    q = quality(inputs.truth, workloads.cluster_ids(inputs, cl))
    log(f"false_merges: {q['false_merges']}")
    wall = statistics.median(walls)
    return {
        "wall_s": (wall, "s"),
        "docs_per_s": (inputs.n_docs / wall, "docs/s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
        "pair_recall": (q["pair_recall"], "share"),
        "boiler_isolated": (q["boiler_isolated"], "share"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        log("cannot benchmark: program files missing:", ", ".join(missing))
        return 2
    tmp = _environment()
    if args.workload not in GENERATORS:
        log(f"unknown workload {args.workload!r}; one of {sorted(GENERATORS)}")
        return 2
    t0 = time.perf_counter()
    inputs = load_inputs(ROOT, WORK, args.workload, args.seed)
    log(f"inputs: {inputs.n_docs} docs, {inputs.n_bytes / 1e6:.1f} MB "
        f"({time.perf_counter() - t0:.1f} s incl. oracle)")
    tally = Tally()
    try:
        if args.trace:
            import trace_layers

            metrics = trace_layers.traced_run(
                args, inputs, tmp, tally, sys.modules[__name__]
            )
        else:
            metrics = measure(args, inputs, tmp, tally)
    finally:
        host.shutdown_spark()
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    log("done")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
