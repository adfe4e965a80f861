"""sparklog benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds one SparkSession at
local[<cores>], stages the workload's seeded inputs, warms it with two
full untimed runs (all of that is ``setup_s``), then repeats the workload
as long as another run, as fast as the fastest so far, fits in
``--seconds`` (at least once) and checks every run's outputs.

--trace 0 prints the end-to-end metrics: the median wall time of a run,
input rows per second at that median, and setup time. --trace 1 warms
both workloads and the textops profile (neardup_pages) with one untimed
run each, runs each once with spans around the calls into sparklog, and
prints the per-layer metrics; it also reports the tracing overhead of
the named workload (traced minus untraced wall time).

The last line of standard output is the JSON result. The line before it
is a record of every sample: wall time, the outputs, and host CPU busy
and steal seconds from /proc/stat over the sample.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

T_START = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "perfbench", "_work")
# per-process scratch, removed when the run ends
WORK = os.path.join(OUT, f"run-{os.getpid()}")
# a run may not start after this many seconds of its process
RUN_DEADLINE_S = 140.0
# untimed full runs before timing: the first timed run after a single
# warm-up was still ~30% slower, with ~40% more CPU-seconds (JIT)
WARMUP_RUNS = 2


def _require_program() -> None:
    for rel in ("sparklog/__init__.py", "jobs/run_pipeline.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            sys.exit(f"perfbench: {rel} not found under {ROOT}; run from a "
                     "checkout of the repository")


def _units() -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    return {m["name"]: m["unit"]
            for m in declared["end_to_end"] + declared["per_layer"]}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_session(cpus: int):
    """The program's own session factory, with scratch space kept inside
    the checkout. Workers import sparklog from the checkout root."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from sparklog.session import build_spark

    spark = build_spark(
        app="sparklog-perfbench", master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the session, then the JVM it runs in, and wait for the JVM
    (and with it the Python workers) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits at EOF on its stdin
        gateway.proc.wait(timeout=60)


class Outcome:
    """Timed samples of one workload, each checked."""

    def __init__(self) -> None:
        self.samples: list[dict] = []
        self.attempted = 0
        self.failed = 0

    def sample(self, wl) -> dict:
        from perfbench.tracing import counters_delta, host_cpu_seconds

        before = host_cpu_seconds()
        t0 = time.perf_counter()
        try:
            out = wl.run()
            wall = time.perf_counter() - t0
            problems = wl.check(out)
        except Exception as exc:  # a failed run is a failed operation
            wall, out, problems = time.perf_counter() - t0, {}, [repr(exc)]
        rec = {"wall_s": wall, **counters_delta(before, host_cpu_seconds()),
               "out": out, "problems": problems}
        self.attempted += 1
        self.failed += bool(problems)
        return rec

    def timed(self, wl, seconds: float, fastest: float) -> None:
        """Repeat the workload while another run, as fast as the fastest
        so far (`fastest` from the warm-ups), still ends within `seconds`
        (at least one run)."""
        t_end = time.perf_counter() + seconds
        while True:
            self.samples.append(self.sample(wl))
            fastest = min(fastest, self.samples[-1]["wall_s"])
            now = time.perf_counter()
            if now + fastest > t_end or now - T_START > RUN_DEADLINE_S:
                break

    def walls(self) -> list[float]:
        return [s["wall_s"] for s in self.samples if not s["problems"]]


def _quartiles(xs: list[float]) -> list[float]:
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3


def bench(workload: str, seed: int, seconds: float, trace: bool,
          scale=None) -> tuple[dict, dict]:
    """One benchmark run: (result, per-sample record)."""
    from perfbench import workloads as W
    from perfbench.tracing import Tracer

    scale = scale or W.FULL
    cpus = _cpus()
    t0 = time.perf_counter()
    spark = start_session(cpus)
    session_s = time.perf_counter() - t0
    ctx = W.Ctx(spark=spark, work=tempfile.mkdtemp(prefix="bench-", dir=WORK),
                seed=seed, scale=scale, cpus=cpus)
    kinds = {**W.WORKLOADS, **W.LAYER_ONLY} if trace else \
        {workload: W.WORKLOADS[workload]}
    # the named workload last, so its timed runs follow the other warm-ups
    names = sorted(kinds, key=lambda n: n == workload)
    wls = {n: kinds[n](ctx) for n in names}
    res = Outcome()
    record = {"workload": workload, "seed": seed, "cpus": cpus,
              "session_s": session_s, "stage_s": {}, "warmup": {}}
    for name, wl in wls.items():
        t1 = time.perf_counter()
        wl.stage()
        record["stage_s"][name] = time.perf_counter() - t1
        # warm-up: full untimed runs, checked like the timed ones; the
        # traced run gives every workload one, to save set-up time
        runs = 1 if trace else WARMUP_RUNS
        record["warmup"][name] = [res.sample(wl) for _ in range(runs)]
    setup_s = time.perf_counter() - t0
    record.update(rows=wls[workload].rows, setup_s=setup_s)

    if not trace:
        res.timed(wls[workload], seconds,
                  min(s["wall_s"] for s in record["warmup"][workload]))
        walls = res.walls() or [s["wall_s"] for s in res.samples]
        wall = statistics.median(walls)
        metrics = {"setup_s": setup_s, "wall_s": wall,
                   "rows_per_s": wls[workload].rows / wall}
        record["wall_quartiles_s"] = _quartiles(walls)
    else:
        tr = Tracer()
        untraced = res.sample(wls[workload])
        res.samples.append(untraced)
        layers: dict[str, float] = {}
        # the named workload's traced run right after its untraced one
        for wl in sorted(wls.values(), key=lambda w: w.name != workload):
            res.attempted += 1  # each traced run is checked
            try:
                layers.update(wl.layers(tr))
            except Exception as exc:
                res.failed += 1
                record.setdefault("trace_problems", []).append(repr(exc))
        layers["session.start_s"] = session_s
        layers["trace.overhead_s"] = (tr.total(f"{workload}.run")
                                      - untraced["wall_s"])
        metrics = layers
    record["samples"] = res.samples
    units = _units()
    result = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }
    return result, record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest_agg", "chunked_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    _require_program()
    sys.path.insert(0, ROOT)
    os.makedirs(WORK)
    try:
        result, record = bench(args.workload, args.seed, args.seconds,
                               bool(args.trace))
    finally:
        stop_spark()
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
