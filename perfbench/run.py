"""perfbench runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload frontier_wave --seed 1 --seconds 5 --trace 0

Run from the repository root: the engine is imported from ``rcspark/`` and
metric names and units come from ``BENCHMARK.json``. Inputs are generated
from ``--seed`` and the reference output is computed before anything is
timed. Set-up is the Spark session start (JVM launch), loading the
generated inputs, and one unit of work on them as a warm-up. The
measured region then repeats the workload's unit of work at least once,
and again while the next unit is expected to end within ``--seconds``, and
checks every unit's output against the reference.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run, in which untraced and traced units alternate;
``trace.overhead_s`` is the median traced wall time minus the median
untraced one. Layers a workload does not call report 0. Spans are written to
``.perfbench_work/spans/<run id>.jsonl``. The line before the result
carries the context: cores, driver heap, the CPU-supply probe, each
metric's median, quartiles and sample count, and error_frac (mismatched
output rows over expected rows). The last line is the result object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, os.getcwd())  # the engine under test: rcspark/

import harness  # noqa: E402

WORK_ROOT = ".perfbench_work"
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# workloads: generate / reference / load / unit of work / check
# ---------------------------------------------------------------------------


class FrontierWave:
    """Unit of work: one wave over the whole generated frontier."""

    def __init__(self, seed: int, work: str):
        import frontier

        self.mod = frontier
        self.out = os.path.join(work, "out")
        self.inp = frontier.generate(seed)
        self.exp = frontier.twin(self.inp)

    def load(self, spark):
        self.spark = spark
        self.ld = self.mod.load(spark, self.inp)

    def run_unit(self) -> dict:
        j0 = harness.jobs_submitted(self.spark)
        t0 = time.perf_counter()
        self.mod.wave(self.ld, self.out)
        wall = time.perf_counter() - t0
        return {"wall": wall, "waves": [wall], "urls": self.ld.n_raw,
                "fetches": len(self.exp.scheduled),
                "jobs": [harness.jobs_submitted(self.spark) - j0]}

    def traced_unit(self, tracer) -> dict:
        wall, layers = self.mod.traced_wave(self.ld, self.out, tracer)
        return {"wall": wall, "layers": layers}

    def check(self) -> tuple[int, int]:
        return self.mod.check(self.exp, self.out)


class CrawlDrain:
    """Unit of work: the waves of a crawl after its seed wave, until the
    frontier drains, every snapshot committed. Each unit runs a fresh
    engine on a copy of the warehouse the first crawl left after its seed
    wave. The warm-up is the first crawl: its seed wave, then one unit, so
    every plan of a wave (redirects, images and parsing included) has run
    before anything is timed."""

    def __init__(self, seed: int, work: str):
        import drain

        self.mod = drain
        self.root = os.path.join(work, "warehouse")
        self.seeded = os.path.join(work, "seeded")
        self.fx = drain.generate(seed)
        self.exp = drain.twin(self.fx)
        # every robots-denied URL of this web is gated after the seed wave
        self.n_fetch = sum(1 for row in self.exp.order if row[1] >= 1)
        self.n_log = self.n_fetch + len(self.exp.denied)

    def load(self, spark):
        self.spark = spark
        self.ld = self.mod.load(spark, self.fx)

    def _engine(self):
        self.eng = self.mod.engine(self.spark, self.ld, self.root, self.seeded)
        return self.eng

    def run_unit(self) -> dict:
        eng = self._engine()
        t0 = time.perf_counter()
        waves, jobs = self.mod.drain(eng, lambda: harness.jobs_submitted(self.spark))
        wall = time.perf_counter() - t0
        return {"wall": wall, "waves": waves, "urls": self.n_log,
                "fetches": self.n_fetch, "jobs": jobs}

    def traced_unit(self, tracer) -> dict:
        wall, layers = self.mod.traced_drain(self._engine(), tracer)
        return {"wall": wall, "layers": layers}

    def check(self) -> tuple[int, int]:
        return self.mod.check(self.exp, self.eng)


WORKLOADS = {"frontier_wave": FrontierWave, "crawl_drain": CrawlDrain}


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    work = os.path.abspath(
        os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    )
    harness.configure_spark_env(work)
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": harness.nproc(),
        "driver_heap": os.environ["RCSPARK_DRIVER_MEM"],
        **harness.cpu_supply(),
    }
    spark = None
    try:
        log(f"generating inputs and reference for seed {args.seed}")
        wl = WORKLOADS[args.workload](args.seed, work)
        log("set-up: session start, load, warm-up")
        t0 = time.perf_counter()
        spark = harness.start_session()
        start_s = time.perf_counter() - t0
        wl.load(spark)
        log(f"session {start_s:.1f}s, load {time.perf_counter() - t0 - start_s:.1f}s")
        wl.run_unit()  # warm-up
        setup_s = time.perf_counter() - t0
        log(f"set-up took {setup_s:.1f}s; measuring")
        if args.trace:
            metrics, bad, n = _traced(wl, args, start_s, context)
            names = spec["per_layer"]
        else:
            metrics, bad, n = _untraced(wl, args, setup_s, context)
            names = spec["end_to_end"]
    except Exception:
        log("the run raised (error_frac 1.0); no result")
        raise
    finally:
        harness.stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    context["error_frac"] = bad / n
    result = {
        "correct": bad == 0,
        "attempted": n,
        "failed": bad,
        "metrics": {
            m["name"]: {"value": metrics.get(m["name"], 0.0), "unit": m["unit"]}
            for m in names
        },
    }
    print(json.dumps({"context": context}), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def _untraced(wl, args, setup_s: float, context):
    tree = harness.ProcTree()
    units, bad, n = [], 0, 0
    tree.start_sampling()
    deadline = time.perf_counter() + args.seconds
    # at least one unit; another only while it is expected to end in time
    while not units or (
        time.perf_counter() + statistics.median(u["wall"] for u in units) <= deadline
    ):
        c0 = tree.cpu_s()
        u = wl.run_unit()
        u["cpu"] = tree.cpu_s() - c0
        units.append(u)
        b, k = wl.check()
        bad, n = bad + b, n + k
        log(f"unit {len(units)}: {u['wall']:.2f}s wall, {u['cpu']:.1f}s cpu, {b} mismatches")
    peak_mib = tree.stop_sampling()

    samples = {
        "urls_per_s": [u["urls"] / u["wall"] for u in units],
        "crawl_s": [u["wall"] for u in units],
        "wave_p50_s": [w for u in units for w in u["waves"]],
        "fetches_per_s": [u["fetches"] / u["wall"] for u in units],
        "cpu_s": [u["cpu"] for u in units],
    }
    context["summary"] = {k: harness.summary(v) for k, v in samples.items()}
    metrics = {k: statistics.median(v) for k, v in samples.items()}
    metrics.update(setup_s=setup_s, peak_rss_mib=peak_mib)
    return metrics, bad, n


def _traced(wl, args, start_s: float, context):
    """Untraced and traced units alternate, starting and ending untraced:
    the JVM still gets faster from unit to unit, so each traced unit is
    compared with the untraced ones on both sides of it."""
    tracer = harness.Tracer()
    untraced, traced, layers, jobs = [], [], [], []
    bad = n = 0

    def untraced_unit():
        nonlocal bad, n
        u = wl.run_unit()
        untraced.append(u["wall"])
        jobs.extend(u["jobs"])
        b, k = wl.check()
        bad, n = bad + b, n + k

    deadline = time.perf_counter() + args.seconds
    untraced_unit()
    while not traced or time.perf_counter() < deadline:
        u = wl.traced_unit(tracer)
        traced.append(u["wall"])
        layers.append(u["layers"])
        b, k = wl.check()
        bad, n = bad + b, n + k
        untraced_unit()
        log(f"traced {traced[-1]:.2f}s, untraced {untraced[-2]:.2f}s / {untraced[-1]:.2f}s")
    metrics = {name: statistics.median(ly[name] for ly in layers) for name in layers[0]}
    metrics["session.start_s"] = start_s
    metrics["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    metrics["run.jobs_per_wave"] = statistics.median(jobs)
    context["jobs_per_untraced_wave"] = jobs
    context["untraced_wall_s"] = harness.summary(untraced)
    context["traced_wall_s"] = harness.summary(traced)
    spans_dir = os.path.join(WORK_ROOT, "spans")
    os.makedirs(spans_dir, exist_ok=True)
    context["spans"] = os.path.join(spans_dir, f"{tracer.run_id}.jsonl")
    tracer.dump(context["spans"])
    return metrics, bad, n


if __name__ == "__main__":
    sys.exit(main())
