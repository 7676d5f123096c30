"""Repository benchmark: image pipeline and catalog queries.

    python3 perfbench/run.py --workload survey_night --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench_work/`` (removed at exit); the traced run writes its
spans to ``.perfbench_out/``. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). See README.md in this directory.
"""

from __future__ import annotations

import time

from spans import Clock

T0 = Clock()  # process start, for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "telescope_data_pipeline_spark"

#: 16 epochs x 3 frames of 160^2 px, 12 isolated stars per epoch
SURVEY_NIGHT = dict(epochs=16, frames_per_epoch=3, size=160, stars=12)
CATALOG_SF = 0.01
#: inputs of the traced run's pass over the other workload's layers
SMALL_IMAGES = dict(epochs=2, frames_per_epoch=3, size=128, stars=6)
SMALL_SF = 0.001
DRIVER_MEM = "2g"
#: A run lives about a minute. In that time the C2 compiler spends more
#: CPU than it saves and keeps changing pass times as it goes.
DRIVER_JIT = "-XX:TieredStopAtLevel=1"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Ops:
    """Attempted and failed operations of one run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def record(self, problem: str | None) -> bool:
        self.attempted += 1
        if problem:
            self.failed += 1
            log(f"FAILED {problem}")
        return not problem

    def call(self, what: str, fn, *args):
        """Run one operation; a raised exception counts as a failure."""
        try:
            result = fn(*args)
        except Exception:  # an operation failing must not end the run
            traceback.print_exc()
            self.record(f"{what} raised")
            return None
        self.record(None)
        return result


def start_spark(work: str):
    from telescope_data_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {DRIVER_JIT}",
    })


def stop_spark(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def percentile(values: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(values, q))


# -- workloads ----------------------------------------------------------------

class SurveyNight:
    """Untraced passes run the CLI; the traced pass calls its layers."""

    def __init__(self, spark, work: str, seed: int, small: bool = False) -> None:
        from gen_images import ImageSpec
        from image import ImageInput

        self.spark = spark
        self.work = work
        self.input = ImageInput(os.path.join(work, "images"),
                                ImageSpec(**(SMALL_IMAGES if small else SURVEY_NIGHT)),
                                seed)
        self.outputs: list[str] = []
        self.items = self.input.n_frames

    def one_pass(self, ops: Ops) -> tuple[float, list[float]]:
        from image import run_cli

        out = os.path.join(self.work, f"out{len(self.outputs)}")
        self.outputs.append(out)
        clock = Clock()
        ops.call("cli", run_cli, self.input, out)
        took = clock.elapsed()
        return took, [took]  # one operation = one CLI run

    def check(self, ops: Ops) -> float:
        """Sink checks for every pass; returns recovered_frac."""
        from image import check_outputs, read_catalog, recovered_frac

        fracs = []
        for out in self.outputs:
            for problem in check_outputs(self.input, out):
                ops.record(problem)
            fracs.append(recovered_frac(self.input, read_catalog(out)))
        ops.record(None if len(set(fracs)) == 1
                   else f"recovered_frac differs between passes: {fracs}")
        return fracs[0]

    def traced(self, tracer, ops: Ops) -> dict:
        from image import traced_pass

        out = os.path.join(self.work, "traced_out")
        self.outputs.append(out)
        return traced_pass(self.spark, tracer, self.input, out)


class CatalogQueries:
    def __init__(self, spark, work: str, seed: int, small: bool = False) -> None:
        from catalog import QUERIES, CatalogInput

        self.spark = spark
        self.input = CatalogInput(os.path.join(work, "tables"), seed,
                                  SMALL_SF if small else CATALOG_SF)
        self.rows: list[tuple[str, int]] = []
        self.items = len(QUERIES)

    def one_pass(self, ops: Ops) -> tuple[float, list[float]]:
        from catalog import QUERIES, run_query

        pass_clock = Clock()
        latencies = []
        for name in QUERIES:
            clock = Clock()
            rows = ops.call(name, run_query, self.spark, name, self.input.root)
            latencies.append(clock.elapsed())
            if rows is not None:
                self.rows.append((name, rows))
        return pass_clock.elapsed(), latencies

    def check(self, ops: Ops) -> float:
        """Row-count checks; returns the share of executions that match."""
        from catalog import check_rows, expected_rows

        expected = expected_rows(self.input)
        ok = sum(ops.record(check_rows(expected, name, rows))
                 for name, rows in self.rows)
        return ok / len(self.rows) if self.rows else 0.0

    def traced(self, tracer, ops: Ops) -> dict:
        from catalog import QUERIES, run_query

        layers = {}
        with tracer.span("traced_pass"):
            for name in QUERIES:
                with tracer.span(f"queries.{name}"):
                    rows = ops.call(name, run_query, self.spark, name, self.input.root)
                if rows is not None:
                    self.rows.append((name, rows))
                layers[f"queries.{name}_s"] = tracer.duration(f"queries.{name}")
        return layers


WORKLOADS = {"survey_night": SurveyNight, "catalog_queries": CatalogQueries}


# -- runs ---------------------------------------------------------------------

def timed_run(args, spark, t_session: float, work: str) -> dict:
    """Set-up (session and inputs), then one untraced pass from a cold
    start, as a user runs it: the CLI once per night, or a list of
    queries in a new session."""
    from spans import RssSampler, tree_cpu_s

    ops = Ops()
    t = time.perf_counter()
    wl = WORKLOADS[args.workload](spark, os.path.join(work, "main"), args.seed)
    t_gen = time.perf_counter() - t
    setup_s = T0.elapsed()
    log(f"setup {setup_s:.1f}s less steal: session {t_session:.1f}s, inputs {t_gen:.1f}s")
    with RssSampler(spark) as rss:
        cpu = tree_cpu_s()
        t = time.perf_counter()
        wall, lat = wl.one_pass(ops)
        raw = time.perf_counter() - t
        cpu = tree_cpu_s() - cpu
    log(f"pass {raw:.2f}s, {wall:.2f}s less steal, cpu {cpu:.1f}s, operations "
        + " ".join(f"{x:.2f}" for x in lat))
    quality = wl.check(ops)
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "cpu_s": (cpu, "s"),
        "items_per_s": (wl.items / wall, "1/s"),
        "op_p50_s": (percentile(lat, 50), "s"),
        "op_p90_s": (percentile(lat, 90), "s"),
        "recovered_frac": (quality, "ratio"),
        "success_rate": (1 - ops.failed / ops.attempted, "ratio"),
        "peak_rss_mb": (rss.peak / 2 ** 20, "MB"),
    }
    return result(ops, metrics)


def traced_run(args, spark, t_session: float, work: str) -> dict:
    """One untraced pass (as a timed run makes it), one traced pass over
    this workload's input, then a traced pass over a small input of the
    other workload so that every layer is measured."""
    from spans import Tracer, dump

    ops = Ops()
    kind = WORKLOADS[args.workload]
    other_kind = next(k for k in WORKLOADS.values() if k is not kind)
    wl = kind(spark, os.path.join(work, "main"), args.seed)
    t = time.perf_counter()
    wl.one_pass(ops)
    untraced = time.perf_counter() - t  # wall time, as the spans take it
    spark.catalog.clearCache()
    tracer = Tracer(spark, "main")
    layers = wl.traced(tracer, ops)
    spark.catalog.clearCache()
    other = Tracer(spark, "other")
    small = other_kind(spark, os.path.join(work, "other"), args.seed, small=True)
    layers.update(small.traced(other, ops))
    for checked in (wl, small):
        checked.check(ops)

    total = tracer.duration("traced_pass")
    spans = [s for s in tracer.spans + other.spans if s["name"] != "traced_pass"]
    layers["session.get_spark_s"] = t_session
    for s in spans:
        layers[f"spark.{s['name']}.stages"] = s["stages"]
        layers[f"spark.{s['name']}.tasks"] = s["tasks"]
    layers["spark.failed_tasks"] = sum(s["failed_tasks"] for s in spans)
    layers["trace.total_s"] = total
    layers["trace.overhead_s"] = total - untraced
    log(f"traced total {total:.2f}s, untraced pass {untraced:.2f}s")
    dump(os.path.join(ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}-trace.json"),
         tracer.spans + other.spans)
    units = {"_s": "s", "_mb": "MB", "_ratio": "ratio"}
    metrics = {}
    for name, value in layers.items():
        unit = next((u for suffix, u in units.items() if name.endswith(suffix)), "count")
        metrics[name] = (value, unit)
    return result(ops, metrics)


def result(ops: Ops, metrics: dict) -> dict:
    return {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    # a run times one cold pass, which takes longer than --seconds
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__main__.py")):
        log(f"no {PACKAGE} package next to {HERE}: run from a repository checkout")
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Python workers import the package; every temporary file stays in
    # the work directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    sys.path[:0] = [HERE, ROOT]

    spark = None
    try:
        t = time.perf_counter()
        spark = start_spark(work)
        t_session = time.perf_counter() - t
        run = traced_run if args.trace else timed_run
        out = run(args, spark, t_session, work)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
