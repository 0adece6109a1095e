#!/usr/bin/env python3
"""End-to-end benchmark of pride_spark.

Run from the repository root::

    python3 e2ebench/run.py --workload index-psm-heavy --seed 1 --seconds 5 --trace 0

One run = one fresh process: set up the Spark session, generate the
workload's inputs from ``--seed`` (untimed), run one cold pass, then
warm passes until ``--seconds`` seconds of them have run, checking every
pass's outputs against the generator's ground truth.  ``--trace 1``
makes a separate traced run that alternates untraced and traced warm
passes and reports per-layer metrics instead of end-to-end ones.

Prints a JSON line of run details, then, as the last line, the result:
``{"correct", "attempted", "failed", "metrics"}``.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: the harness's own session settings, identical for every run
DRIVER_HEAP = "2g"
SPARK_CONF = {
    "spark.driver.memory": DRIVER_HEAP,
    "spark.ui.enabled": "false",
}
#: environment variables that steer the program (or the session it
#: builds) and are removed so every run sees the program's defaults
SCRUBBED_ENV_PREFIXES = ("PRIDE_SPARK_", "SPARK_GRAFT_", "SPARK_DRIVER_MEMORY", "PYSPARK_SUBMIT_ARGS")
#: no pass starts later than this after process start (runs must end
#: well inside 180 s)
LAST_PASS_START_S = 110.0


def process_start() -> float:
    """The ``time.perf_counter()`` reading at which this process started."""
    with open("/proc/self/stat") as fh:
        after_comm = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(after_comm[19])  # field 22 of proc(5)
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.perf_counter() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(work: str):
    """Pin the harness settings, build the session, answer a first job."""
    for key in list(os.environ):
        if key.startswith(SCRUBBED_ENV_PREFIXES):
            del os.environ[key]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers import pride_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from pride_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    conf = dict(
        SPARK_CONF,
        **{
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark = get_spark("e2ebench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf)
    spark.range(1).count()
    return spark, cores, conf


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def effective_settings(spark) -> dict:
    """The settings the session runs with, read back from it: the program
    may change runtime settings of the session it is handed."""
    mem = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return {
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.driver.memory": spark.sparkContext.getConf().get("spark.driver.memory", None),
        "jvm_heap_init_mb": mem.getInit() / 2**20,
        "jvm_heap_max_mb": mem.getMax() / 2**20,
    }


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


class Runner:
    def __init__(self, wl, spark, truth: dict, work: str, tracer=None):
        self.wl, self.spark, self.truth, self.work, self.tracer = wl, spark, truth, work, tracer
        self.passes: list[dict] = []

    def one_pass(self, traced: bool = False) -> dict:
        from pride_spark.session import release_cached_state

        out_dir = os.path.join(self.work, "out")
        shutil.rmtree(out_dir, ignore_errors=True)
        rec = {"traced": traced, "errors": []}
        gc0 = gc_seconds(self.spark)
        result = None
        if traced:
            self.tracer.enabled = True
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span("other.self"):
                    result = self.wl.run_pass(self.spark, self.truth, out_dir)
            else:
                result = self.wl.run_pass(self.spark, self.truth, out_dir)
        except Exception:
            rec["errors"].append(traceback.format_exc(limit=3))
        rec["seconds"] = time.perf_counter() - t0
        rec["gc_s"] = gc_seconds(self.spark) - gc0
        rec["shuffle_partitions"] = self.spark.conf.get("spark.sql.shuffle.partitions")
        if traced:
            self.tracer.enabled = False
            try:
                rec["layers"] = self.layer_metrics()
            except Exception:
                rec["errors"].append(traceback.format_exc(limit=3))
        release_cached_state(self.spark)
        if result is not None:
            try:
                rec["errors"].extend(self.wl.check(self.truth, out_dir, result))
            except Exception:
                rec["errors"].append(traceback.format_exc(limit=3))
        self.passes.append(rec)
        return rec

    def layer_metrics(self) -> dict:
        from spans import layer_of

        tr = self.tracer
        extra = tr.run_deferred()
        tr.settle_counts()
        selft = tr.self_times()
        m: dict[str, float] = {}
        for s in tr.spans:
            name, layer = s["name"], layer_of(s["name"])
            m[name + "_s"] = m.get(name + "_s", 0.0) + selft[s["id"]]
            for k, v in s["counts"].items():
                m[f"{layer}.{k}"] = m.get(f"{layer}.{k}", 0) + v
        cand = extra.pop("operators.dedup.candidate_pairs", 0)
        verified = extra.pop("operators.dedup.verified_pairs", 0)
        if cand:
            m["operators.dedup.pair_yield"] = verified / cand
        m.update(extra)
        tr.release_forced()
        tr.reset()
        return m


def warmup_cut(values: list[float], window: int = 3, tol: float = 0.05) -> int | None:
    """Index of the first sample of the flat part of a warm-up curve.

    Samples are pass times in the order they ran.  The curve is flat from
    index ``i`` when the ``window`` samples starting at ``i`` all lie
    within ``tol`` of their own median and no later sample falls below
    that median by more than ``tol`` (a later drop means the curve was
    still descending).  None when no such index exists."""
    for i in range(len(values) - window + 1):
        m = statistics.median(values[i : i + window])
        if all(abs(v - m) <= tol * m for v in values[i : i + window]) and all(
            v >= (1 - tol) * m for v in values[i + window :]
        ):
            return i
    return None


def warm_measured(times: list[float]) -> tuple[list[float], int, bool]:
    """Split warm-pass times into (measured, dropped count, flat).

    The measured passes start at :func:`warmup_cut` when the curve has a
    flat part.  Without one the first warm pass alone is measured and the
    run is marked as measured on the warm-up curve: a fixed pass index,
    whatever the number of passes that fit in the run, so a faster
    program is not read further down the curve than a slower one."""
    cut = warmup_cut(times)
    if cut is not None:
        return times[cut:], cut, True
    return times[:1], 0, False


def main(argv=None) -> int:
    t_start = process_start()
    # SIGTERM unwinds like an exception, so the session and the work
    # directory are still cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pride_spark")):
        print("e2ebench: run from a pride_spark checkout (no pride_spark/ here)", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"e2ebench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".e2ebench_work", f"{wl.name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpu0, load0 = cpu_times(), loadavg()
    spark = None
    try:
        spark, cores, conf = start_session(work)
        setup_s = time.perf_counter() - t_start
        effective = effective_settings(spark)
        truth = wl.make_inputs(args.seed, work)

        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            for layer in wl.layers:
                tracer.wrap(layer.module, layer.func, layer.span, layer.deferred)
        runner = Runner(wl, spark, truth, work, tracer)

        cold = runner.one_pass()
        warm_start = time.perf_counter()
        # a traced run alternates untraced and traced warm passes, starting
        # and ending untraced, so each traced pass has an untraced pass on
        # either side of it on the warm-up curve
        while True:
            n_warm = len(runner.passes) - 1
            runner.one_pass(traced=bool(args.trace and n_warm % 2))
            n_warm += 1
            done = time.perf_counter() - warm_start >= args.seconds
            have_all = (n_warm >= 3 and n_warm % 2 == 1) if args.trace else True
            if (done and have_all) or time.perf_counter() - t_start > LAST_PASS_START_S:
                break
        peak_rss = jvm_peak_rss_mb(spark)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        work_root = os.path.dirname(work)
        if os.path.isdir(work_root) and not os.listdir(work_root):
            os.rmdir(work_root)

    cpu1, load1 = cpu_times(), loadavg()
    dcpu = [b - a for a, b in zip(cpu0, cpu1)]
    failed = sum(1 for p in runner.passes if p["errors"])
    warm = [p for p in runner.passes[1:] if not p["traced"]]
    warm_times = [p["seconds"] for p in warm]
    details = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "settings": {
            "spark_conf": conf,
            "scrubbed_env_prefixes": list(SCRUBBED_ENV_PREFIXES),
            "effective_after_setup": effective,
        },
        "inputs": {k: v for k, v in truth.items() if isinstance(v, (int, dict))},
        "cpu_steal_share": dcpu[7] / max(sum(dcpu), 1),
        "loadavg_start": load0,
        "loadavg_end": load1,
        "passes": [
            {
                "seconds": p["seconds"],
                "traced": p["traced"],
                "gc_s": p["gc_s"],
                "shuffle_partitions": p["shuffle_partitions"],
                "errors": p["errors"],
            }
            for p in runner.passes
        ],
        "notes": wl.notes,
    }

    if args.trace:
        traced = [p for p in runner.passes[1:] if p["traced"] and "layers" in p]
        # each traced pass against the mean of its untraced neighbours
        ps = runner.passes
        overhead = [
            100.0 * (ps[i]["seconds"] / ((ps[i - 1]["seconds"] + ps[i + 1]["seconds"]) / 2) - 1)
            for i in range(2, len(ps) - 1)
            if ps[i]["traced"] and "layers" in ps[i]
        ]
        metrics = {}
        for spec in bench["per_layer"]:
            name = spec["name"]
            if name == "jvm.gc_s":
                vals = [p["gc_s"] for p in runner.passes[1:]]
            elif name == "trace.overhead_pct":
                vals = overhead
            else:
                vals = [p["layers"].get(name, 0) for p in traced]
            # a run whose traced passes all failed still prints every metric
            metrics[name] = {"value": statistics.median(vals) if vals else 0, "unit": spec["unit"]}
        details["layers_per_traced_pass"] = [p["layers"] for p in traced]
        # share of each traced pass spent in each layer's own code
        details["self_time_share"] = {
            spec["name"]: statistics.median(p["layers"].get(spec["name"], 0) / p["seconds"] for p in traced)
            for spec in bench["per_layer"]
            if spec["unit"] == "s" and spec["name"] != "jvm.gc_s" and traced
        }
    else:
        measured, dropped, flat = warm_measured(warm_times)
        med = statistics.median(measured)
        last_dropped = warm_times[dropped - 1] if dropped else cold["seconds"]
        details["warmup"] = {
            "dropped_passes": dropped + 1,  # the cold pass is always dropped
            "last_dropped_over_median": last_dropped / med,
            "flat": flat,
            "measured_seconds": measured,
        }
        values = {
            "setup_s": setup_s,
            "cold_s": cold["seconds"],
            "records_per_s": truth["records"] / med,
            "peak_rss_mb": peak_rss,
        }
        metrics = {
            spec["name"]: {"value": values[spec["name"]], "unit": spec["unit"]}
            for spec in bench["end_to_end"]
        }
    print(json.dumps({"details": details}, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(runner.passes),
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
