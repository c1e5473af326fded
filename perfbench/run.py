"""smcchecker_spark benchmark: one seeded workload, measured for a fixed
time, outputs checked against an independent oracle.

    python3 perfbench/run.py --workload image_payload --seed 1 \
        --seconds 15 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` they are its per-layer metrics. Lines starting with ``#``
before it are for people: set-up breakdown, input generation time, host
context and the named figures each workload exists to show. See
perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CORES = 4
KERNELS = ("jpegscan", "jpegrecon", "jpegprog", "vp8ltree", "vp8lpix")
WORKLOAD_NAMES = ("image_payload", "stream_microbatch")


def _isolate() -> str:
    """Keep every file the run writes under perfbench/.work, and run Spark
    from there: Python workers put their working directory first on
    sys.path, so starting them in the checkout root would import the
    package from the source tree instead of the zip get_spark ships."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    tempfile.tempdir = None
    os.chdir(WORK)
    return tmp


def _out_dir() -> str:
    """This run's scratch outputs; removed when the run ends."""
    return os.path.join(WORK, f"out-{os.getpid()}")


def _say(msg: str) -> None:
    print(f"# {msg}", flush=True)


def _worker_kernels(spark) -> int:
    """How many native kernels a Python worker loads through the public
    loaders, importing the package as shipped."""
    import pandas as pd

    def probe(batches):
        from smcchecker_spark import native

        for _ in batches:
            n = sum(getattr(native, k)() is not None for k in KERNELS)
            yield pd.DataFrame({"n": [n]})

    rows = spark.range(1, numPartitions=1).mapInPandas(probe, "n int").collect()
    return int(rows[0]["n"])


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until no process started
    by this run is left."""
    from pyspark import SparkContext

    from perfbench.harness import process_tree

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(process_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def _session(tmp: str, extra: dict | None = None):
    from smcchecker_spark.session import get_spark

    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        **(extra or {}),
    }
    return get_spark("perfbench", cores=CORES, extra_conf=conf)


def run(args) -> dict:
    from perfbench import harness

    t_proc = harness.process_start_epoch()
    tmp = _isolate()
    rss = harness.PeakRss()
    host = harness.HostContext()
    cache = harness.InputCache(os.path.join(WORK, "cache"))
    out = _out_dir()
    os.makedirs(out)
    event_dir = os.path.join(out, "eventlog")
    extra = harness.event_log_conf(event_dir) if args.trace else None

    # ---- set-up: session, native kernels, one warm pass ------------------
    from smcchecker_spark import native

    from perfbench.workloads import WORKLOADS

    t = time.perf_counter()
    spark = _session(tmp, extra)
    get_spark_s = time.perf_counter() - t
    try:
        kernels_driver = sum(getattr(native, k)() is not None for k in KERNELS)
        wl = WORKLOADS[args.workload](spark, out)
        t = time.perf_counter()
        warm_gen_s = wl.warm(cache)
        warm_s = time.perf_counter() - t - warm_gen_s
        setup_s = time.time() - t_proc - warm_gen_s
        _say(f"set-up {setup_s:.2f} s: get_spark {get_spark_s:.2f} s, "
             f"warm pass {warm_s:.2f} s")

        # ---- inputs (cached per workload, seed and size) -----------------
        path, gen_s = cache.get_or_build(wl.name, args.seed, wl.size,
                                         lambda p: wl.build(args.seed, p))
        wl.load(path)
        _say(f"inputs {os.path.relpath(path, HERE)}: "
             + (f"generated in {gen_s:.2f} s" if gen_s is not None
                else "cached")
             + (f"; warm-pass sample generated in {warm_gen_s:.2f} s"
                if warm_gen_s else ""))

        # ---- measured window(s) ------------------------------------------
        if args.trace:
            from perfbench import probes

            # the same window untraced first, for the tracing overhead
            plain = wl.measure(args.seconds)
            layers = probes.Layers(spark, wl, harness.Tracer(), cache)
            win = layers.traced_window(args.seconds)
            layers.run_probes()
            os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
            layers.tracer.dump(os.path.join(
                WORK, "spans", f"{wl.name}-seed{args.seed}.json"))
        else:
            win = wl.measure(args.seconds)
        kernels_workers = _worker_kernels(spark)
    finally:
        _stop_spark(spark)
    peak_rss_mb = rss.stop()
    ctx = host.finish()

    lat_p50 = harness.median(win.op_latencies)
    tail_v, tail_pct = harness.tail(win.op_latencies)
    _say("host " + json.dumps(ctx, sort_keys=True))
    _say(f"native.kernels_driver={kernels_driver} "
         f"native.kernels_workers={kernels_workers} (of {len(KERNELS)})")
    _say(f"operations attempted={win.attempted} failed={win.failed} "
         f"failed_op_ratio={win.failed / max(win.attempted, 1):.4f}")
    _say(f"peak_rss_mb={peak_rss_mb:.1f} MB (largest VmHWM in the process "
         "tree)")
    _say(f"op latency: p50={lat_p50:.4f} s, tail p{tail_pct:.1f}="
         f"{tail_v:.4f} s over {len(win.op_latencies)} samples")
    if win.progress:
        _say(f"microbatch_p50_s={lat_p50:.4f} s microbatch_tail_s="
             f"{tail_v:.4f} s (p{tail_pct:.1f} of {len(win.op_latencies)} "
             "micro-batches)")
    for f in win.failures:
        _say(f"FAILED: {f}")

    correct = win.failed == 0 and not win.failures
    attempted, failed = win.attempted, win.failed
    if args.trace:
        _say(f"untraced window first: rows_per_s={plain.rows_per_s:.2f}, "
             f"attempted={plain.attempted} failed={plain.failed}")
        attempted += plain.attempted
        failed += plain.failed
        metrics = layers.metrics(
            untraced_rows_per_s=plain.rows_per_s, event_dir=event_dir,
            get_spark_s=get_spark_s, kernels_driver=kernels_driver,
            kernels_workers=kernels_workers, peak_rss_mb=peak_rss_mb)
        extra_failures = layers.failures + plain.failures
        for f in extra_failures:
            _say(f"FAILED: {f}")
        correct = correct and not extra_failures and plain.failed == 0
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "rows_per_s": (win.rows_per_s, "1/s"),
            "op_p50_s": (lat_p50, "s"),
        }
    for name, (v, unit) in metrics.items():
        _say(f"{name} = {v} {unit}")
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "smcchecker_spark")):
        print("perfbench: the smcchecker_spark package is not in this "
              "checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(_out_dir(), ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
