"""The traced run: the workload's window with spans around the calls
into each engine module, then one probe per layer, each timing a public
function of that module on this workload's input with its result
materialized (the engine is lazy, so timing a call alone times planning).

Every per-layer metric is printed on every workload. Where a layer is not
part of the workload, its probe runs on the workload's probe slice or on
the fixed image sample, as noted per metric in perfbench/README.md.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow.parquet as pq

from perfbench import harness
from perfbench import workloads as W

CORES = 4

# name -> unit, in the order printed; BENCHMARK.json lists the same names
PER_LAYER = {
    "session.get_spark_s": "s",
    "mem.peak_rss_mb": "MB",
    "native.kernels_driver": "count",
    "native.kernels_workers": "count",
    "image.decode_us.png": "us",
    "image.decode_us.fake_lossy": "us",
    "image.decode_us.jpeg444": "us",
    "image.decode_us.jpeg420": "us",
    "image.decode_us.webp": "us",
    "image.stage_us_per_row": "us",
    "image.udf_overhead_ratio": "ratio",
    "image.stage_share_of_op": "ratio",
    "compile.preconditions_s": "s",
    "compile.row_pass_s": "s",
    "compile.join_pass_s.unique_image_id": "s",
    "compile.join_pass_s.inlookup_fmt_lu_fmt": "s",
    "compile.join_pass_s.notinexisting_image_id": "s",
    "compile.violation_rows": "count",
    "run.runner_s": "s",
    "run.verdicts_s": "s",
    "stats.column_stats_by_s": "s",
    "stats.partition_hll_sketches_s": "s",
    "stats.check_expectations_s": "s",
    "checkpoint.wave_overhead_s": "s",
    "checkpoint.write_wave_s": "s",
    "checkpoint.completed_partitions_s": "s",
    "checkpoint.cleanup_orphan_waves_s": "s",
    "checkpoint.resume_s": "s",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.files_written": "count",
    "streaming.microbatch_p50_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "op.tail_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.core_busy_ratio": "ratio",
    "spark.jobs_per_op": "count",
    "spark.scaling_eff_1to4": "ratio",
    "trace.rows_per_s": "1/s",
    "trace.untraced_rows_per_s": "1/s",
    "trace.overhead_ratio": "ratio",
}

STATS_COLUMNS = ["w", "fmt", "caption"]


def best_of(fn, reps: int = 2) -> float:
    """Fastest of ``reps`` timed calls (the first may still pay plan
    compilation for a shape the window never ran)."""
    out = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t)
    return min(out)


class Layers:
    def __init__(self, spark, wl, tracer: harness.Tracer, cache):
        self.spark = spark
        self.wl = wl
        self.tracer = tracer
        self.cache = cache
        self.m: dict[str, float] = {}
        self.failures: list = []

    # ---- spans around the engine's public functions ----------------------

    def _wrap_all(self) -> None:
        from smcchecker_spark import checkpoint, compile, run, stats, streaming

        t = self.tracer
        t.wrap(compile, "evaluate_preconditions", "compile.evaluate_preconditions")
        t.wrap(compile, "compile_row_pass", "compile.compile_row_pass")
        t.wrap(compile, "compile_join_passes", "compile.compile_join_passes")
        t.wrap(run, "compile_suite", "compile.compile_suite")
        t.wrap(streaming, "compile_suite", "compile.compile_suite")
        t.wrap(run.ValidationRunner, "run", "run.ValidationRunner.run")
        t.wrap(checkpoint, "run_with_checkpoint", "checkpoint.run_with_checkpoint")
        for m in ("write_wave", "completed_partitions", "cleanup_orphan_waves"):
            t.wrap(checkpoint.CheckpointStore, m, f"checkpoint.{m}")
        t.wrap(streaming.StreamingValidator, "process_batch",
               "streaming.process_batch")
        for m in ("column_stats_by", "partition_hll_sketches",
                  "check_expectations"):
            t.wrap(stats, m, f"stats.{m}")

    def traced_window(self, seconds: float):
        self._wrap_all()
        t0 = time.time()
        win = self.wl.measure(seconds)
        self.t_window = (t0, time.time())
        self.window = win
        return win

    def _span_median(self, name: str) -> float:
        d = self.tracer.durations(name)
        return harness.median(d) if d else 0.0

    # ---- probes ----------------------------------------------------------

    def run_probes(self) -> None:
        self.probe_df = self.wl.probe_frame().cache()
        self.probe_df.count()  # fill the cache before any probe is timed
        steps = [self._image, self._compile, self._run, self._stats,
                 self._checkpoint, self._streaming]
        if self.wl.name == "image_payload":
            steps.append(self._scaling)
        else:
            self.m["spark.scaling_eff_1to4"] = 0.0
        for step in steps:
            t = time.perf_counter()
            step()
            print(f"# probe {step.__name__.strip('_')}: "
                  f"{time.perf_counter() - t:.2f} s", flush=True)
        self.probe_df.unpersist()
        self.tracer.unwrap_all()

    def _image(self) -> None:
        """Decode cost per codec in this process, and the workload's image
        rows through an ImageConsistent-only row pass on the executors."""
        import pandas as pd
        from smcchecker_spark.compile import compile_row_pass
        from smcchecker_spark.constraints import Suite
        from smcchecker_spark.image import ImageConsistent, decode_facts_batches

        sample_dir, _ = self.cache.get_or_build("sample", W.WARM_SEED, "v2",
                                                W.build_image_sample)
        sample = pq.read_table(sample_dir).to_pandas()

        def decode_us(payloads: pd.Series, reps: int = 3) -> float:
            best = best_of(lambda: list(decode_facts_batches(iter([payloads]))),
                           reps=reps)
            return best / len(payloads) * 1e6

        for variant, grp in sample.groupby("variant"):
            self.m[f"image.decode_us.{variant}"] = decode_us(
                grp["bytes"].reset_index(drop=True))

        stage_df = self.wl.image_frame()
        payloads = self.wl.image_payloads()
        suite = Suite("image_stage", "images", [ImageConsistent()])
        rp = compile_row_pass(stage_df, suite, row_id_col="image_id",
                              part_id_col="part_id")
        wall = best_of(lambda: W.noop(rp), reps=1)
        stage = wall * CORES / len(payloads) * 1e6
        self.m["image.stage_us_per_row"] = stage
        self.m["image.udf_overhead_ratio"] = stage / decode_us(payloads, 1)
        # the stage's wall at one operation's rows, over the median
        # operation: the share of an operation the image layer can move
        w = self.window
        rows_per_op = w.rows / len(w.op_latencies)
        self.m["image.stage_share_of_op"] = (
            wall / len(payloads) * rows_per_op / harness.median(w.op_latencies))

    def _suite_and_ctx(self):
        """The workload's suite and context, plus a NotInExisting check
        against a slice of the probe's own keys when the suite has none."""
        from smcchecker_spark.constraints import NotInExisting, Suite
        from pyspark.sql import functions as F

        suite, ctx = self.wl.suite, self.wl.ctx
        if not any(isinstance(c, NotInExisting) for c in suite.constraints):
            from dataclasses import replace

            snap = self.probe_df.filter(
                F.pmod(F.xxhash64("image_id"), F.lit(97)) == 2
            ).select("image_id")
            suite = Suite(suite.name, suite.table, list(suite.constraints)
                          + [NotInExisting(["image_id"], existing="prod")])
            ctx = replace(ctx, existing={**ctx.existing, "prod": snap})
        return suite, ctx

    def _compile(self) -> None:
        from smcchecker_spark.compile import (compile_join_passes,
                                              compile_row_pass,
                                              evaluate_preconditions)
        from smcchecker_spark.constraints import IntRange, JoinConstraint

        suite, ctx = self._suite_and_ctx()
        # no constraint of the benchmark's suites has a whole-column gate,
        # so time the gate pass of two gated IntRange checks on the slice
        gated = [IntRange("w", width="int2"), IntRange("h", width="int2")]
        self.m["compile.preconditions_s"] = best_of(
            lambda: evaluate_preconditions(self.probe_df, gated))
        rp = compile_row_pass(self.probe_df, suite)
        self.m["compile.row_pass_s"] = best_of(lambda: W.noop(rp))
        joins = [c for c in suite.active() if isinstance(c, JoinConstraint)]
        for c, df in zip(joins, compile_join_passes(self.probe_df, suite, ctx)):
            self.m[f"compile.join_pass_s.{c.name}"] = best_of(
                lambda df=df: W.noop(df))
        self.m["compile.violation_rows"] = self.window.violation_rows

    def _run(self) -> None:
        from smcchecker_spark.run import ValidationRunner

        self.m["run.runner_s"] = self._span_median("run.ValidationRunner.run")
        res = ValidationRunner(self.wl.suite, self.wl.ctx,
                               row_id_col="image_id",
                               part_id_col="part_id").run(self.probe_df)
        res.violations.count()
        self.m["run.verdicts_s"] = best_of(lambda: W.noop(res.verdicts))
        res.violations.unpersist()

    def _stats(self) -> None:
        from pyspark.sql import functions as F
        from smcchecker_spark import stats
        from smcchecker_spark.stats import Expectation

        cols = STATS_COLUMNS
        parted = self.probe_df.withColumn("__part", F.col("part_id"))
        by = stats.column_stats_by(parted, "__part", cols)
        self.m["stats.column_stats_by_s"] = best_of(lambda: W.noop(by), 1)
        sk = stats.partition_hll_sketches(parted, "__part", cols)
        self.m["stats.partition_hll_sketches_s"] = best_of(lambda: W.noop(sk),
                                                           1)
        exps = [Expectation(m, c, lo, hi)
                for m, c, lo, hi in W.STREAM_EXPECTATIONS]
        ex = stats.check_expectations(self.probe_df, exps)
        self.m["stats.check_expectations_s"] = best_of(ex.collect, 1)

    def _checkpoint(self) -> None:
        """(T at K waves - T at 1 wave) / (K - 1) with K = 2, both over the
        probe slice: one wave, the simulated crash, then the resume."""
        from smcchecker_spark import checkpoint as ck
        from smcchecker_spark.run import ValidationRunner

        root = os.path.join(self.wl.out, "probe-ckpt")
        df = self.probe_df
        runner = ValidationRunner(self.wl.suite, self.wl.ctx,
                                  row_id_col="image_id",
                                  part_id_col="part_id", run_id="r")
        parts = sorted(r["part_id"] for r in
                       df.select("part_id").distinct().collect())
        k, per = 2, (len(parts) + 1) // 2
        t = time.perf_counter()
        try:
            ck.run_with_checkpoint(runner, df, ck.CheckpointStore(root),
                                   partitions_per_wave=per,
                                   fail_after_waves=1)
        except RuntimeError as e:
            if "simulated crash" not in str(e):
                raise
        t_r = time.perf_counter()
        ck.run_with_checkpoint(runner, df, ck.CheckpointStore(root),
                               partitions_per_wave=per)
        t_k = time.perf_counter() - t
        self.m["checkpoint.resume_s"] = time.perf_counter() - t_r
        size = harness.dir_size(root)
        shutil.rmtree(root, ignore_errors=True)
        t = time.perf_counter()
        ck.run_with_checkpoint(runner, df, ck.CheckpointStore(root + "1"))
        t_1 = time.perf_counter() - t
        shutil.rmtree(root + "1", ignore_errors=True)
        self.m["checkpoint.wave_overhead_s"] = (t_k - t_1) / (k - 1)
        for m in ("write_wave", "completed_partitions", "cleanup_orphan_waves"):
            self.m[f"checkpoint.{m}_s"] = self._span_median(f"checkpoint.{m}")
        self.m["checkpoint.bytes_written"] = size[0]
        self.m["checkpoint.files_written"] = size[1]

    def _streaming(self) -> None:
        """Medians of the window's per-trigger durations; 0 on a workload
        with no micro-batches."""
        dur = [p["durationMs"] for p in self.window.progress]
        for metric, key in (("microbatch_p50_s", "triggerExecution"),
                            ("add_batch_s", "addBatch"),
                            ("query_planning_s", "queryPlanning"),
                            ("wal_commit_s", "walCommit")):
            self.m[f"streaming.{metric}"] = (
                harness.median([d.get(key, 0) / 1000.0 for d in dur])
                if dur else 0.0)

    def _scaling(self) -> None:
        """image_payload's operation over the probe slice with one task per
        stage (the scan coalesced to one partition, one shuffle partition)
        against the same at full parallelism, in this local[4] session."""
        t4 = self._timed_op(self.probe_df)
        conf = self.spark.conf
        shuffle = conf.get("spark.sql.shuffle.partitions")
        conf.set("spark.sql.shuffle.partitions", "1")
        try:
            one = self.probe_df.coalesce(1)
            t1 = self._timed_op(one)
        finally:
            conf.set("spark.sql.shuffle.partitions", shuffle)
        self.m["spark.scaling_eff_1to4"] = t1 / (CORES * t4)

    def _timed_op(self, df) -> float:
        """Wall time of one workload operation (validation run plus writes)."""
        dest = os.path.join(self.wl.out, "probe-op")
        t = time.perf_counter()
        self.wl.operation(df, dest)
        dt = time.perf_counter() - t
        shutil.rmtree(dest, ignore_errors=True)
        return dt

    # ---- assembly --------------------------------------------------------

    def metrics(self, untraced_rows_per_s: float, event_dir: str,
                get_spark_s: float, kernels_driver: int,
                kernels_workers: int, peak_rss_mb: float) -> dict:
        w = self.window
        t0, t1 = self.t_window
        c = harness.event_log_counters(event_dir, t0, t1)
        tail_v, _ = harness.tail(w.op_latencies)
        m = dict(self.m)
        m.update({
            "session.get_spark_s": get_spark_s,
            "mem.peak_rss_mb": peak_rss_mb,
            "native.kernels_driver": kernels_driver,
            "native.kernels_workers": kernels_workers,
            "op.tail_s": tail_v,
            "spark.jobs": c["jobs"],
            "spark.stages": c["stages"],
            "spark.tasks": c["tasks"],
            "spark.executor_run_s": c["run_ms"] / 1000.0,
            "spark.executor_cpu_s": c["cpu_ns"] / 1e9,
            "spark.gc_s": c["gc_ms"] / 1000.0,
            "spark.input_bytes": c["input"],
            "spark.shuffle_write_bytes": c["shuffle_w"],
            "spark.shuffle_read_bytes": c["shuffle_r"],
            "spark.spill_bytes": c["spill"],
            "spark.core_busy_ratio": c["run_ms"] / 1000.0 / (w.wall_s * CORES),
            "spark.jobs_per_op": c["jobs"] / max(w.attempted, 1),
            "trace.rows_per_s": w.rows_per_s,
            "trace.untraced_rows_per_s": untraced_rows_per_s,
            "trace.overhead_ratio": 1.0 - w.rows_per_s / untraced_rows_per_s,
        })
        missing = set(PER_LAYER) - set(m)
        if missing:
            raise RuntimeError(f"per-layer metrics not measured: {missing}")
        return {k: (m[k], PER_LAYER[k]) for k in PER_LAYER}

