"""Checkpoint / resume at partition granularity, with lineage + metrics.

North rule: "resumable from checkpoint with per-partition lineage +
metrics". Reference analogue: the submission_tracking table + row-count
checksum written after load (/root/reference/proj/load.py:124-145,
proj/login.py:44-57) — progress records at submission granularity; this
engine generalizes them to one record per data partition so a 10^12-row
run that dies resumes exactly at the incomplete partitions.

Mechanics (deterministic batch orchestration, SURVEY.md §2.9):

- the checkpoint table is a parquet (or Iceberg, when jars are present)
  directory of verdict/metrics rows keyed (run_id, part_id), plus the
  violations written per completed wave;
- ``completed_partitions`` reads only the checkpoint (tiny), never data;
- ``resume_filter`` prunes completed partitions from the input scan — a
  partition-column predicate, so on a hive/Iceberg-partitioned table the
  pruning happens at the SOURCE (no data read for finished partitions);
- each wave validates a set of partitions, appends violations, then
  appends verdict rows LAST — a wave is complete iff its verdict rows
  (which carry the wave id) are present. A crash BETWEEN the two writes
  leaves an orphaned ``wave=k`` violations directory with no matching
  verdict; ``run_with_checkpoint`` deletes such orphans before resuming,
  so the re-run of those partitions cannot double-count violations.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smcchecker_spark.run import ValidationRunner, ValidationResult


class CheckpointStore:
    def __init__(self, root: str):
        self.root = root

    def _verdict_path(self, run_id: str) -> str:
        return os.path.join(self.root, "verdicts", f"run_id={run_id}")

    def _violations_path(self, run_id: str, wave: int) -> str:
        return os.path.join(
            self.root, "violations", f"run_id={run_id}", f"wave={wave}"
        )

    def _metrics_path(self, run_id: str, wave: int) -> str:
        return os.path.join(
            self.root, "metrics", f"run_id={run_id}", f"wave={wave}"
        )

    def _sketches_path(self, run_id: str, wave: int) -> str:
        return os.path.join(
            self.root, "sketches", f"run_id={run_id}", f"wave={wave}"
        )

    def completed_partitions(self, spark: SparkSession, run_id: str) -> set[int]:
        path = self._verdict_path(run_id)
        try:
            vd = spark.read.parquet(path)
        except Exception:
            return set()
        return {r["part_id"] for r in vd.select("part_id").distinct().collect()}

    def wave_dirs(self, run_id: str) -> list[int]:
        base = os.path.join(self.root, "violations", f"run_id={run_id}")
        if not os.path.isdir(base):
            return []
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(base)
            if d.startswith("wave=")
        )

    def committed_waves(self, spark: SparkSession, run_id: str) -> set[int]:
        """Waves whose verdict rows (the commit markers) exist."""
        try:
            vd = spark.read.parquet(self._verdict_path(run_id))
        except Exception:
            return set()
        return {r["wave"] for r in vd.select("wave").distinct().collect()}

    def cleanup_orphan_waves(self, spark: SparkSession, run_id: str) -> list[int]:
        """Delete violations wave dirs with no committed verdict — the
        residue of a crash between the violations write and the verdict
        write. Without this, re-running those partitions under a new wave
        id would leave their violations present TWICE."""
        import shutil

        committed = self.committed_waves(spark, run_id)
        orphans = [w for w in self.wave_dirs(run_id) if w not in committed]
        for w in orphans:
            shutil.rmtree(self._violations_path(run_id, w), ignore_errors=True)
            shutil.rmtree(self._metrics_path(run_id, w), ignore_errors=True)
            shutil.rmtree(self._sketches_path(run_id, w), ignore_errors=True)
        return orphans

    def waves(self, spark: SparkSession, run_id: str) -> int:
        return len(self.wave_dirs(run_id))

    def write_wave(
        self, run_id: str, wave: int, result: ValidationResult,
        fail_before_commit: bool = False,
    ) -> None:
        # violations + metrics first, verdicts last — the verdict row is
        # the commit marker for a (run, wave); see module docstring.
        # ``fail_before_commit`` is a test hook simulating a crash in the
        # window between the writes.
        result.violations.write.mode("overwrite").parquet(
            self._violations_path(run_id, wave)
        )
        if result.metrics is not None:
            result.metrics.write.mode("overwrite").parquet(
                self._metrics_path(run_id, wave)
            )
        if result.sketches is not None:
            result.sketches.write.mode("overwrite").parquet(
                self._sketches_path(run_id, wave)
            )
        if fail_before_commit:
            raise RuntimeError("simulated crash between violations and verdicts")
        result.verdicts.drop("run_id").withColumn(
            "wave", F.lit(wave)
        ).write.mode("append").parquet(self._verdict_path(run_id))

    def violations(self, spark: SparkSession, run_id: str) -> DataFrame:
        return spark.read.parquet(
            os.path.join(self.root, "violations", f"run_id={run_id}")
        )

    def verdicts(self, spark: SparkSession, run_id: str) -> DataFrame:
        return spark.read.parquet(self._verdict_path(run_id)).withColumn(
            "run_id", F.lit(run_id)
        )

    def metrics(self, spark: SparkSession, run_id: str) -> DataFrame:
        """All committed per-(partition, column) metrics rows of a run —
        the baseline snapshot later drift checks compare against."""
        return spark.read.parquet(
            os.path.join(self.root, "metrics", f"run_id={run_id}")
        )

    def sketches(self, spark: SparkSession, run_id: str) -> DataFrame:
        """All committed per-(partition, column) HLL sketch rows of a run
        (``ValidationRunner(metrics_sketches=True)``). Feed to
        ``stats.merged_ndv`` / ``stats.ndv_drift_from_sketches`` — NDV
        and cross-snapshot drift questions answered from these rows
        alone, without rescanning the validated table."""
        return spark.read.parquet(
            os.path.join(self.root, "sketches", f"run_id={run_id}")
        )


def run_with_checkpoint(
    runner: ValidationRunner,
    df: DataFrame,
    store: CheckpointStore,
    partitions_per_wave: int | None = None,
    fail_after_waves: int | None = None,
) -> set[int]:
    """Validate partition-by-partition (in waves), checkpointing each wave.

    Returns the set of part_ids processed by THIS invocation (already-
    checkpointed partitions are skipped — the resume path). Partition ids
    come from the data's ``part_id`` column; listing them is a distinct
    over the partition column (source-prunable).

    ``fail_after_waves`` is a test hook simulating a mid-run crash.
    """
    from smcchecker_spark.tables import resume_filter

    spark = df.sparkSession
    part_col = runner.part_id_col or "part_id"
    # crash-consistency: drop violation waves whose commit marker never
    # landed (crash between the two writes) before computing what's done
    store.cleanup_orphan_waves(spark, runner.run_id)
    done = store.completed_partitions(spark, runner.run_id)
    # partition-column predicate FIRST, listing second: on a partitioned
    # source (hive parquet / Iceberg) the predicate prunes finished
    # partitions at the scan, so even the todo-listing reads zero bytes
    # of completed work (plan-asserted in test_checkpoint.py)
    part_vals = [
        r[part_col]
        for r in resume_filter(df, done, part_col)
        .select(part_col)
        .distinct()
        .collect()
    ]
    if any(v is None for v in part_vals):
        # NULL partition ids cannot be checkpointed (they belong to no
        # wave and would be silently skipped by the isin wave filter) —
        # fail loudly rather than finish "clean" with unvalidated rows
        raise ValueError(
            f"input has rows with NULL {part_col!r}; checkpointed runs "
            "require a non-null partition id on every row"
        )
    todo = sorted(part_vals)
    if not todo:
        return set()
    per_wave = partitions_per_wave or len(todo)
    processed: set[int] = set()
    wave = (max(store.wave_dirs(runner.run_id)) + 1
            if store.wave_dirs(runner.run_id) else 0)
    # one artifact cache for the whole run: full-scope aggregates (the
    # whole-column parse gates, Unique's dup-key table) are identical
    # every wave, so without this a 100-wave run scans the complete
    # table ~100x for answers that never change — defeating the very
    # partition pruning the wave loop exists for
    shared_cache: dict = {}
    for i in range(0, len(todo), per_wave):
        if fail_after_waves is not None and i // per_wave >= fail_after_waves:
            raise RuntimeError("simulated crash between waves")
        batch = todo[i : i + per_wave]
        # partition-pruning predicate: on a partitioned source this skips
        # whole files/manifests, not just rows
        wave_df = df.filter(F.col(part_col).isin(batch))
        # full_scope: in-session dup detection (Unique) aggregates over
        # the COMPLETE input, emitting only this wave's rows — per-wave
        # scoping missed dup pairs whose members land in different waves
        # (caught by the 500k crash+resume soak, BENCH.md)
        result = runner.run(wave_df, full_scope=df, shared_cache=shared_cache)
        store.write_wave(runner.run_id, wave, result)
        result.unpersist()
        processed.update(batch)
        wave += 1
    return processed
