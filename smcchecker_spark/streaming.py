"""Structured-Streaming validation — the continuous-ingest surface.

The reference is strictly batch (one HTTP upload = one submission,
/root/reference/proj/main.py:22-47); SURVEY.md §2.9 adopts no streaming
for v1 semantics. This module is the engine's forward surface for a
continuously-landing image+caption feed: each micro-batch runs
``ValidationRunner.run`` — the batch runner itself, custom tier included
(custom checks only on partitions whose core checks passed) — and its
violations and verdicts append to sinks with a ``batch_id`` lineage
column, the way checkpoint.py writes each wave.

Shape notes (Spark-native):

- ``foreachBatch`` is the right primitive here: constraint evaluation is
  stateless per row, uniqueness-in-batch is per-micro-batch (global
  uniqueness belongs to the NotInExisting check against the accumulating
  sink), and join constraints need plain batch joins against static
  lookup tables — none of that wants stateful streaming operators.
- Watermarks/windowed aggregation are NOT needed for validation; drift
  monitoring gets two stateful extensions: event-time windowed histograms
  (``windowed_histograms``) and per-key cumulative column stats via
  ``applyInPandasWithState`` (``running_column_stats``) — the custom
  stateful-operator surface.
- The checkpointLocation gives exactly-once sink appends per micro-batch
  — the streaming analogue of checkpoint.py's wave commits.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# not called here: perfbench's traced run wraps ``streaming.compile_suite``
from smcchecker_spark.compile import compile_suite  # noqa: F401
from smcchecker_spark.constraints import Suite, ValidationContext
from smcchecker_spark.run import ValidationRunner


def windowed_histograms(
    stream_df: DataFrame,
    ts_col: str,
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 32,
    window_duration: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time histograms for streaming drift monitoring: one
    (window, bucket, count) row per completed event-time window — the
    streaming analogue of ``stats.histogram`` and the input to PSI/KS
    against a baseline snapshot.

    Spark-native shape: ``withWatermark`` bounds state (windows older
    than the watermark are finalized and evicted) + windowed groupBy
    (partial aggregation per micro-batch, stateful merge across
    batches). Late rows inside the watermark still update their window;
    rows later than that are dropped — the standard late-data contract.
    """
    from smcchecker_spark.stats import bucket_expr

    return (
        stream_df.withWatermark(ts_col, watermark)
        .select(
            F.window(F.col(ts_col), window_duration).alias("window"),
            bucket_expr(F.col(value_col), lo, hi, bins).alias("bucket"),
        )
        .where(F.col("bucket").isNotNull())
        .groupBy("window", "bucket")
        .agg(F.count(F.lit(1)).alias("count"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "bucket",
            "count",
        )
    )


def streaming_dedup(
    stream_df: DataFrame,
    key_cols: list[str],
    ts_col: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Duplicate suppression on a stream — first arrival of each key
    wins; re-arrivals are dropped. The streaming analogue of the batch
    exact-dedup (``ops.dedup.exact_duplicates`` finds dup groups; this
    emits the deduped stream itself).

    With ``ts_col`` the state store is BOUNDED: a key's fingerprint is
    evicted once the watermark passes it, so re-arrivals are suppressed
    only within the watermark horizon — the standard contract for
    unbounded-corpus ingestion where exact forever-dedup would need
    unbounded state (run the batch dedup over the sink for the long
    tail). Without ``ts_col`` state grows with distinct keys — only for
    finite backfills.

    Spark-native: ``dropDuplicatesWithinWatermark`` keeps per-key state
    in the HDFS/RocksDB state store, partial-aggregated per micro-batch;
    the dedup shuffle is on the key hash, so skewless by construction
    for fingerprint keys.
    """
    if ts_col is None:
        return stream_df.dropDuplicates(key_cols)
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def running_column_stats(
    stream_df: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key CUMULATIVE column stats over an unbounded stream — the
    engine's custom stateful operator (``applyInPandasWithState``).

    Maintains (count, sum, sum-of-squares, min, max) per key in the
    streaming state store and, on every micro-batch that touches a key,
    emits one updated row ``(key, n, mean, std, min, max)`` (population
    std). This is the streaming analogue of ``stats.column_stats`` and
    the input a drift monitor z-scores against a baseline snapshot:
    unlike per-micro-batch aggregation, the emitted stats cover ALL rows
    seen since stream start, survive restarts via the state-store
    checkpoint, and evict nothing (no timeout — column drift has no
    session boundary).

    Scale shape: state is O(distinct keys) × 5 doubles; the per-batch
    work is a hash exchange on ``key_col`` then an Arrow-batched pandas
    update per key group — no shuffle of history, only of the batch.
    Use ``outputMode("update")`` on the sink.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField(key_col, StringType()),
            StructField("n", LongType()),
            StructField("mean", DoubleType()),
            StructField("std", DoubleType()),
            StructField("min", DoubleType()),
            StructField("max", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("s", DoubleType()),
            StructField("ss", DoubleType()),
            StructField("mn", DoubleType()),
            StructField("mx", DoubleType()),
        ]
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, s, ss, mn, mx = (
            state.get if state.exists else (0, 0.0, 0.0, math.inf, -math.inf)
        )
        for pdf in pdfs:
            v = pdf[value_col].dropna()
            if len(v):
                n += int(len(v))
                s += float(v.sum())
                ss += float((v * v).sum())
                mn = min(mn, float(v.min()))
                mx = max(mx, float(v.max()))
        state.update((n, s, ss, mn, mx))
        if n:
            mean = s / n
            std = math.sqrt(max(ss / n - mean * mean, 0.0))
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "n": [n],
                    "mean": [mean],
                    "std": [std],
                    "min": [mn],
                    "max": [mx],
                }
            )

    return (
        stream_df.select(F.col(key_col).cast("string"), F.col(value_col))
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _start(
    self,
    stream_df: DataFrame,
    checkpoint_location: str,
    trigger_once: bool = False,
    **trigger_kwargs,
):
    """Attach ``self.process_batch`` to a streaming DataFrame via
    ``foreachBatch`` and start the query — the ``start`` method of every
    streaming class below.

    ``trigger_once=True`` drains all available input then stops —
    the batch-resume-friendly mode (and what tests use).
    """
    writer = stream_df.writeStream.foreachBatch(self.process_batch).option(
        "checkpointLocation", checkpoint_location
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    elif trigger_kwargs:
        writer = writer.trigger(**trigger_kwargs)
    return writer.start()


@dataclass
class StreamingValidator:
    """Validates a streaming DataFrame micro-batch-by-micro-batch.

    Each micro-batch runs ``ValidationRunner.run`` (core tier, then the
    custom tier on partitions with zero core errors). ``violations_path``
    receives its violation rows plus a ``batch_id`` lineage column;
    ``verdicts_path`` its verdict rows — the runner's verdict columns
    minus ``run_id``, plus ``batch_id``: one row per (batch_id, part_id),
    the per-partition pass/fail contract at micro-batch granularity.

    Scope note: join-level checks (Unique) see ONE micro-batch — that is
    the streaming semantic by design (a stream has no "whole table").
    Cross-batch duplicate suppression is the separate watermark-bounded
    ``streaming_dedup`` operator; batch/wave runs get whole-submission
    dup scope via ``ValidationContext.full_scope``.
    """

    suite: Suite
    ctx: ValidationContext = field(default_factory=ValidationContext)
    row_id_col: str = "image_id"
    part_id_col: str | None = "part_id"
    violations_path: str = ""
    verdicts_path: str = ""
    # optional table-level bounds evaluated per micro-batch (one extra
    # aggregation of the cached batch) — rows (batch_id, check, value,
    # lo, hi, ok) append to expectations_path; the batch-mode analogue
    # is gated_append(expectations=...)
    expectations: list = field(default_factory=list)
    expectations_path: str = ""

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """The foreachBatch body — also callable directly in tests."""
        # Cache the micro-batch ONCE: the suite's consumers (fused row
        # pass, Unique agg + join-back, verdict row counts, gates) each
        # re-read their source, and unlike a batch parquet scan a
        # streaming micro-batch re-read pays the FULL source cost every
        # time with no column pruning — measured 5x the input rows per
        # trigger and ~2.5x the wall time on the 2M image corpus.
        # Micro-batches are bounded by the trigger config, so caching
        # one is safe where caching the whole table would not be.
        batch_df.persist()
        result = None
        try:
            result = ValidationRunner(
                self.suite, self.ctx, self.row_id_col, self.part_id_col
            ).run(batch_df)
            if self.violations_path:
                result.violations.withColumn(
                    "batch_id", F.lit(batch_id)
                ).write.mode("append").parquet(self.violations_path)
            if self.verdicts_path:
                result.verdicts.drop("run_id").withColumn(
                    "batch_id", F.lit(batch_id)
                ).write.mode("append").parquet(self.verdicts_path)
            if self.expectations and self.expectations_path:
                from smcchecker_spark.stats import check_expectations

                check_expectations(batch_df, self.expectations).withColumn(
                    "batch_id", F.lit(batch_id)
                ).write.mode("append").parquet(self.expectations_path)
        finally:
            if result is not None:
                result.unpersist()
            batch_df.unpersist()

    start = _start


@dataclass
class StreamingNearDupGate:
    """Continuous-ingest near-duplicate gate: every micro-batch probes
    the persisted MinHash index (:mod:`smcchecker_spark.ops.incremental`)
    — never the raw corpus — and splits into CLEAN rows (appended to
    ``clean_path`` AND folded into the index, so later batches dedup
    against them) and QUARANTINED near-dups (``dup_path``, each row
    carrying its best-matching partner id and est_jaccard — the
    human-reviewable evidence trail, like the engine's violation rows).

    Dedup policy per batch: a batch doc matching an INDEXED doc is
    always quarantined (the corpus wins); batch-internal matches
    resolve by connected-components min-id keep — the same canonical
    rule as ``dedup.resolve_duplicates``, so a dup CHAIN inside one
    batch keeps exactly one doc. Matching is est_jaccard ≥ ``threshold``
    from stored + batch signatures only — no old-document text is ever
    read (the stream may not have access to it).

    Exactly-once: all three writes (clean, dup, index) are
    batch-labeled dynamic-partition OVERWRITES — a replayed micro-batch
    (foreachBatch redelivery after crash) replaces its own partitions
    instead of duplicating rows. ``process_batch`` is therefore
    idempotent per (batch content, batch_id), which is the contract
    foreachBatch actually gives you.

    Scale: the probe is the incremental plan (batch-bucket broadcast
    semi-prune of the index scan, chunked hot buckets); per-batch state
    lives in the INDEX, not the Spark state store — unbounded corpus,
    bounded executor memory, no watermark horizon on dedup scope
    (contrast ``streaming_dedup``, whose exact-key state is
    watermark-bounded)."""

    index_path: str
    id_col: str = "doc_id"
    text_col: str = "text"
    threshold: float = 0.8
    clean_path: str = ""
    dup_path: str = ""
    hot_bucket: int = 256
    min_parallelism: int | None = None

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from smcchecker_spark.ops import incremental as inc

        batch_df.persist()
        try:
            pairs = inc.incremental_candidate_pairs(
                batch_df,
                self.index_path,
                self.id_col,
                self.text_col,
                hot_bucket=self.hot_bucket,
                min_parallelism=self.min_parallelism,
                with_est=True,
            ).filter(F.col("est_jaccard") >= self.threshold)
            clean = _dup_gate_split(
                batch_df,
                batch_id,
                pairs,
                self.id_col,
                score_col="est_jaccard",
                best_is_max=True,
                clean_path=self.clean_path,
                dup_path=self.dup_path,
            )
            inc.append_to_minhash_index(
                clean,
                self.index_path,
                self.id_col,
                self.text_col,
                min_parallelism=self.min_parallelism,
                ingest_label=f"b{batch_id}",
            )
        finally:
            batch_df.unpersist()

    start = _start


def _dup_gate_split(
    batch_df: DataFrame,
    batch_id: int,
    pairs: DataFrame,
    id_col: str,
    score_col: str,
    best_is_max: bool,
    clean_path: str,
    dup_path: str,
) -> DataFrame:
    """Shared micro-batch splitter behind the text (MinHash/est) and
    image (phash/Hamming) streaming dup gates: classify candidate pairs
    against the batch's id set (corpus wins; batch-internal chains keep
    the connected-component min id), write CLEAN and QUARANTINE slices
    as batch-labeled dynamic-partition overwrites (replay-idempotent),
    and return the clean slice for the caller's index append. Evidence
    rows carry (matched_id, <score_col>) with the BEST match per flagged
    id (max score for similarities, min for distances)."""
    from smcchecker_spark.ops.dedup import connected_components

    # candidate pairs are the post-blocking sliver; materialize once
    # (classification + components + evidence all reuse it)
    pairs = pairs.localCheckpoint(eager=True)

    ids = batch_df.select(F.col(id_col).alias("id"))
    in_batch = F.broadcast(ids.withColumn("_new", F.lit(True)))
    tagged = (
        pairs.join(
            in_batch.select(
                F.col("id").alias("id_a"), F.col("_new").alias("_a_new")
            ),
            "id_a",
            "left",
        )
        .join(
            in_batch.select(
                F.col("id").alias("id_b"), F.col("_new").alias("_b_new")
            ),
            "id_b",
            "left",
        )
        .select(
            "id_a",
            "id_b",
            score_col,
            F.coalesce("_a_new", F.lit(False)).alias("a_new"),
            F.coalesce("_b_new", F.lit(False)).alias("b_new"),
        )
    )
    # corpus wins: any batch side of a batch-x-old pair is out
    vs_old = tagged.filter(~F.col("a_new") | ~F.col("b_new")).select(
        F.when(F.col("a_new"), F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("id"),
        F.when(F.col("a_new"), F.col("id_b"))
        .otherwise(F.col("id_a"))
        .alias("partner"),
        score_col,
    )
    # batch-internal: canonical min-id per component survives
    bb = tagged.filter(F.col("a_new") & F.col("b_new"))
    if bb.take(1):
        comp = connected_components(bb.select("id_a", "id_b"))
        losers = comp.filter(F.col("id") != F.col("component"))
        bb_evidence = bb.select(
            F.col("id_b").alias("id"),
            F.col("id_a").alias("partner"),
            score_col,
        ).join(F.broadcast(losers.select("id")), "id", "left_semi")
        evidence = vs_old.unionByName(bb_evidence)
    else:
        evidence = vs_old
    best = F.max(score_col) if best_is_max else F.min(score_col)
    order = (
        (-F.col(score_col)) if best_is_max else F.col(score_col)
    )
    flagged = evidence.groupBy("id").agg(
        best.alias(score_col),
        F.min_by(
            "partner", F.struct(order.alias("s"), "partner")
        ).alias("matched_id"),
    )
    flagged = F.broadcast(flagged.localCheckpoint(eager=True))

    clean = batch_df.join(
        flagged.select(F.col("id").alias(id_col)), id_col, "left_anti"
    )
    label = f"b{batch_id}"

    def _write(df: DataFrame, dest: str) -> None:
        (
            df.withColumn("ingest", F.lit(label))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest")
            .parquet(dest)
        )

    if clean_path:
        _write(clean, clean_path)
    if dup_path:
        _write(
            batch_df.join(flagged.withColumnRenamed("id", id_col), id_col),
            dup_path,
        )
    return clean


@dataclass
class StreamingPhashDupGate:
    """Image twin of :class:`StreamingNearDupGate`: every micro-batch of
    (id, phash) rows probes the persisted phash chunk-band index
    (``ops.incremental.save_phash_index``) — exact recall by pigeonhole,
    Hamming ≤ ``max_hamming`` — quarantines matches with
    (matched_id, hamming) evidence (best = LOWEST distance), and folds
    the clean slice back into the index. Same replay-idempotent
    batch-labeled writes, same corpus-wins + component-min-keep policy,
    shared ``_dup_gate_split`` machinery."""

    index_path: str
    id_col: str = "image_id"
    phash_col: str = "phash"
    max_hamming: int | None = None
    clean_path: str = ""
    dup_path: str = ""
    hot_bucket: int = 256

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from smcchecker_spark.ops import incremental as inc

        batch_df.persist()
        try:
            pairs = inc.incremental_phash_pairs(
                batch_df,
                self.index_path,
                self.id_col,
                self.phash_col,
                max_hamming=self.max_hamming,
                hot_bucket=self.hot_bucket,
            )
            clean = _dup_gate_split(
                batch_df,
                batch_id,
                pairs,
                self.id_col,
                score_col="hamming",
                best_is_max=False,
                clean_path=self.clean_path,
                dup_path=self.dup_path,
            )
            inc.append_to_phash_index(
                clean,
                self.index_path,
                self.id_col,
                self.phash_col,
                ingest_label=f"b{batch_id}",
            )
        finally:
            batch_df.unpersist()

    start = _start
