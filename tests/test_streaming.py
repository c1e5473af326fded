"""Structured-Streaming validation: a file-source stream of image+caption
parquet drops is validated micro-batch by micro-batch with the SAME
compiled suite as batch, with exactly-once sink appends via the stream
checkpoint."""

import os

import pytest
from pyspark.sql import functions as F

from smcchecker_spark import fixtures
from smcchecker_spark.constraints import (
    InLookup,
    MaxLength,
    NotNull,
    Suite,
    Unique,
    ValidationContext,
)
from smcchecker_spark.image import ImageConsistent
from smcchecker_spark.streaming import StreamingValidator


@pytest.fixture(scope="module")
def suite_ctx(spark):
    suite = Suite(
        name="images_stream",
        table="images",
        constraints=[
            NotNull("caption"),
            MaxLength("caption", max_length=256),
            InLookup("fmt", lookup="lu_fmt", lookup_key="fmt"),
            # the Arrow decode UDF must work identically inside
            # foreachBatch micro-batches (incl. its cross-batch buffering)
            ImageConsistent(),
        ],
    )
    return suite, ValidationContext(lookups={"lu_fmt": fixtures.lu_fmt(spark)})


def test_stream_matches_batch(spark, suite_ctx, tmp_path):
    suite, ctx = suite_ctx
    src = str(tmp_path / "in")
    os.makedirs(src)
    df = fixtures.generate_images(spark, n_rows=300, n_parts=4, seed=42)
    # two "drops" landing in the source directory
    df.filter(F.col("part_id") < 2).coalesce(1).write.parquet(src + "/drop1.parquet")
    df.filter(F.col("part_id") >= 2).coalesce(1).write.parquet(src + "/drop2.parquet")

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    v = StreamingValidator(
        suite,
        ctx,
        violations_path=str(tmp_path / "violations"),
        verdicts_path=str(tmp_path / "verdicts"),
    )
    q = v.start(stream, checkpoint_location=str(tmp_path / "ckpt"), trigger_once=True)
    q.awaitTermination(120)

    got = spark.read.parquet(str(tmp_path / "violations"))
    # batch reference: same suite over the full table in one pass
    from smcchecker_spark.compile import compile_suite

    want = compile_suite(df, suite, ctx, row_id_col="image_id")
    got_set = {
        (r["row_id"], r["check_name"]) for r in got.collect()
    }
    want_set = {
        (r["row_id"], r["check_name"]) for r in want.collect()
    }
    assert got_set == want_set and len(got_set) > 0
    # micro-batch lineage: both drops produced violations under distinct ids
    assert got.select("batch_id").distinct().count() == 2

    verdicts = spark.read.parquet(str(tmp_path / "verdicts"))
    vmap = {(r["batch_id"], r["part_id"]): r["status"] for r in verdicts.collect()}
    assert len(vmap) == 4  # 2 drops x 2 partitions each
    assert set(vmap.values()) <= {"pass", "fail"}


def test_windowed_histograms_match_batch(spark, tmp_path):
    """Streaming event-time histograms (watermark + windowed groupBy)
    produce the same (window, bucket, count) rows as the equivalent
    batch aggregation once the stream drains."""
    import datetime as dt

    from smcchecker_spark.streaming import windowed_histograms

    rows = [
        (i, dt.datetime(2026, 1, 1, 0, i % 25, 0), float((i * 37) % 500))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp, value double")
    src = str(tmp_path / "in")
    df.coalesce(2).write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    out = windowed_histograms(
        stream, "ts", "value", lo=0.0, hi=500.0, bins=10,
        window_duration="10 minutes", watermark="5 minutes",
    )
    q = (
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["window_start"], r["bucket"]): r["count"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    # batch reference via the same bucket expr + a tumbling-window groupBy
    from smcchecker_spark.stats import bucket_expr
    from pyspark.sql import functions as F

    want_df = (
        df.select(
            F.window("ts", "10 minutes").alias("w"),
            bucket_expr(F.col("value"), 0.0, 500.0, 10).alias("bucket"),
        )
        .groupBy("w", "bucket")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    want = {
        (r["w"]["start"], r["bucket"]): r["count"] for r in want_df.collect()
    }
    # append mode emits only watermark-finalized windows (watermark = max
    # event time − 5 min ⇒ here exactly the first 10-minute window; the
    # rest stay in state awaiting late data — the late-data contract).
    # Every emitted (window, bucket) must match the batch aggregation
    # exactly, and the finalized window must be complete (all its buckets).
    assert got and all(want.get(k) == v for k, v in got.items())
    emitted_windows = {k[0] for k in got}
    assert emitted_windows, "watermark should have finalized the first window"
    for w in emitted_windows:
        assert {k for k in want if k[0] == w} == {k for k in got if k[0] == w}


def test_running_column_stats_stateful(spark, tmp_path):
    """applyInPandasWithState cumulative stats: after the stream drains,
    the LAST emitted row per key equals the batch aggregation over all
    drops — i.e. state genuinely accumulated across micro-batches."""
    import math

    from smcchecker_spark.streaming import running_column_stats

    rows = [(f"k{i % 3}", float((i * 17) % 101)) for i in range(300)]
    df = spark.createDataFrame(rows, "key string, value double")
    src = str(tmp_path / "in")
    os.makedirs(src)
    # two drops → two micro-batches with maxFilesPerTrigger=1
    df.filter("value < 50").coalesce(1).write.parquet(src + "/d1.parquet")
    df.filter("value >= 50").coalesce(1).write.parquet(src + "/d2.parquet")

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    out = running_column_stats(stream, "key", "value")
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("running_stats")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    emitted = spark.sql("select * from running_stats").collect()
    # both micro-batches emitted an update for every key (2 emissions/key)
    per_key = {}
    for r in emitted:
        per_key.setdefault(r["key"], []).append(r)
    assert all(len(v) == 2 for v in per_key.values()) and len(per_key) == 3
    # final (max-n) emission per key == batch stats over the full input
    want = {
        r["key"]: r
        for r in df.groupBy("key")
        .agg(
            F.count("value").alias("n"),
            F.avg("value").alias("mean"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
        )
        .collect()
    }
    for key, rs in per_key.items():
        last = max(rs, key=lambda r: r["n"])
        w = want[key]
        assert last["n"] == w["n"]
        assert math.isclose(last["mean"], w["mean"], rel_tol=1e-9)
        assert last["min"] == w["min"] and last["max"] == w["max"]
        # monotone accumulation: first emission saw fewer rows
        assert min(r["n"] for r in rs) < last["n"]


def test_stream_checkpoint_no_reprocess(spark, suite_ctx, tmp_path):
    """Restarting the stream with the same checkpoint must not re-append
    already-processed files (exactly-once per micro-batch)."""
    suite, ctx = suite_ctx
    src = str(tmp_path / "in")
    os.makedirs(src)
    df = fixtures.generate_images(spark, n_rows=100, n_parts=2, seed=7)
    df.write.parquet(src + "/drop1.parquet")

    stream_schema = df.schema
    vpath = str(tmp_path / "violations")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = spark.readStream.schema(stream_schema).parquet(src + "/*")
        v = StreamingValidator(suite, ctx, violations_path=vpath)
        q = v.start(stream, checkpoint_location=ckpt, trigger_once=True)
        q.awaitTermination(120)

    run_once()
    n1 = spark.read.parquet(vpath).count()
    run_once()  # no new files → no new appends
    n2 = spark.read.parquet(vpath).count()
    assert n1 == n2 > 0


def test_streaming_dedup_suppresses_rearrivals(spark, tmp_path):
    """First arrival of a key is emitted; re-arrivals within the
    watermark are dropped — across micro-batches (state store), not just
    within one. Drop2 re-sends half of drop1's keys plus new ones."""
    from smcchecker_spark.streaming import streaming_dedup

    src = str(tmp_path / "in")
    os.makedirs(src)
    schema = "key long, ts timestamp, text string"

    def mk(keys, minute):
        return spark.createDataFrame(
            [(k, f"2026-01-01 10:{minute:02d}:00", f"text {k}") for k in keys],
            "key long, ts string, text string",
        ).select("key", F.to_timestamp("ts").alias("ts"), "text")

    mk(range(10), 0).coalesce(1).write.parquet(src + "/drop1.parquet")
    mk(list(range(5)) + list(range(10, 15)), 5).coalesce(1).write.parquet(
        src + "/drop2.parquet"
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    out = streaming_dedup(stream, ["key"], ts_col="ts", watermark="1 hour")
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(str(tmp_path / "out"))
    keys = sorted(r["key"] for r in got.collect())
    assert keys == list(range(15))  # one row per key, re-arrivals dropped


def test_pipeline_ops_stream_equals_batch(spark, tmp_path):
    """The stateless training-data pipeline ops (PII scrub, deterministic
    split/sample, repetition features) are pure projections/filters, so
    the SAME functions run unchanged on a streaming DataFrame and must
    produce bit-identical rows to the batch run over the same files —
    content-hash determinism is what makes the split/sample safe under
    micro-batch re-execution."""
    from smcchecker_spark import clean
    from smcchecker_spark.ops import sample as S
    from smcchecker_spark.ops import text as T

    src = str(tmp_path / "docs_src")
    rows = [
        (i, f"doc {i} mail u{i}@x.io word word tail{i % 7}") for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.parquet(src)

    def transform(d):
        d = clean.scrub_pii(d)
        d = S.det_split(d, "doc_id", {"train": 0.8, "val": 0.2})
        d = S.hash_sample(d, "doc_id", 0.5)
        return T.repetition_features(d)

    stream = (
        spark.readStream.schema("doc_id long, text string").parquet(src)
    )
    q = (
        transform(stream)
        .writeStream.format("memory")
        .queryName("pipe_ops_stream")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, spark.table("pipe_ops_stream").collect())
    )
    exp = sorted(map(tuple, transform(spark.read.parquet(src)).collect()))
    assert got == exp and len(got) > 0


def test_streaming_expectations_per_batch(spark, suite_ctx, tmp_path):
    """Table-level expectations evaluated per micro-batch: each drop
    gets its own (batch_id, check, ok) rows — a shrunken drop fails the
    row-count floor while the healthy one passes."""
    from smcchecker_spark.stats import Expectation

    suite, ctx = suite_ctx
    src = str(tmp_path / "in2")
    os.makedirs(src)
    df = fixtures.generate_images(spark, n_rows=300, n_parts=4, seed=42)
    df.filter(F.col("part_id") < 3).coalesce(1).write.parquet(src + "/big.parquet")
    df.filter(F.col("part_id") == 3).limit(10).coalesce(1).write.parquet(
        src + "/small.parquet"
    )

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    v = StreamingValidator(
        suite,
        ctx,
        violations_path=str(tmp_path / "v2"),
        expectations=[Expectation("row_count", lo=50)],
        expectations_path=str(tmp_path / "exp2"),
    )
    q = v.start(stream, checkpoint_location=str(tmp_path / "ckpt2"),
                trigger_once=True)
    q.awaitTermination(120)

    rows = spark.read.parquet(str(tmp_path / "exp2")).collect()
    assert len(rows) == 2  # one expectation row per micro-batch
    oks = sorted((r["value"], r["ok"]) for r in rows)
    assert oks[0][0] == 10.0 and oks[0][1] is False
    assert oks[1][0] >= 50.0 and oks[1][1] is True


# ---------------------------------------------------------------------------
# StreamingNearDupGate — per-micro-batch near-dup gate vs the MinHash index
# ---------------------------------------------------------------------------


def _gate_fixture(spark, tmp_path):
    from smcchecker_spark.ops import incremental as inc
    from smcchecker_spark.streaming import StreamingNearDupGate

    base = "the quick brown fox jumps over the lazy dog again and again today"
    other = "completely different content about spark query engines and joins"
    corpus = spark.createDataFrame(
        [(0, base), (1, other)], "doc_id long, text string"
    )
    idx = str(tmp_path / "idx")
    inc.save_minhash_index(corpus, idx, "doc_id", "text")
    gate = StreamingNearDupGate(
        index_path=idx,
        clean_path=str(tmp_path / "clean"),
        dup_path=str(tmp_path / "dups"),
    )
    return gate, base, other


def test_gate_batch_splits_and_grows_index(spark, tmp_path):
    gate, base, other = _gate_fixture(spark, tmp_path)
    novel = "entirely novel text that matches no indexed document at all"
    b1 = spark.createDataFrame(
        [
            (100, base),   # dup of indexed 0 -> quarantine
            (101, novel),  # clean, enters the index
            (102, novel),  # in-batch dup of 101 -> quarantine (101 = min keeps)
        ],
        "doc_id long, text string",
    )
    gate.process_batch(b1, 1)
    clean = spark.read.parquet(gate.clean_path)
    dups = spark.read.parquet(gate.dup_path)
    assert {r["doc_id"] for r in clean.collect()} == {101}
    got = {r["doc_id"]: r for r in dups.collect()}
    assert set(got) == {100, 102}
    assert got[100]["matched_id"] == 0 and got[100]["est_jaccard"] == 1.0
    assert got[102]["matched_id"] == 101

    # batch 2 dups a batch-1-ACCEPTED doc -> caught via the index append
    b2 = spark.createDataFrame([(200, novel)], "doc_id long, text string")
    gate.process_batch(b2, 2)
    dups2 = {r["doc_id"]: r for r in spark.read.parquet(gate.dup_path).collect()}
    assert dups2[200]["matched_id"] == 101
    assert {r["doc_id"] for r in spark.read.parquet(gate.clean_path).collect()} == {101}


def test_gate_replay_is_idempotent(spark, tmp_path):
    gate, base, other = _gate_fixture(spark, tmp_path)
    b1 = spark.createDataFrame(
        [(100, base), (101, "fresh unseen content here")],
        "doc_id long, text string",
    )
    gate.process_batch(b1, 7)
    before_clean = spark.read.parquet(gate.clean_path).count()
    before_sigs = spark.read.parquet(gate.index_path + "/sigs").count()
    gate.process_batch(b1, 7)  # foreachBatch redelivery
    assert spark.read.parquet(gate.clean_path).count() == before_clean
    assert spark.read.parquet(gate.index_path + "/sigs").count() == before_sigs


def test_gate_through_streaming_query(spark, tmp_path):
    gate, base, other = _gate_fixture(spark, tmp_path)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(100, base), (101, "novel caption text for the stream run")],
        "doc_id long, text string",
    ).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = gate.start(stream, checkpoint_location=str(tmp_path / "ck"), trigger_once=True)
    q.awaitTermination(120)
    assert {r["doc_id"] for r in spark.read.parquet(gate.clean_path).collect()} == {101}
    assert {r["doc_id"] for r in spark.read.parquet(gate.dup_path).collect()} == {100}


def test_phash_gate_splits_and_grows_index(spark, tmp_path):
    from smcchecker_spark.ops import incremental as inc
    from smcchecker_spark.streaming import StreamingPhashDupGate

    old = spark.createDataFrame(
        [(i, 0x1111000000 + i * 1024) for i in range(20)],
        "image_id long, phash long",
    )
    idx = str(tmp_path / "phidx")
    inc.save_phash_index(old, idx, chunks=4, max_hamming=3)
    gate = StreamingPhashDupGate(
        index_path=idx,
        clean_path=str(tmp_path / "clean"),
        dup_path=str(tmp_path / "dups"),
    )
    b1 = spark.createDataFrame(
        [
            (100, 0x1111000000 ^ 1),   # 1 bit from indexed 0 -> quarantine
            (101, 0x7F7F7F7F7F7F),     # novel -> clean + indexed
            (102, 0x7F7F7F7F7F7E),     # 1 bit from 101 -> in-batch dup
        ],
        "image_id long, phash long",
    )
    gate.process_batch(b1, 1)
    clean = {r["image_id"] for r in spark.read.parquet(gate.clean_path).collect()}
    dups = {r["image_id"]: r for r in spark.read.parquet(gate.dup_path).collect()}
    assert clean == {101}
    assert set(dups) == {100, 102}
    assert dups[100]["matched_id"] == 0 and dups[100]["hamming"] == 1
    assert dups[102]["matched_id"] == 101
    # batch 2 dups the batch-1-accepted image
    b2 = spark.createDataFrame([(200, 0x7F7F7F7F7F7F)], "image_id long, phash long")
    gate.process_batch(b2, 2)
    dups2 = {r["image_id"]: r for r in spark.read.parquet(gate.dup_path).collect()}
    assert dups2[200]["matched_id"] == 101 and dups2[200]["hamming"] == 0
    # replay idempotence
    n_before = spark.read.parquet(gate.index_path + "/banded").count()
    gate.process_batch(b2, 2)
    assert spark.read.parquet(gate.index_path + "/banded").count() == n_before


def test_streaming_audio_suite_matches_batch(spark, tmp_path):
    """The validator is modality-generic: a decoded-payload constraint
    (AudioConsistent over real WAV bytes) streams identically to its
    batch run — nothing in the engine is image-specific."""
    from smcchecker_spark.audio import AudioConsistent
    from smcchecker_spark.compile import compile_suite
    from smcchecker_spark.constraints import NotNull, Suite

    src = str(tmp_path / "ain")
    os.makedirs(src)
    df = fixtures.generate_wav_rows(spark, n_rows=200, n_parts=4, seed=13)
    df.filter(F.col("part_id") < 2).coalesce(1).write.parquet(src + "/d1.parquet")
    df.filter(F.col("part_id") >= 2).coalesce(1).write.parquet(src + "/d2.parquet")
    suite = Suite(
        name="audio_stream",
        table="audio",
        constraints=[NotNull("caption"), AudioConsistent()],
    )
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    v = StreamingValidator(
        suite, violations_path=str(tmp_path / "aviol"),
        verdicts_path=str(tmp_path / "averd"), row_id_col="audio_id",
    )
    q = v.start(stream, checkpoint_location=str(tmp_path / "ackpt"), trigger_once=True)
    q.awaitTermination(120)
    got = {
        (r["row_id"], r["check_name"])
        for r in spark.read.parquet(str(tmp_path / "aviol")).collect()
    }
    want = {
        (r["row_id"], r["check_name"])
        for r in compile_suite(df, suite, row_id_col="audio_id").collect()
    }
    assert got == want and len(got) > 0


def test_streaming_exif_suite_matches_batch(spark, tmp_path):
    """ExifSane (header-only APP1 metadata gate) streams identically to
    its batch run over the planted-EXIF JPEG fixture."""
    from smcchecker_spark.compile import compile_suite
    from smcchecker_spark.constraints import Suite
    from smcchecker_spark.image import ExifSane

    src = str(tmp_path / "ein")
    os.makedirs(src)
    df = fixtures.generate_exif_images(spark, n_rows=150, n_parts=4, seed=13)
    df.filter(F.col("part_id") < 2).coalesce(1).write.parquet(src + "/d1.parquet")
    df.filter(F.col("part_id") >= 2).coalesce(1).write.parquet(src + "/d2.parquet")
    suite = Suite(name="exif_stream", table="images", constraints=[ExifSane()])
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    v = StreamingValidator(
        suite, violations_path=str(tmp_path / "eviol"),
        verdicts_path=str(tmp_path / "everd"), row_id_col="image_id",
    )
    q = v.start(stream, checkpoint_location=str(tmp_path / "eckpt"), trigger_once=True)
    q.awaitTermination(120)
    got = {
        (r["row_id"], r["check_name"])
        for r in spark.read.parquet(str(tmp_path / "eviol")).collect()
    }
    want = {
        (r["row_id"], r["check_name"])
        for r in compile_suite(df, suite, row_id_col="image_id").collect()
    }
    assert got == want and len(got) > 0


def test_streaming_vector_suite_matches_batch(spark, tmp_path):
    """The embedding constraints (vector.py VectorShape / VectorFinite /
    VectorNormRange — round-4 verdict item 8) stream identically to
    their batch compile over a corpus with planted wrong-dim, NaN, and
    out-of-norm vectors split across micro-batches."""
    import math

    from smcchecker_spark.compile import compile_suite
    from smcchecker_spark.vector import (
        VectorFinite,
        VectorNormRange,
        VectorShape,
    )

    rows = []
    for i in range(240):
        v = [((i * 31 + j * 7) % 13 - 6) / 6.0 for j in range(8)]
        if i % 13 == 0:
            v = v[:7]  # wrong dimensionality
        if i % 17 == 0:
            v[3] = float("nan")
        if i % 19 == 0:
            v = [x * 1e4 for x in v]  # norm blow-up
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    src = str(tmp_path / "vin")
    os.makedirs(src)
    df.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(
        src + "/d1.parquet"
    )
    df.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(
        src + "/d2.parquet"
    )
    suite = Suite(
        name="vec_stream",
        table="embeddings",
        constraints=[
            VectorShape("embedding", dim=8),
            VectorFinite("embedding"),
            VectorNormRange("embedding", lo=0.2, hi=6.0),
        ],
    )
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    v = StreamingValidator(
        suite, violations_path=str(tmp_path / "vviol"),
        verdicts_path=str(tmp_path / "vverd"), row_id_col="vec_id",
    )
    q = v.start(
        stream, checkpoint_location=str(tmp_path / "vckpt"),
        trigger_once=True,
    )
    q.awaitTermination(120)
    got = {
        (r["row_id"], r["check_name"])
        for r in spark.read.parquet(str(tmp_path / "vviol")).collect()
    }
    want = {
        (r["row_id"], r["check_name"])
        for r in compile_suite(df, suite, row_id_col="vec_id").collect()
    }
    assert got == want and len(got) > 0
    assert len({c for _, c in got}) == 3  # all three families fire


def test_streaming_image_policy_matches_batch(spark, tmp_path):
    """The decode-free image-policy gates (image.py MinResolution /
    AspectRatioRange / BytesPerPixelRange — round-4 verdict item 8)
    stream identically to batch over metadata rows with planted
    too-small, stretched, and bytes-ratio violations."""
    from smcchecker_spark.compile import compile_suite
    from smcchecker_spark.image import (
        AspectRatioRange,
        BytesPerPixelRange,
        MinResolution,
    )

    df = spark.range(300).select(
        F.col("id").alias("image_id"),
        (F.col("id") % 500 + 10).cast("int").alias("w"),
        ((F.col("id") * 7) % 400 + 10).cast("int").alias("h"),
        ((F.col("id") * 13) % 5000).cast("int").alias("n_bytes"),
    )
    src = str(tmp_path / "pin")
    os.makedirs(src)
    df.filter(F.col("image_id") < 150).coalesce(1).write.parquet(
        src + "/d1.parquet"
    )
    df.filter(F.col("image_id") >= 150).coalesce(1).write.parquet(
        src + "/d2.parquet"
    )
    suite = Suite(
        name="policy_stream",
        table="images",
        constraints=[
            MinResolution("w", h_col="h", min_w=64, min_h=64),
            AspectRatioRange(
                "w", h_col="h", lo=0.5, hi=2.0,
                severity="warning", is_core=False,
            ),
            BytesPerPixelRange(
                "n_bytes", w_col="w", h_col="h", lo=0.01, hi=2.0,
                length_is_column=True,
            ),
        ],
    )
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    v = StreamingValidator(
        suite, violations_path=str(tmp_path / "pviol"),
        verdicts_path=str(tmp_path / "pverd"), row_id_col="image_id",
    )
    q = v.start(
        stream, checkpoint_location=str(tmp_path / "pckpt"),
        trigger_once=True,
    )
    q.awaitTermination(120)
    got = {
        (r["row_id"], r["check_name"])
        for r in spark.read.parquet(str(tmp_path / "pviol")).collect()
    }
    want = {
        (r["row_id"], r["check_name"])
        for r in compile_suite(df, suite, row_id_col="image_id").collect()
    }
    assert got == want and len(got) > 0
    assert len({c for _, c in got}) == 3  # all three gates fire


# ---------------------------------------------------------------------------
# StreamingValidator runs each micro-batch through ValidationRunner.run
# ---------------------------------------------------------------------------


def _drain(spark, validator, df, drops, tmp_path):
    """Land each ``part_id`` set in ``drops`` as one parquet file and drain
    them through ``validator``, one file per micro-batch."""
    src = str(tmp_path / "in")
    os.makedirs(src)
    for i, parts in enumerate(drops):
        df.filter(F.col("part_id").isin(parts)).coalesce(1).write.parquet(
            f"{src}/drop{i}.parquet"
        )
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = validator.start(
        stream, checkpoint_location=str(tmp_path / "ckpt"), trigger_once=True
    )
    q.awaitTermination(120)
    assert q.exception() is None


def test_stream_custom_tier_gated_per_batch(spark, tmp_path):
    """The custom tier runs per micro-batch, only on partitions with zero
    core errors, and the verdicts count its errors — the runner test's
    suite (tests/test_runner.py) split over two drops."""
    from smcchecker_spark.constraints import Range, Scale

    rows = [
        ("a", "ok", 1.5, 0),
        ("b", "ok", 2.5, 0),  # custom Range error, part 0 passes core
        ("c", None, 1.0, 1),  # core NotNull error
        ("d", "ok", 1.234, 2),  # Scale warning only
        ("e", "toolongvalue", 99.0, 1),  # core error: custom skipped
        ("f", "ok", 3.0, 3),  # custom Range error, part 3 passes core
    ]
    df = spark.createDataFrame(
        rows, "image_id string, v string, x double, part_id int"
    )
    suite = Suite(
        name="s",
        table="t",
        constraints=[
            NotNull("v"), MaxLength("v", max_length=8), Scale("x", scale=2),
        ],
        custom_constraints=[Range("x", lo=0, hi=2, is_core=False)],
    )
    v = StreamingValidator(
        suite,
        violations_path=str(tmp_path / "violations"),
        verdicts_path=str(tmp_path / "verdicts"),
    )
    _drain(spark, v, df, [[0, 1], [2, 3]], tmp_path)

    vio = spark.read.parquet(str(tmp_path / "violations")).collect()
    custom = {(r["batch_id"], r["part_id"], r["row_id"])
              for r in vio if r["check_name"] == "range_x"}
    core_failed = {(r["batch_id"], r["part_id"]) for r in vio
                   if r["check_name"] != "range_x" and r["severity"] == "error"}
    assert {row for _, _, row in custom} == {"b", "f"}
    assert not {(b, p) for b, p, _ in custom} & core_failed
    assert len({b for b, _, _ in custom}) == 2  # both batches ran custom

    verdicts = {
        r["part_id"]: (r["status"], r["n_errors"], r["n_warnings"])
        for r in spark.read.parquet(str(tmp_path / "verdicts")).collect()
    }
    assert verdicts == {
        0: ("fail", 1, 0),
        1: ("fail", 2, 0),
        2: ("pass", 0, 1),
        3: ("fail", 1, 0),
    }


def test_stream_verdicts_match_runner_per_drop(spark, suite_ctx, tmp_path):
    """Per landed drop, the stream's verdict rows equal ValidationRunner.run
    on that drop, warnings (n_warnings) and the custom tier included."""
    from smcchecker_spark.constraints import WARNING, Range
    from smcchecker_spark.run import ValidationRunner

    base, ctx = suite_ctx
    suite = Suite(
        name="images_parity",
        table="images",
        constraints=base.constraints + [Range("w", lo=8, hi=28, severity=WARNING)],
        custom_constraints=[Range("h", lo=8, hi=28, is_core=False)],
    )
    # every planted partition fails core; clean parts 4 and 5 pass it, so
    # the custom tier runs in both batches
    clean = fixtures.generate_images(spark, n_rows=60, n_parts=2, seed=42,
                                     clean=True)
    df = fixtures.generate_images(spark, n_rows=300, n_parts=4, seed=42)
    df = df.unionByName(clean.withColumn("part_id", F.col("part_id") + 4))
    drops = [[0, 1, 4], [2, 3, 5]]
    v = StreamingValidator(suite, ctx, verdicts_path=str(tmp_path / "verdicts"))
    _drain(spark, v, df, drops, tmp_path)

    cols = ["part_id", "status", "n_rows", "n_errors", "n_warnings"]
    got = spark.read.parquet(str(tmp_path / "verdicts")).collect()
    by_batch: dict = {}
    for r in got:
        by_batch.setdefault(r["batch_id"], set()).add(tuple(r[c] for c in cols))
    want = []
    for parts in drops:
        res = ValidationRunner(suite, ctx).run(
            df.filter(F.col("part_id").isin(parts)))
        want.append({tuple(r[c] for c in cols) for r in res.verdicts.collect()})
        res.unpersist()
    assert sorted(by_batch.values(), key=sorted) == sorted(want, key=sorted)
    assert sum(r["n_warnings"] for r in got) > 0
    assert all(r["n_errors"] > 0 for r in got if r["part_id"] >= 4)  # custom
