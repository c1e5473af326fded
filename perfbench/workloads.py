"""The workloads: seeded input generation, the independent oracle for
each workload's outputs, the warm pass and the measured loop.

An operation is one unit of committed output: a validation run with its
violations and verdicts written (image_payload) or a streaming
micro-batch (stream_microbatch). An operation whose outputs disagree with
the oracle counts as failed.

A window is a fixed amount of work sized from ``--seconds`` at a nominal
rate per workload, so every run of a workload does the same operations.
With a live-clock window a run that happened to be a little faster fitted
one more (warmer) operation, which moved its median by itself.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
IMAGES_SUITE = os.path.join(ROOT, "configs", "images_suite.json")

# image-shaped tables: rows per codec in one image_payload submission.
# Mostly real JPEG and WebP, the codecs the native kernels decode, and
# enough of them that decode is about half of an operation instead of
# hidden by its fixed costs (perfbench/README.md, "Sizing image_payload").
IMAGE_ROWS = {"png": 320, "jpeg": 4800, "webp": 960, "clean": 240}
IMAGE_PARTS = 8
CLEAN_PART_BASE = 100  # clean rows land in part ids 100..107 and pass

# stream_microbatch: rows per codec in one landed file, files in the pool
STREAM_ROWS = {"png": 96, "jpeg": 24, "webp": 8}
STREAM_POOL_FILES = 24
STREAM_FILES_PER_ROUND = 3

WARM_SEED = 0


def window_units(seconds: float, nominal_s: float) -> int:
    """How many units of ``nominal_s`` seconds make a window (at least 1)."""
    return max(1, round(seconds / nominal_s))


@dataclass
class Window:
    """What one measured window produced."""

    rows: int = 0
    wall_s: float = 0.0
    op_latencies: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    progress: list = field(default_factory=list)
    violation_rows: int = 0
    failures: list = field(default_factory=list)

    @property
    def rows_per_s(self) -> float:
        return self.rows / self.wall_s


def noop(df) -> None:
    """Materialize ``df`` without keeping its rows."""
    df.write.format("noop").mode("overwrite").save()


def _violation_counts(path: str) -> Counter:
    return Counter(pq.read_table(path).column("check_name").to_pylist())


def _verdict_map(path: str) -> dict:
    return {r["part_id"]: (r["status"], r["n_rows"])
            for r in pq.read_table(path).to_pylist()}


def load_images_suite():
    """The repo's image suite config, loaded the way the spark-submit entry
    point loads it."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    try:
        from run_validation import load_suite
    finally:
        sys.path.pop(0)
    return load_suite(IMAGES_SUITE)


# ---------------------------------------------------------------------------
# image oracle: fixture index rules -> expected outputs
# ---------------------------------------------------------------------------

def _image_rows(kind: str, lo: int, hi: int, part_of) -> list[tuple]:
    """(row_id, part_id, failing checks except unique) for fixture rows
    lo..hi-1 of one generator, from the fixture's planted-violation rules."""
    from smcchecker_spark import fixtures

    out = []
    for i in range(lo, hi):
        checks = set()
        if kind == "png":
            fl = fixtures.expected_flags(i)
            rid = fixtures._image_id(i - 1 if fl["dup"] else i)
            if fl["caption_empty"]:
                checks.add("notnull_caption")
            if fl["caption_long"]:
                checks.add("maxlength_caption")
            if fl["fmt_bad"]:
                checks.add("inlookup_fmt_lu_fmt")
            if fl["fmt_bad"] or any(fl[k] for k in (
                    "truncated", "bitflip", "w_off", "w_null", "phash_off")):
                checks.add("imageconsistent_bytes")
        elif kind in ("jpeg", "webp"):
            fl = fixtures.expected_jpeg_flags(i)
            pre = "jpg" if kind == "jpeg" else "wbp"
            rid = f"{pre}{(i - 1 if fl['dup'] else i):09d}"
            if fl["caption_empty"]:
                checks.add("notnull_caption")
            if any(fl[k] for k in ("truncated", "bitflip", "w_off",
                                   "phash_off")):
                checks.add("imageconsistent_bytes")
        else:  # clean rows, re-keyed by the generator below
            rid = f"cln{i:012d}"
        out.append((rid, part_of(kind, i), checks))
    return out


def image_expectation(rows: list[tuple]) -> dict:
    """Per-check violation counts and per-partition (status, n_rows) for
    one validation scope (Unique sees exactly these rows)."""
    ids = Counter(r[0] for r in rows)
    counts: Counter = Counter()
    parts: dict = {}
    for rid, part, checks in rows:
        checks = set(checks)
        if ids[rid] > 1:
            checks.add("unique_image_id")
        counts.update(checks)
        st, n = parts.get(part, ("pass", 0))
        parts[part] = ("fail" if checks or st == "fail" else "pass", n + 1)
    return {"counts": dict(counts), "parts": parts}


# ---------------------------------------------------------------------------
# image-shaped generation
# ---------------------------------------------------------------------------


def _image_frames(spark, seed: int, rows: dict):
    from pyspark.sql import functions as F
    from smcchecker_spark import fixtures

    frames = [
        fixtures.generate_images(spark, n_rows=rows["png"],
                                 n_parts=IMAGE_PARTS, seed=seed, num_tasks=4),
        fixtures.generate_jpeg_images(spark, n_rows=rows["jpeg"],
                                      n_parts=IMAGE_PARTS, seed=seed,
                                      num_tasks=4),
        fixtures.generate_webp_images(spark, n_rows=rows["webp"],
                                      n_parts=IMAGE_PARTS, seed=seed,
                                      num_tasks=4),
    ]
    if rows.get("clean"):
        frames.append(
            fixtures.generate_images(spark, n_rows=rows["clean"],
                                     n_parts=IMAGE_PARTS, seed=seed + 1,
                                     clean=True, num_tasks=4)
            .withColumn("image_id",
                        F.concat(F.lit("cln"), F.substring("image_id", 4, 64)))
            .withColumn("part_id", F.col("part_id") + CLEAN_PART_BASE)
        )
    return frames


def _image_part(kind: str, i: int) -> int:
    return i % IMAGE_PARTS + (CLEAN_PART_BASE if kind == "clean" else 0)


def build_image_table(spark, seed: int, path: str, rows: dict) -> None:
    df = None
    for f in _image_frames(spark, seed, rows):
        df = f if df is None else df.unionByName(f)
    df.write.mode("overwrite").parquet(os.path.join(path, "table"))


def image_table_expectation(rows: dict) -> dict:
    all_rows = []
    for kind in ("png", "jpeg", "webp", "clean"):
        all_rows += _image_rows(kind, 0, rows.get(kind, 0), _image_part)
    return image_expectation(all_rows)


SAMPLE_SCHEMA = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
    ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
    ("phash", pa.int64()), ("part_id", pa.int32()), ("variant", pa.string()),
])


def build_image_sample(path: str) -> None:
    """A fixed, violation-free mixed-codec sample made in this process by
    the fixtures' own row builders (no Spark), tagged by codec variant."""
    from smcchecker_spark import fixtures

    recs = []
    for i in range(160):
        r = fixtures._clean_row(i, WARM_SEED, IMAGE_PARTS)
        r["variant"] = "fake_lossy" if i % 5 == 4 else "png"
        recs.append(r)
    for i in range(96):
        r = fixtures._make_jpeg_row(i, WARM_SEED, IMAGE_PARTS, True)
        r["variant"] = "jpeg420" if i % 4 == 0 else "jpeg444"
        recs.append(r)
    for i in range(48):
        r = fixtures._make_jpeg_row(i, WARM_SEED, IMAGE_PARTS, True,
                                    codec="webp")
        r["variant"] = "webp"
        recs.append(r)
    t = pa.Table.from_pylist(recs, schema=SAMPLE_SCHEMA)
    # one file per core, so the warm pass starts every Python worker
    for k in range(4):
        pq.write_table(t.take(list(range(k, len(t), 4))),
                       os.path.join(path, f"sample-{k}.parquet"))


# ---------------------------------------------------------------------------
# image_payload
# ---------------------------------------------------------------------------


class ImagePayload:
    name = "image_payload"
    op_s = 7.5  # nominal seconds per operation at this commit
    size = "n{png}-{jpeg}-{webp}-{clean}".format(**IMAGE_ROWS)

    def __init__(self, spark, out_dir: str):
        from smcchecker_spark import fixtures
        from smcchecker_spark.constraints import ValidationContext

        self.spark = spark
        self.out = out_dir
        self.suite, self.row_id, self.part_id = load_images_suite()
        self.ctx = ValidationContext(lookups={"lu_fmt": fixtures.lu_fmt(spark)})

    # -- inputs ------------------------------------------------------------

    def build(self, seed: int, path: str) -> None:
        build_image_table(self.spark, seed, path, IMAGE_ROWS)

    def load(self, path: str) -> None:
        self.table = os.path.join(path, "table")
        self.df = self.spark.read.parquet(self.table)
        self.n_rows = sum(IMAGE_ROWS.values())
        self.expected = image_table_expectation(IMAGE_ROWS)

    # -- one operation -----------------------------------------------------

    def operation(self, df, dest: str) -> None:
        """Validate ``df`` and write its violations and verdicts."""
        from smcchecker_spark.run import ValidationRunner

        runner = ValidationRunner(self.suite, self.ctx, row_id_col=self.row_id,
                                  part_id_col=self.part_id)
        res = runner.run(df)
        res.violations.write.mode("overwrite").parquet(
            os.path.join(dest, "violations"))
        res.verdicts.write.mode("overwrite").parquet(
            os.path.join(dest, "verdicts"))
        res.violations.unpersist()

    def _gate(self, dest: str, expected: dict) -> list[str]:
        errs = []
        got = dict(_violation_counts(os.path.join(dest, "violations")))
        if got != expected["counts"]:
            errs.append(f"violation counts {got} != {expected['counts']}")
        verdicts = _verdict_map(os.path.join(dest, "verdicts"))
        if verdicts != expected["parts"]:
            errs.append(f"verdicts {verdicts} != {expected['parts']}")
        return errs

    def warm(self, cache) -> float:
        """Two operations over the fixed sample (after one, the window's
        first operation still ran 1-2 s slower than the rest); returns
        seconds spent making the sample (not set-up work)."""
        sample_dir, gen_s = cache.get_or_build("sample", WARM_SEED, "v2",
                                               build_image_sample)
        df = self.spark.read.parquet(sample_dir).drop("variant")
        dest = os.path.join(self.out, "warm")
        for _ in range(2):
            self.operation(df, dest)
        rows = [(r["image_id"], r["part_id"], set())
                for r in pq.read_table(sample_dir,
                                       columns=["image_id", "part_id"])
                .to_pylist()]
        errs = self._gate(dest, image_expectation(rows))
        if errs:
            raise RuntimeError(f"warm pass output wrong: {errs}")
        shutil.rmtree(dest, ignore_errors=True)
        return gen_s or 0.0

    # -- measured window ---------------------------------------------------

    def measure(self, seconds: float) -> Window:
        w = Window()
        dests = []
        t_start = time.perf_counter()
        for k in range(window_units(seconds, self.op_s)):
            dest = os.path.join(self.out, f"op{k}")
            t0 = time.perf_counter()
            self.operation(self.df, dest)
            w.op_latencies.append(time.perf_counter() - t0)
            dests.append(dest)
        w.wall_s = time.perf_counter() - t_start
        w.rows = self.n_rows * len(dests)
        for dest in dests:
            errs = self._gate(dest, self.expected)
            w.attempted += 1
            if errs:
                w.failed += 1
                w.failures.append(errs)
            w.violation_rows = sum(_violation_counts(
                os.path.join(dest, "violations")).values())
            shutil.rmtree(dest, ignore_errors=True)
        return w

    # -- what the layer probes run on --------------------------------------

    def probe_frame(self):
        from pyspark.sql import functions as F

        # one row in eight of every partition (about as many rows as the
        # stream probe slice): all codecs and checks present
        return self.df.filter(F.pmod(F.xxhash64("image_id"), F.lit(8)) == 0)

    def image_frame(self):
        return self.df

    def image_payloads(self):
        return pq.read_table(self.table, columns=["bytes"]).column(
            "bytes").to_pandas()


# ---------------------------------------------------------------------------
# stream_microbatch
# ---------------------------------------------------------------------------

STREAM_EXPECTATIONS = (
    ("row_count", None, 1, None),
    ("min", "h", 8, None),
    ("max", "h", None, 32),
)


def _stream_rows_of_file(k: int) -> list[tuple]:
    def part_of(kind, i):
        return k * IMAGE_PARTS + i % IMAGE_PARTS

    rows = []
    for kind in ("png", "jpeg", "webp"):
        n = STREAM_ROWS[kind]
        rows += _image_rows(kind, k * n, (k + 1) * n, part_of)
    return rows


class StreamMicrobatch:
    name = "stream_microbatch"
    round_s = 7.5  # nominal seconds to land and drain one round of files
    size = ("n{png}-{jpeg}-{webp}".format(**STREAM_ROWS)
            + f"-f{STREAM_POOL_FILES}")

    def __init__(self, spark, out_dir: str):
        from smcchecker_spark import fixtures
        from smcchecker_spark.constraints import ValidationContext
        from smcchecker_spark.stats import Expectation

        self.spark = spark
        self.out = out_dir
        self.suite, self.row_id, self.part_id = load_images_suite()
        self.ctx = ValidationContext(lookups={"lu_fmt": fixtures.lu_fmt(spark)})
        self.expectations = [Expectation(m, c, lo, hi)
                             for m, c, lo, hi in STREAM_EXPECTATIONS]
        self.rows_per_file = sum(STREAM_ROWS.values())

    # -- inputs ------------------------------------------------------------

    def build(self, seed: int, path: str) -> None:
        """One parquet file per micro-batch: file k holds rows k*n..(k+1)*n-1
        of each codec generator, with part ids k*8..k*8+7."""
        rows = {k: v * STREAM_POOL_FILES for k, v in STREAM_ROWS.items()}
        frames = _image_frames(self.spark, seed, rows)
        schema = SAMPLE_SCHEMA.remove(SAMPLE_SCHEMA.get_field_index("variant"))
        tables = {kind: f.toArrow().cast(schema)
                  for kind, f in zip(("png", "jpeg", "webp"), frames)}
        pool = os.path.join(path, "pool")
        os.makedirs(pool)
        for k in range(STREAM_POOL_FILES):
            parts = []
            for kind, t in tables.items():
                n = STREAM_ROWS[kind]
                parts.append(t.slice(k * n, n))
            t = pa.concat_tables(parts)
            pid = pa.array(
                [k * IMAGE_PARTS + p for p in t.column("part_id").to_pylist()],
                pa.int32())
            t = t.set_column(t.schema.get_field_index("part_id"), "part_id", pid)
            pq.write_table(t, os.path.join(pool, f"file-{k:03d}.parquet"))

    def load(self, path: str) -> None:
        self.pool = os.path.join(path, "pool")
        self.schema = self.spark.read.parquet(
            os.path.join(self.pool, "file-000.parquet")).schema
        self.expected = {k: image_expectation(_stream_rows_of_file(k))
                         for k in range(STREAM_POOL_FILES)}

    # -- a query over landed files -----------------------------------------

    def _validator(self, sink: str):
        from smcchecker_spark.streaming import StreamingValidator

        return StreamingValidator(
            suite=self.suite, ctx=self.ctx, row_id_col=self.row_id,
            part_id_col=self.part_id,
            violations_path=os.path.join(sink, "violations"),
            verdicts_path=os.path.join(sink, "verdicts"),
            expectations=self.expectations,
            expectations_path=os.path.join(sink, "expectations"),
        )

    def _run_query(self, validator, schema, landing: str,
                   ckpt: str) -> list[dict]:
        """Drain what has landed, one file per trigger; returns the progress
        of every trigger that processed rows."""
        stream = (self.spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(landing))
        q = validator.start(stream, ckpt, trigger_once=True)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"streaming query failed: {q.exception()}")
        out = []
        for p in q.recentProgress:
            p = json.loads(p.json)
            if p.get("numInputRows", 0) > 0:
                out.append(p)
        return out

    def _land(self, landing: str, seq: int, k: int) -> None:
        dst = os.path.join(landing, f"f{seq:05d}-k{k:03d}.parquet")
        tmp = os.path.join(os.path.dirname(landing), "landing.tmp")
        shutil.copyfile(os.path.join(self.pool, f"file-{k:03d}.parquet"), tmp)
        os.replace(tmp, dst)

    def _gate(self, sink: str, n_batches: int, expected_of) -> tuple[int, list]:
        """Returns (failed batches, messages). ``expected_of(part_ids)``
        gives the expectations a batch over those partitions may match."""
        vio = pq.read_table(os.path.join(sink, "violations")).to_pylist()
        vd = pq.read_table(os.path.join(sink, "verdicts")).to_pylist()
        ex = pq.read_table(os.path.join(sink, "expectations")).to_pylist()
        by_batch: dict = {}

        def batch(bid):
            return by_batch.setdefault(
                bid, {"parts": {}, "counts": Counter(), "exp": []})

        for v in vd:
            batch(v["batch_id"])["parts"][v["part_id"]] = (v["status"],
                                                           v["n_rows"])
        for v in vio:
            batch(v["batch_id"])["counts"][v["check_name"]] += 1
        for e in ex:
            batch(e["batch_id"])["exp"].append(e["ok"])
        failed, msgs = 0, []
        if len(by_batch) != n_batches:
            msgs.append(f"{len(by_batch)} batches wrote output, {n_batches} ran")
            failed += abs(n_batches - len(by_batch))
        for bid, b in sorted(by_batch.items()):
            ok = (len(b["exp"]) == len(self.expectations) and all(b["exp"])
                  and any(dict(b["counts"]) == exp["counts"]
                          and b["parts"] == exp["parts"]
                          for exp in expected_of(set(b["parts"]))))
            if not ok:
                failed += 1
                msgs.append(f"batch {bid} output differs from its file's rules")
        return failed, msgs

    def _file_expectation(self, part_ids: set) -> list[dict]:
        """A window batch's file, from its part ids (file k owns k*8..k*8+7)."""
        files = {p // IMAGE_PARTS for p in part_ids}
        return [self.expected[files.pop()]] if len(files) == 1 else []

    def warm(self, cache) -> float:
        """One query over the fixed sample's four files, one micro-batch
        each, gated like the window (no planted violations: every batch
        must match one sample file with all partitions passing); returns
        seconds spent making the sample (not set-up work)."""
        sample_dir, gen_s = cache.get_or_build("sample", WARM_SEED, "v2",
                                               build_image_sample)
        root = os.path.join(self.out, "warm")
        landing = os.path.join(root, "landing")
        sink = os.path.join(root, "sink")
        os.makedirs(landing)
        files = []
        for name in sorted(os.listdir(sample_dir)):
            if name.endswith(".parquet"):
                t = pq.read_table(os.path.join(sample_dir, name)).drop(
                    ["variant"])
                pq.write_table(t, os.path.join(landing, name))
                files.append(image_expectation(
                    [(r["image_id"], r["part_id"], set())
                     for r in t.select(["image_id", "part_id"]).to_pylist()]))
        schema = self.spark.read.parquet(landing).schema
        progress = self._run_query(self._validator(sink), schema, landing,
                                   os.path.join(root, "ckpt"))
        failed, msgs = self._gate(sink, len(progress), lambda _: files)
        if failed or len(progress) != len(files):
            raise RuntimeError(f"warm pass output wrong: {len(progress)} "
                               f"batches for {len(files)} files; {msgs}")
        shutil.rmtree(root, ignore_errors=True)
        return gen_s or 0.0

    # -- measured window ---------------------------------------------------

    def measure(self, seconds: float) -> Window:
        w = Window()
        root = os.path.join(self.out, "stream")
        landing = os.path.join(root, "landing")
        sink = os.path.join(root, "sink")
        os.makedirs(landing)
        validator = self._validator(sink)
        seq = 0
        t_start = time.perf_counter()
        for _ in range(window_units(seconds, self.round_s)):
            for _ in range(STREAM_FILES_PER_ROUND):
                self._land(landing, seq, seq % STREAM_POOL_FILES)
                seq += 1
            w.progress += self._run_query(validator, self.schema, landing,
                                          os.path.join(root, "ckpt"))
        w.wall_s = time.perf_counter() - t_start
        w.op_latencies = [p["durationMs"]["triggerExecution"] / 1000.0
                          for p in w.progress]
        w.rows = sum(p["numInputRows"] for p in w.progress)
        if w.rows != seq * self.rows_per_file:
            w.failures.append([f"{w.rows} rows processed, "
                               f"{seq * self.rows_per_file} landed"])
        w.attempted = max(seq, len(w.progress))
        failed, msgs = self._gate(sink, len(w.progress),
                                  self._file_expectation)
        w.failed = min(w.attempted, failed + (seq - len(w.progress)))
        if msgs:
            w.failures.append(msgs)
        w.violation_rows = len(pq.read_table(os.path.join(sink, "violations")))
        shutil.rmtree(root, ignore_errors=True)
        return w

    def probe_frame(self):
        from pyspark.sql import functions as F

        return self.image_frame().filter(
            F.pmod(F.xxhash64("image_id"), F.lit(4)) == 0)

    def image_frame(self):
        return self.spark.read.parquet(self.pool)

    def image_payloads(self):
        return pq.read_table(self.pool, columns=["bytes"]).column(
            "bytes").to_pandas()


WORKLOADS = {c.name: c for c in (ImagePayload, StreamMicrobatch)}
