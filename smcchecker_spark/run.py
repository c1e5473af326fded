"""Validation runner: orchestrates tiers, verdicts, and reporting.

Pipeline (reference lifecycle: /root/reference/proj/main.py:22-404, re-shaped
for Spark per SURVEY.md §3.1):

1. core tier — compile_suite() → violations DF (one fused scan + join stages)
2. per-partition verdicts — pass/fail = zero core errors in that partition
   (north_rule: "per-partition pass/fail"; the reference's analogue is the
   per-submission gate at proj/main.py:279 + load gate proj/load.py:23-24)
3. custom tier — runs only over partitions that passed core (the reference
   gates custom checks on an error-free core run, proj/main.py:279-301;
   partition granularity is the scale-out generalization)
4. reporting — errs/warnings split (checkScale routing,
   proj/core/core.py:51-55) and per-row message aggregation
   (proj/utils/generic.py:25-51: groupby (row, table) → '; '.join)
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smcchecker_spark.compile import VIOLATION_SCHEMA, compile_suite, part_id_expr
from smcchecker_spark.constraints import ERROR, WARNING, Suite, ValidationContext

VERDICT_COLS = [
    "run_id",
    "part_id",
    "status",
    "n_rows",
    "n_errors",
    "n_warnings",
    "started_at",
    "finished_at",
]


@dataclass
class ValidationResult:
    violations: DataFrame  # full violation rows (errors + warnings)
    verdicts: DataFrame  # one row per partition
    metrics: DataFrame | None = None  # per-(partition, column) stats rows
    # per-(partition, column) mergeable HLL sketch rows (binary) — stored
    # beside the metrics so later NDV / cross-snapshot drift analyses are
    # sketch unions, never rescans (stats.partition_hll_sketches)
    sketches: DataFrame | None = None
    # every frame ``ValidationRunner.run`` persisted; see ``unpersist``
    persisted: list[DataFrame] = field(default_factory=list, init=False, repr=False)

    def unpersist(self) -> None:
        """Release every frame ``ValidationRunner.run`` cached. Call once the
        result's frames are written."""
        for df in self.persisted:
            df.unpersist()

    @property
    def errs(self) -> DataFrame:
        return self.violations.filter(F.col("severity") == ERROR)

    @property
    def warnings(self) -> DataFrame:
        return self.violations.filter(F.col("severity") == WARNING)

    def messages_per_row(self) -> DataFrame:
        """'; '-joined messages per (table, row_id) — reference A2 semantics
        (proj/utils/generic.py:42-46), deterministic via array_sort."""
        return self.violations.groupBy("table", "row_id").agg(
            F.array_join(
                F.array_sort(F.collect_list("error_message")), "; "
            ).alias("error_message")
        )


class ValidationRunner:
    def __init__(
        self,
        suite: Suite,
        ctx: ValidationContext | None = None,
        row_id_col: str = "image_id",
        part_id_col: str | None = "part_id",
        run_id: str = "run0",
        metrics_columns: list[str] | None = None,
        metrics_sketches: bool = False,
    ):
        """``metrics_columns``: when set, ``run()`` additionally emits one
        stats row per (partition, column) — null rate, min/max, HLL ndv,
        approx quantiles (north rule: "each partition emits lineage +
        metrics rows to a checkpoint table"; these feed later drift
        checks as the baseline snapshot).

        ``metrics_sketches``: additionally emit one MERGEABLE DataSketches
        HLL row per (partition, column) (``ValidationResult.sketches``).
        The numeric approx_ndv in the metrics rows cannot be combined
        across partitions; the stored sketches can — global/any-subset
        NDV and cross-snapshot new-value drift become unions over the
        checkpointed sketch rows with zero rescans
        (stats.merged_ndv / ndv_drift_from_sketches)."""
        self.suite = suite
        self.ctx = ctx or ValidationContext()
        self.row_id_col = row_id_col
        self.part_id_col = part_id_col
        self.run_id = run_id
        self.metrics_columns = metrics_columns
        self.metrics_sketches = metrics_sketches

    def run(
        self,
        df: DataFrame,
        full_scope: DataFrame | None = None,
        shared_cache: dict | None = None,
    ) -> ValidationResult:
        started = datetime.now(timezone.utc)

        from dataclasses import replace

        ctx = self.ctx
        # The full in-session scope — whole-column gates (IntRange's
        # parse precondition) and Unique's dup-key aggregate are defined
        # over it. In wave mode the caller passes the complete table; in
        # a direct run df IS the complete table. Pinning it here (rather
        # than leaving full_scope None) keeps the CUSTOM tier consistent
        # across modes: its compile below receives the core-passing
        # slice, and without an explicit scope its gates/dup detection
        # would silently narrow to that slice — direct and checkpointed
        # runs of the same data would emit different custom violations.
        scope = full_scope if full_scope is not None else df
        ctx = replace(
            ctx,
            full_scope=scope,
            shared=shared_cache if shared_cache is not None else ctx.shared,
        )
        core = compile_suite(
            df,
            self.suite,
            ctx,
            tier="core",
            row_id_col=self.row_id_col,
            part_id_col=self.part_id_col,
        )
        violations = core
        persisted = []
        part = part_id_expr(df, self.part_id_col)
        if self.suite.custom_constraints:
            # the failing-partition collect below executes the core plan;
            # persist FIRST so the later union/verdict actions reuse it
            # instead of re-running every core check
            core = core.persist()
            persisted.append(core)
            # partitions with any core ERROR skip the custom tier
            failed = {
                r["part_id"]
                for r in core.filter(F.col("severity") == ERROR)
                .select("part_id")
                .distinct()
                .collect()
            }
            passing = df
            if failed:
                passing = df.filter(~part.isin(list(failed)))
            custom = compile_suite(
                passing,
                self.suite,
                ctx,
                tier="custom",
                row_id_col=self.row_id_col,
                part_id_col=self.part_id_col,
            )
            violations = core.unionByName(custom)

        # cache: verdicts + downstream writers both consume violations
        violations = violations.persist()
        persisted.append(violations)

        row_counts = df.groupBy(part.alias("part_id")).agg(
            F.count(F.lit(1)).alias("n_rows")
        )
        vio_counts = violations.groupBy("part_id").agg(
            F.sum(
                (F.col("severity") == ERROR).cast("long")
            ).alias("n_errors"),
            F.sum(
                (F.col("severity") == WARNING).cast("long")
            ).alias("n_warnings"),
        )
        finished = datetime.now(timezone.utc)
        verdicts = (
            row_counts.join(vio_counts, "part_id", "left")
            .select(
                F.lit(self.run_id).alias("run_id"),
                F.col("part_id"),
                F.when(
                    F.coalesce(F.col("n_errors"), F.lit(0)) == 0, F.lit("pass")
                )
                .otherwise(F.lit("fail"))
                .alias("status"),
                F.col("n_rows"),
                F.coalesce(F.col("n_errors"), F.lit(0)).alias("n_errors"),
                F.coalesce(F.col("n_warnings"), F.lit(0)).alias("n_warnings"),
                F.lit(started).alias("started_at"),
                F.lit(finished).alias("finished_at"),
            )
        )
        metrics = None
        sketches = None
        if self.metrics_columns:
            from smcchecker_spark.stats import column_stats_by

            metrics = column_stats_by(
                df.withColumn("__part", part),
                "__part",
                self.metrics_columns,
            ).withColumnsRenamed({"__part": "part_id"}).withColumn(
                "run_id", F.lit(self.run_id)
            )
            if self.metrics_sketches:
                from smcchecker_spark.stats import partition_hll_sketches

                sketches = partition_hll_sketches(
                    df.withColumn("__part", part),
                    "__part",
                    self.metrics_columns,
                ).withColumnsRenamed({"part": "part_id"}).withColumn(
                    "run_id", F.lit(self.run_id)
                )
        result = ValidationResult(
            violations=violations, verdicts=verdicts, metrics=metrics,
            sketches=sketches,
        )
        result.persisted = persisted
        return result


def with_audit_columns(
    df: DataFrame,
    run_id: str,
    row_id_col: str,
    login_info: dict[str, str] | None = None,
    created_at: str | None = None,
) -> DataFrame:
    """Audit/system columns assigned at load time (reference:
    objectid/globalid/created_date/submissionid/login_* at
    /root/reference/proj/load.py:91-103).

    ``objectid`` is a DETERMINISTIC content id (md5 of run_id‖row_id) —
    unlike the reference's serial ids this is stable under retry/resume,
    which is what an idempotent distributed append needs. ``created_at``
    (ISO string) defaults to now(); pass it explicitly for reproducible
    pipelines."""
    out = df.withColumns(
        {
            "objectid": F.md5(
                F.concat_ws("|", F.lit(run_id), F.col(row_id_col).cast("string"))
            ),
            "submissionid": F.lit(run_id),
            "created_date": (
                F.lit(created_at).cast("timestamp")
                if created_at
                else F.current_timestamp()
            ),
        }
    )
    for k, v in (login_info or {}).items():
        out = out.withColumn(f"login_{k}", F.lit(v))
    return out


def gated_append(
    result: ValidationResult, df: DataFrame, path, fmt: str = "parquet",
    expectations: "list | None" = None,
) -> bool:
    """Load-path gate: append the data only when there are zero errors.

    Reference: /load refuses when errors.json is nonempty
    (proj/load.py:23-24); Spark spelling per SURVEY.md §3.3.
    ``path`` may be a plain parquet path (back-compat; ``fmt`` applies)
    or a ``tables.ParquetTable`` / ``tables.IcebergTable`` adapter —
    the Iceberg spelling is an atomic ``writeTo().append()`` snapshot
    commit. Returns True when the append happened.

    ``expectations``: optional table-level :class:`stats.Expectation`
    bounds that must ALSO hold on ``df`` (row_count floor, null-rate
    ceilings, freshness, …) — one extra aggregation pass; a snapshot
    that is row-clean but half-missing still refuses to load.
    """
    if result.errs.limit(1).count() > 0:
        return False
    if expectations:
        from smcchecker_spark.stats import check_expectations

        bad = check_expectations(df, expectations).filter(~F.col("ok"))
        if bad.limit(1).count() > 0:
            return False
    _append(df, path, fmt)
    return True


def _append(df: DataFrame, path, fmt: str) -> None:
    """Append ``df`` to a path string written as ``fmt``, or through a
    ``tables.*`` adapter (parquet path strings go through the adapter too)."""
    if isinstance(path, str) and fmt != "parquet":
        df.write.format(fmt).mode("append").save(path)
    else:
        from smcchecker_spark.tables import as_table

        as_table(path).append(df)


@dataclass
class TableLoad:
    """One table of a multi-table submission: its validation result, the
    rows to append, and the destination (a parquet path string or a
    ``tables.ParquetTable`` / ``tables.IcebergTable`` adapter)."""

    result: ValidationResult
    df: DataFrame
    path: "str | object"


def gated_append_tables(
    loads: dict[str, TableLoad],
    order: list[str],
    fmt: str = "parquet",
    tracking_path: str | None = None,
    run_id: str = "run0",
) -> dict[str, int] | None:
    """All-or-nothing, FK-ordered multi-table load.

    Reference semantics: a dataset declares its tables in FK order and the
    loader appends them in exactly that order ("If foreign key
    relationships are set, the tables need to be loaded in a particular
    order", /root/reference/proj/load.py:116-119), writing a row-count
    checksum row per table afterwards (load.py:124-145). The declared
    order matters for crash consistency too: parents land before
    children, so an interruption mid-sequence leaves a referentially
    consistent PREFIX, never an orphaned child row.

    Gate: EVERY table must have zero error-severity violations before any
    write happens (the reference refuses the whole submission when
    errors.json is nonempty, proj/load.py:23-24). Returns the per-table
    appended row counts in load order, or None when the gate refused.

    ``order`` must name exactly the tables in ``loads`` (mirrors the
    reference's dataset/tables assertion, load.py:110-113).
    ``tracking_path``: optional sink for (run_id, tablename, n_rows)
    checksum rows — the submission_tracking_checksum analogue.
    """
    if set(order) != set(loads):
        raise ValueError(
            f"order {sorted(order)} must name exactly the load tables "
            f"{sorted(loads)}"
        )
    for name in order:
        if loads[name].result.errs.limit(1).count() > 0:
            return None
    from pyspark.sql import Observation

    counts: dict[str, int] = {}
    for name in order:
        ld = loads[name]
        # checksum count via an observation on the WRITE action itself:
        # a separate df.count() would re-run the table's whole (often
        # UDF-bearing) plan a second time, and on a nondeterministic
        # plan could disagree with what was actually appended
        obs = Observation(f"gated_append_{run_id}_{name}")
        observed = ld.df.observe(obs, F.count(F.lit(1)).alias("n_rows"))
        _append(observed, ld.path, fmt)
        counts[name] = int(obs.get["n_rows"])
    if tracking_path:
        spark = loads[order[0]].df.sparkSession
        spark.createDataFrame(
            [(run_id, name, counts[name]) for name in order],
            "run_id string, tablename string, n_rows long",
        ).coalesce(1).write.mode("append").parquet(tracking_path)
    return counts


def split_by_verdict(
    result: ValidationResult,
    df: DataFrame,
    row_id_col: str,
    severity: str = ERROR,
) -> tuple[DataFrame, DataFrame]:
    """Quarantine split: (clean_rows, quarantined_rows) — rows with at
    least one ``severity``-level violation route to quarantine, the rest
    are loadable. The beyond-reference load mode: the reference refuses
    the WHOLE submission on any error (proj/load.py:23-24 →
    ``gated_append``); at 10^12 rows a 0.1% bad slice must not block
    the other 99.9%.

    Shape: ONE distinct over the violating row ids (map-side partial —
    ids only, never violation payloads), then one semi and one anti join
    of the corpus against that id set (AQE broadcasts it when small,
    sort-merge otherwise; both joins reuse the same exchange). Hand in
    the persisted ``ValidationRunner.run`` result — ``violations`` is
    referenced by both halves. clean ∪ quarantine == df exactly (same
    null-safe id semantics in both joins: NULL row ids never match and
    thus stay clean — give quarantined rows a non-null id upstream)."""
    bad_ids = (
        result.violations.filter(F.col("severity") == severity)
        .select(F.col("row_id").alias("__bad_id"))
        .distinct()
    )
    key = df[row_id_col].cast("string")
    clean = df.join(
        bad_ids, key == bad_ids["__bad_id"], "left_anti"
    )
    quarantined = df.join(
        bad_ids, key == bad_ids["__bad_id"], "left_semi"
    )
    return clean, quarantined


def quarantine_append(
    result: ValidationResult,
    df: DataFrame,
    row_id_col: str,
    good_sink,
    quarantine_sink,
) -> tuple[int, int]:
    """Split-mode load: clean rows append to ``good_sink``, violating
    rows to ``quarantine_sink`` (both: path string or a ``tables.*``
    adapter). Counts come from observations on the write actions
    themselves (no second pass over UDF-bearing plans — same rationale
    as ``gated_append_tables``). Returns (n_clean, n_quarantined)."""
    from pyspark.sql import Observation

    from smcchecker_spark.tables import as_table

    clean, bad = split_by_verdict(result, df, row_id_col)
    oc, ob = Observation("q_clean"), Observation("q_bad")
    as_table(good_sink).append(
        clean.observe(oc, F.count(F.lit(1)).alias("n"))
    )
    as_table(quarantine_sink).append(
        bad.observe(ob, F.count(F.lit(1)).alias("n"))
    )
    return int(oc.get["n"]), int(ob.get["n"])


def sample_violations(
    violations: DataFrame,
    per_check: int = 1000,
    salt: str = "vsample",
) -> tuple[DataFrame, dict[str, int]]:
    """Cap STORED violation rows per check while keeping counts exact.

    At 10^12 rows, one systematically-broken column produces ~10^12
    violation rows — the violations sink becomes a second copy of the
    table. Verdicts/gating only need COUNTS (exact, returned here as a
    dict, and already carried by ``ValidationResult.verdicts``); humans
    debugging a failed load need a bounded SAMPLE of offending rows per
    check. The reference's UI shows the same shape: per-check error
    groups with row lists capped by what a browser tab can hold
    (proj/main.py report payload).

    Scale discipline: per-check exact-N (a row_number window keyed by
    check_name) would sort one check's 10^12 violations in a single
    task. Instead: ONE tiny aggregate (|checks| rows, map-side partials)
    fixes a deterministic keep-rate per check, then a map-only filter
    keeps rows whose md5 hash-bucket of (check_name, row_id) falls under
    the rate — EXPECTED ``per_check`` rows per check (binomial, tight at
    these sizes), zero shuffles of the violations table, reproducible
    across retries/resume and in any SQL engine (same md5-bucket idiom
    as ``ops.sample``). Checks with ≤ per_check violations keep
    everything.

    ``violations`` is referenced twice (count + filter) — hand in the
    persisted result from ``ValidationRunner.run`` (it persists) or
    persist first. Returns (sampled violations, exact counts by check).
    """
    if per_check <= 0:
        raise ValueError(f"per_check must be positive, got {per_check}")
    from smcchecker_spark.ops.sample import _BUCKETS, hash_bucket

    counts = {
        r["check_name"]: r["n"]
        for r in violations.groupBy("check_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    pairs: list = []
    for name in sorted(counts):
        rate = min(1.0, per_check / counts[name]) if counts[name] else 1.0
        pairs.append(F.lit(name))
        pairs.append(F.lit(int(rate * _BUCKETS)))
    if not pairs:
        return violations, counts
    thresh = F.coalesce(
        F.create_map(*pairs)[F.col("check_name")], F.lit(_BUCKETS)
    )
    key = F.concat_ws("|", F.col("check_name"), F.col("row_id"))
    sampled = violations.filter(hash_bucket(key, salt) < thresh)
    return sampled, counts


def empty_violations(spark) -> DataFrame:
    return spark.createDataFrame([], VIOLATION_SCHEMA)
