"""Runner tests: per-partition verdicts, custom-tier gating, reporting.

Reference semantics: custom checks run only on an error-free core run
(proj/main.py:279); errs/warnings routing (proj/core/core.py:51-55);
'; '-joined per-row messages (proj/utils/generic.py:42-46). Partition
granularity is the engine's scale-out generalization (north_rule).
"""

from pyspark.sql import functions as F

from smcchecker_spark.constraints import (
    MaxLength,
    NotNull,
    Range,
    Scale,
    Suite,
)
from smcchecker_spark.run import ValidationRunner, gated_append


def _df(spark):
    # part 0: clean; part 1: core error; part 2: warning only
    rows = [
        ("a", "ok", 1.5, 0),
        ("b", "ok", 2.5, 0),
        ("c", None, 1.0, 1),  # core NotNull error
        ("d", "ok", 1.234, 2),  # Scale warning (scale=2)
        ("e", "toolongvalue", 99.0, 1),  # MaxLength error, same part as c
    ]
    return spark.createDataFrame(rows, "image_id string, v string, x double, part_id int")


def _suite():
    return Suite(
        name="s",
        table="t",
        constraints=[NotNull("v"), MaxLength("v", max_length=8), Scale("x", scale=2)],
        custom_constraints=[Range("x", lo=0, hi=2, is_core=False)],
    )


def test_verdicts_and_gating(spark):
    res = ValidationRunner(_suite(), run_id="r1").run(_df(spark))
    verdicts = {r["part_id"]: r for r in res.verdicts.collect()}
    # part 0 fails on the custom-tier Range error (errors gate the load
    # whatever the tier, proj/load.py:23-24); part 1 fails core; part 2
    # has only a warning → warnings never fail a partition.
    assert verdicts[0]["status"] == "fail"
    assert verdicts[1]["status"] == "fail"
    assert verdicts[2]["status"] == "pass"
    assert verdicts[0]["n_rows"] == 2
    assert verdicts[0]["n_errors"] == 1
    assert verdicts[1]["n_errors"] == 2
    assert verdicts[2]["n_warnings"] == 1

    # custom tier skipped partition 1 (core errors) but ran on 0 and 2:
    # row b (x=2.5, part 0) violates Range(0,2); row e (99.0) is in the
    # failed partition so must NOT be reported.
    custom_rows = {
        r["row_id"]
        for r in res.violations.filter(F.col("check_name") == "range_x").collect()
    }
    assert custom_rows == {"b"}


def test_errs_warnings_split(spark):
    res = ValidationRunner(_suite()).run(_df(spark))
    errs = {(r["row_id"], r["check_name"]) for r in res.errs.collect()}
    warns = {(r["row_id"], r["check_name"]) for r in res.warnings.collect()}
    assert ("c", "notnull_v") in errs
    assert ("e", "maxlength_v") in errs
    assert warns == {("d", "scale_x")}


def test_messages_per_row(spark):
    res = ValidationRunner(_suite()).run(_df(spark))
    msgs = {r["row_id"]: r["error_message"] for r in res.messages_per_row().collect()}
    assert "requires a value in all rows" in msgs["c"]
    assert msgs["d"].count(";") == 0  # single violation → no join


def test_gated_append(spark, tmp_path):
    df = _df(spark)
    res = ValidationRunner(_suite()).run(df)
    out = str(tmp_path / "load")
    assert gated_append(res, df, out) is False  # errors present → refuse

    clean = df.filter(F.col("image_id").isin("a", "b"))
    res2 = ValidationRunner(Suite(name="s", table="t", constraints=[NotNull("v")])).run(clean)
    assert gated_append(res2, clean, out) is True
    assert spark.read.parquet(out).count() == 2


def test_gated_append_expectation_gate(spark, tmp_path):
    """A row-clean snapshot that violates a table-level expectation
    (here: a row-count floor — the half-missing-drop failure) must
    refuse to load; with satisfiable bounds it loads."""
    from smcchecker_spark.stats import Expectation

    df = _df(spark)
    clean = df.filter(F.col("image_id").isin("a", "b"))
    res = ValidationRunner(
        Suite(name="s", table="t", constraints=[NotNull("v")])
    ).run(clean)
    out = str(tmp_path / "load_exp")
    assert gated_append(
        res, clean, out, expectations=[Expectation("row_count", lo=100)]
    ) is False
    assert gated_append(
        res, clean, out, expectations=[Expectation("row_count", lo=2, hi=2)]
    ) is True
    assert spark.read.parquet(out).count() == 2


def test_gated_append_tables_fk_order_all_or_nothing(spark, tmp_path):
    """Multi-table submissions load in the declared FK order with
    all-or-nothing gating (proj/load.py:23-24,116-145): ONE dirty table
    refuses the entire submission — no path is written."""
    import os
    import pytest
    from smcchecker_spark.run import TableLoad, gated_append_tables

    df = _df(spark)
    clean = df.filter(F.col("image_id").isin("a", "b"))
    suite = Suite(name="s", table="t", constraints=[NotNull("v")])
    res_clean = ValidationRunner(suite).run(clean)
    res_dirty = ValidationRunner(_suite()).run(df)

    parent, child = str(tmp_path / "parent"), str(tmp_path / "child")
    loads = {
        "child": TableLoad(res_dirty, df, child),
        "parent": TableLoad(res_clean, clean, parent),
    }
    # one dirty table → nothing written anywhere
    assert gated_append_tables(loads, ["parent", "child"]) is None
    assert not os.path.exists(parent) and not os.path.exists(child)

    # order must cover exactly the load set (reference load.py:110-113)
    with pytest.raises(ValueError, match="order"):
        gated_append_tables(loads, ["parent"])

    # all clean → appended in FK order, counts + tracking rows recorded
    loads = {
        "child": TableLoad(res_clean, clean, child),
        "parent": TableLoad(res_clean, clean, parent),
    }
    tracking = str(tmp_path / "tracking")
    counts = gated_append_tables(
        loads, ["parent", "child"], tracking_path=tracking, run_id="r9"
    )
    assert list(counts) == ["parent", "child"]  # load order preserved
    assert counts == {"parent": 2, "child": 2}
    assert spark.read.parquet(parent).count() == 2
    assert spark.read.parquet(child).count() == 2
    tr = {(r["tablename"], r["n_rows"]) for r in
          spark.read.parquet(tracking).collect()}
    assert tr == {("parent", 2), ("child", 2)}


def test_split_by_verdict_partitions_exactly(spark):
    from smcchecker_spark import fixtures
    from smcchecker_spark.constraints import NotNull, Suite
    from smcchecker_spark.run import ValidationRunner, split_by_verdict

    df = fixtures.generate_images(spark, n_rows=400, n_parts=4, seed=7)
    suite = Suite("s", "images", [NotNull("caption")])
    res = ValidationRunner(suite, row_id_col="image_id").run(df)
    clean, bad = split_by_verdict(res, df, "image_id")
    # routing is id-level: EVERY row sharing a violating id quarantines
    # (the fixture plants duplicate image_ids, so this can exceed the
    # distinct violating-id count)
    bad_ids = {r["row_id"] for r in res.violations.select("row_id").collect()}
    expect_bad = df.filter(
        F.col("image_id").cast("string").isin(list(bad_ids))
    ).count()
    assert bad.count() == expect_bad
    assert clean.count() + bad.count() == 400
    # clean really is clean: re-validating it yields zero violations
    res2 = ValidationRunner(suite, row_id_col="image_id").run(clean)
    assert res2.violations.count() == 0


def test_quarantine_append_routes_both_sides(spark, tmp_path):
    from smcchecker_spark import fixtures
    from smcchecker_spark.constraints import NotNull, Suite
    from smcchecker_spark.run import ValidationRunner, quarantine_append

    df = fixtures.generate_images(spark, n_rows=300, n_parts=3, seed=9)
    suite = Suite("s", "images", [NotNull("caption")])
    res = ValidationRunner(suite, row_id_col="image_id").run(df)
    good_p = str(tmp_path / "good")
    quar_p = str(tmp_path / "quar")
    n_clean, n_bad = quarantine_append(res, df, "image_id", good_p, quar_p)
    assert n_clean + n_bad == 300 and n_bad > 0
    assert spark.read.parquet(good_p).count() == n_clean
    quar = spark.read.parquet(quar_p)
    assert quar.count() == n_bad
    # quarantined rows are exactly the violating ids
    bad_ids = {r["row_id"] for r in res.violations.select("row_id").collect()}
    assert {str(r["image_id"]) for r in quar.collect()} == bad_ids


def test_unpersist_releases_run_cache(spark):
    """A custom-tier run caches the core violations and the unioned
    violations; ``unpersist`` releases both."""
    spark.catalog.clearCache()
    res = ValidationRunner(_suite()).run(_df(spark))
    res.verdicts.collect()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert not cache.isEmpty()
    res.unpersist()
    assert cache.isEmpty()
