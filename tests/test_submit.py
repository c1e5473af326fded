"""The literal deployment surface: ``spark-submit --py-files <zip>
scripts/run_validation.py`` as a real subprocess (north rule: "ships as a
spark-submit --py-files package").

The subprocess runs with cwd OUTSIDE the repo and without the repo on
PYTHONPATH, so ``import smcchecker_spark`` (driver side AND inside the
Arrow decode UDF on the Python workers) can only resolve through the
shipped zip — this is the packaging test, not just a CLI test.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

from smcchecker_spark import fixtures
from smcchecker_spark.package import build_pyfiles_zip

SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts",
    "run_validation.py",
)

SPARK_SUBMIT = shutil.which("spark-submit")


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_end_to_end(spark, tmp_path):
    df = fixtures.generate_images(spark, n_rows=150, n_parts=3, seed=42)
    df.write.parquet(str(tmp_path / "in"))
    fixtures.lu_fmt(spark).write.parquet(str(tmp_path / "lu"))
    cfg = {
        "name": "images_core",
        "table": "images",
        "row_id_col": "image_id",
        "part_id_col": "part_id",
        "constraints": [
            {"type": "not_null", "column": "caption"},
            {"type": "unique", "keys": ["image_id"]},
            {"type": "in_lookup", "column": "fmt", "lookup": "lu_fmt",
             "lookup_key": "fmt"},
            {"type": "image_consistent"},
        ],
    }
    (tmp_path / "suite.json").write_text(json.dumps(cfg))
    zip_path = build_pyfiles_zip()

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "4"
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--py-files", zip_path,
            SCRIPT,
            "--input", str(tmp_path / "in"),
            "--suite", str(tmp_path / "suite.json"),
            "--out", str(tmp_path / "out"),
            "--lookup", f"lu_fmt={tmp_path / 'lu'}",
        ],
        cwd=str(tmp_path),  # NOT the repo — imports must come from the zip
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 1, proc.stderr[-3000:]  # planted violations
    assert "errors=" in proc.stdout

    v = spark.read.parquet(str(tmp_path / "out" / "violations"))
    checks = {r["check_name"] for r in v.select("check_name").distinct().collect()}
    # the decode UDF ran on workers that imported the engine from the zip
    assert "imageconsistent_bytes" in checks and "notnull_caption" in checks
    verd = spark.read.parquet(str(tmp_path / "out" / "verdicts"))
    assert verd.count() == 3


KERNELS = ("jpegscan", "jpegrecon", "jpegprog", "vp8ltree", "vp8lpix")

_WORKER_PROBE = f"""
import pandas as pd
from pyspark.sql import SparkSession

KERNELS = {KERNELS!r}


def probe(batches):
    from smcchecker_spark import native

    for _ in batches:
        n = sum(getattr(native, k)() is not None for k in KERNELS)
        yield pd.DataFrame({{"n": [n]}})


spark = SparkSession.builder.getOrCreate()
rows = spark.range(1, numPartitions=1).mapInPandas(probe, "n int").collect()
print(f"kernels_workers={{rows[0]['n']}}")
spark.stop()
"""


def _zip_only_env(tmp_path):
    """Environment in which ``smcchecker_spark`` can only come from the
    shipped zip, with a cold native cache (TMPDIR under ``tmp_path``)."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env["TMPDIR"] = str(tmp)
    env.pop("SMC_NATIVE", None)
    return env


def test_native_kernels_build_from_zip_import(tmp_path):
    """Imported from the --py-files zip, the package compiles and loads
    every native kernel: the .c sources are read through the package
    loader, not from a filesystem path inside the zip."""
    zip_path = build_pyfiles_zip()
    env = _zip_only_env(tmp_path)
    env["PYTHONPATH"] = zip_path
    code = (
        "from smcchecker_spark import native\n"
        f"assert native.__file__.startswith({zip_path!r} + '/'), native.__file__\n"
        f"loaded = [k for k in {KERNELS!r} if getattr(native, k)() is not None]\n"
        f"assert len(loaded) == {len(KERNELS)}, loaded\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr[-3000:]


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_workers_load_native_kernels(tmp_path):
    """A Python worker that imports the engine from the --py-files zip
    loads all native kernels (the same probe as perfbench's
    ``native.kernels_workers``). Tier-1 sessions start workers in the
    checkout, so only a spark-submit run from outside it sees the zip."""
    probe = tmp_path / "probe.py"
    probe.write_text(_WORKER_PROBE)
    env = _zip_only_env(tmp_path)
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[2]",
            "--py-files", build_pyfiles_zip(),
            str(probe),
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert f"kernels_workers={len(KERNELS)}" in proc.stdout, (
        proc.stdout + proc.stderr[-3000:]
    )
