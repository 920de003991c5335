"""The north rule's deployment shape, executed for real: `spark-submit
--py-files sparc.zip scripts/encode_submit.py` in a separate process,
with the package supplied ONLY by the zip (cwd is outside the repo and
PYTHONPATH is scrubbed), then the output decoded and value-checked by
the in-process engine."""

import glob
import os
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_ROWS = 4000


def _build_zip(path: str) -> str:
    zpath = os.path.join(path, "sparc.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for f in glob.glob(os.path.join(REPO, "sparc", "**", "*.py"), recursive=True):
            z.write(f, os.path.relpath(f, REPO))
    return zpath


@pytest.mark.parametrize("strategy", ["hash", "pyscan"])
def test_spark_submit_py_files_end_to_end(spark, tmp_path, strategy):
    from sparc.fixtures import pages
    from sparc.job import decode_job

    src = str(tmp_path / "pages.parquet")
    pages.write_parquet(src, N_ROWS, seed=48)
    out = str(tmp_path / f"streams_{strategy}")
    zpath = _build_zip(str(tmp_path))
    spark_submit = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"),
                                "bin", "spark-submit")
    if not os.path.exists(spark_submit):
        spark_submit = "spark-submit"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            spark_submit,
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.sql.session.timeZone=UTC",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zpath,
            os.path.join(REPO, "scripts", "encode_submit.py"),
            "--input", src,
            "--output", out,
            "--strategy", strategy,
            "--rows-per-stripe", "1000",
            "--fingerprint", "submit@48",
        ],
        cwd=str(tmp_path),  # NOT the repo: sparc must come from the zip
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert len(glob.glob(os.path.join(out, "stripes", "*.sparc"))) >= 4
    decoded = decode_job.run_decode(spark, out)
    assert decoded.count() == N_ROWS
    src_urls = {r[0] for r in spark.read.parquet(src).select("url").collect()}
    got_urls = {r[0] for r in decoded.select("url").collect()}
    assert got_urls == src_urls
