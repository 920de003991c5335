"""sparc.tools — the orc-tools-analog inspection CLI (meta / data / scan
/ sizes) over real ORC files and engine stream dirs, Spark-less."""

import json
import os
import subprocess
import sys

import pyarrow as pa
import pytest

from sparc import tools
from sparc.engine import orcfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def orc_path(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("tools") / "t.orc")
    t = pa.table({
        "a": pa.array(range(5000), pa.int64()),
        "s": pa.array([f"row{i % 7}" for i in range(5000)]),
        "d": pa.array([i * 0.5 for i in range(5000)], pa.float64()),
    })
    orcfile.write_orc(t, p, compression="ZSTD", row_index_stride=1000,
                      user_metadata={"who": b"sparc"})
    return p


def test_meta_orc(orc_path):
    m = tools.meta(orc_path)
    assert m["rows"] == 5000
    assert m["compression"] == "ZSTD"
    assert m["schema"] == "struct<a:long, s:string, d:double>"
    assert m["row_index_stride"] == 1000
    assert m["user_metadata"] == {"who": "sparc"}
    assert m["writer_version"] == "ORC_14"
    assert m["stripe_count"] >= 1
    assert len(m["file_statistics"]) == 4  # root + 3 columns


def test_data_scan_sizes_orc(orc_path):
    rows = list(tools.data(orc_path, 3))
    assert rows == [
        {"a": 0, "s": "row0", "d": 0.0},
        {"a": 1, "s": "row1", "d": 0.5},
        {"a": 2, "s": "row2", "d": 1.0},
    ]
    s = tools.scan(orc_path)
    assert s["rows"] == 5000 and s["columns"] == 3
    z = tools.sizes(orc_path)
    assert z["file_bytes"] == os.path.getsize(orc_path)
    parts = (z["index_bytes"] + z["data_bytes"] + z["stripe_footer_bytes"]
             + z["tail_bytes"] + 3)
    assert parts == z["file_bytes"]


@pytest.fixture(scope="module")
def streams_dir_files(spark, tmp_path_factory):
    from sparc.fixtures import pages
    from sparc.job import encode_job

    src = tmp_path_factory.mktemp("tools2") / "pages.parquet"
    pages.write_parquet(str(src), 2000, seed=5)
    out = str(tmp_path_factory.mktemp("tools2") / "streams")
    encode_job.run_encode(
        spark.read.parquet(str(src)), out, n_stripes=4,
        resume=False,
    )
    return out


def test_meta_data_scan_sizes_dir(streams_dir_files):
    m = tools.meta(streams_dir_files)
    assert all(s["stripe_file"] for s in m["stripes"])
    assert m["rows"] == 2000
    assert [c["name"] for c in m["columns"]] == [
        "url", "warc_ts", "html", "text", "lang"
    ]
    rows = list(tools.data(streams_dir_files, 5))
    assert len(rows) == 5 and set(rows[0]) == {"url", "warc_ts", "html", "text", "lang"}
    s = tools.scan(streams_dir_files)
    assert s["rows"] == 2000
    z = tools.sizes(streams_dir_files)
    assert z["stream_bytes"] > 0
    assert set(z["by_column"]) == {"url", "warc_ts", "html", "text", "lang"}
    assert "DATA" in z["by_stream_kind"]


def test_plan_dir(streams_dir_files):
    """``plan`` prints the read planner's counters for a JSON predicate."""
    full = tools.plan(streams_dir_files)
    assert full["stripes"] == 4 and full["rowgroups_kept"] == full["rowgroups"]
    assert full["kept_bytes"] > 0 and full["path"] == "driver"
    out = subprocess.run(
        [sys.executable, "-m", "sparc.tools", "plan", streams_dir_files,
         '["and", ["=", "lang", "zz-none"], ["not", ["is_null", "url"]]]'],
        capture_output=True, text=True, cwd=REPO, check=True,
    )
    c = json.loads(out.stdout)
    assert c["stripes"] == c["stripes_refuted_by_stats"] == 4
    assert c["rowgroups_kept"] == c["kept_bytes"] == 0


def test_cli_subprocess(orc_path):
    out = subprocess.run(
        [sys.executable, "-m", "sparc.tools", "meta", orc_path],
        capture_output=True, text=True, cwd=REPO, check=True,
    )
    m = json.loads(out.stdout)
    assert m["rows"] == 5000
    out = subprocess.run(
        [sys.executable, "-m", "sparc.tools", "data", orc_path, "-n", "2"],
        capture_output=True, text=True, cwd=REPO, check=True,
    )
    lines = [json.loads(ln) for ln in out.stdout.strip().splitlines()]
    assert len(lines) == 2 and lines[0]["a"] == 0
