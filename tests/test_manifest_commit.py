"""The engine's own manifest commit (``sparc.job.manifest``).

Each encode task writes its FOOTER rows as one parquet file, first under
a hidden temp name, then ``os.replace``-d to ``part-<key>-sparc.parquet``
where ``<key>`` is the task's smallest stripe id.  Spark only schedules
the tasks.  These tests cover reruns, a task killed between its stripe
renames and its manifest rename, the one manifest listing, the resume
check that needs no Spark read on an empty dir, and a static check that
no Spark writer is left in the engine's jobs."""

from __future__ import annotations

import ast
import glob
import os
import pathlib
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sparc import runtime, tools
from sparc.fixtures import pages
from sparc.job import decode_job, encode_job, manifest, partition

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_ROWS = 6000
PER = 1000  # rows per pyscan unit and stripe: 6 units of one stripe each
PLAN = f"pyscan target_rows_per_stripe={PER}"


@pytest.fixture(scope="module")
def src(tmp_path_factory):
    p = tmp_path_factory.mktemp("manifest") / "pages.parquet"
    pq.write_table(pages.generate(N_ROWS, seed=42), str(p), row_group_size=PER)
    return str(p)


def _unit_batch(rows):
    idx, path, lo, hi = zip(*rows)
    return pa.record_batch({
        "idx": pa.array(idx, pa.int64()), "path": list(path),
        "rg_lo": pa.array(lo, pa.int32()), "rg_hi": pa.array(hi, pa.int32()),
    })


def _stripe_bytes(out):
    return {
        p.name: p.read_bytes() for p in pathlib.Path(out, "stripes").iterdir()
    }


def _task_fns(src, out):
    """One task's input and encode function on each encode path."""
    units = _unit_batch(encode_job._plan_units_rows([src], PER)[2:5])
    pyscan = encode_job._encode_units_factory(
        out, PER, None, codec="zstd", fingerprint="fp", stripe_plan=PLAN
    )
    table = pq.read_table(src).slice(0, 900)
    sids = pa.array([7 if i % 3 else 4 for i in range(900)], pa.int64())
    tagged = table.append_column(partition.STRIPE_COL, sids).to_batches(max_chunksize=256)
    hashed = encode_job._encode_partition_factory(out, "zstd", None, "fp")
    return {
        "pyscan": (pyscan, [units], 2 * encode_job.INPUT_SPLIT_SPACE),
        "hash": (hashed, tagged, 4),
    }


@pytest.mark.parametrize("path", ["pyscan", "hash"])
def test_task_rerun_leaves_one_manifest_and_identical_stripes(
    src, tmp_path, monkeypatch, path
):
    """A retried (or speculative) attempt of one task renames the same
    manifest name over the same stripes: one manifest file, named by the
    task's smallest stripe id, and byte-identical stripe files."""
    monkeypatch.setattr(runtime, "init_worker", lambda: None)
    out = str(tmp_path / "streams")
    fn, batches, key = _task_fns(src, out)[path]
    assert list(fn(iter(batches))) == []  # the task body yields nothing
    first = _stripe_bytes(out)
    assert list(fn(iter(batches))) == []
    assert _stripe_bytes(out) == first
    assert sorted(os.listdir(out)) == ["part-%019d-sparc.parquet" % key, "stripes"]
    footers = pq.read_table(manifest.paths(out)[0])
    assert footers.num_rows == len(first)
    assert set(footers["kind"].to_pylist()) == {"FOOTER"}


def test_task_without_footers_writes_no_file(tmp_path, monkeypatch):
    monkeypatch.setattr(runtime, "init_worker", lambda: None)
    out = str(tmp_path / "streams")
    fn = encode_job._encode_partition_factory(out, "zstd", None, "fp")
    assert list(fn(iter([]))) == []
    assert not os.path.exists(out)


def test_task_killed_before_manifest_rename_resumes_exactly_once(
    spark, src, tmp_path, monkeypatch
):
    """A task killed after its stripe renames and before its manifest
    rename leaves stripe files and a temp manifest that no listing sees.
    The next resume re-encodes that task's units to the same bytes, and
    every row reads back exactly once."""
    monkeypatch.setattr(runtime, "init_worker", lambda: None)
    out = str(tmp_path / "streams")
    rows = encode_job._plan_units_rows([src], PER)
    assert len(rows) == 6
    fn = encode_job._encode_units_factory(
        out, PER, None, codec="zstd", fingerprint="fp", stripe_plan=PLAN
    )
    fn(iter([_unit_batch(rows[:3])]))
    replace = os.replace

    def killed(a, b):
        if b.endswith("-sparc.parquet"):
            raise KeyboardInterrupt("task killed")
        replace(a, b)

    monkeypatch.setattr(os, "replace", killed)
    with pytest.raises(KeyboardInterrupt):
        fn(iter([_unit_batch(rows[3:])]))
    monkeypatch.setattr(os, "replace", replace)
    orphans = _stripe_bytes(out)
    assert len(orphans) == 6
    left = sorted(os.listdir(out))
    assert left[0].startswith(".part-") and ".tmp-" in left[0]
    assert not left[0].endswith(".parquet")
    assert left[1:] == ["part-%019d-sparc.parquet" % 0, "stripes"]
    assert [os.path.basename(p) for p in manifest.paths(out)] == left[1:2]
    assert sorted(encode_job.completed_stripes(spark, out)) == [
        u * encode_job.INPUT_SPLIT_SPACE for u in range(3)
    ]

    res = encode_job.run_encode_paths(
        spark, src, out, target_rows_per_stripe=PER, fingerprint="fp"
    )
    assert res["skipped"] == 3 and res["n_units"] == 3
    assert _stripe_bytes(out) == orphans
    assert sorted(encode_job.completed_stripes(spark, out)) == [
        u * encode_job.INPUT_SPLIT_SPACE for u in range(6)
    ]
    urls = [r[0] for r in decode_job.run_decode(spark, out, columns=["url"]).collect()]
    assert sorted(urls) == sorted(pq.read_table(src, columns=["url"])["url"].to_pylist())


def test_hidden_and_temp_files_are_not_manifest(spark, tmp_path):
    """A leftover temp manifest and a hidden ``.x.parquet`` — both real
    parquet files of FOOTER rows — are ignored by decode, ``sparc.tools``
    and resume: one listing rule everywhere."""
    df = spark.read.parquet(str(_pages(tmp_path)))
    out = str(tmp_path / "streams")
    encode_job.run_encode(df, out, n_stripes=4, n_partitions=2)
    committed = manifest.paths(out)
    assert 0 < len(committed) <= 2
    shutil.copy(committed[0], os.path.join(out, ".x.parquet"))
    shutil.copy(
        committed[0],
        os.path.join(out, ".part-%019d-sparc.tmp-123-abc" % 0),
    )
    assert manifest.paths(out) == committed
    assert decode_job._manifest_paths(out) == committed
    assert decode_job.run_decode(spark, out).count() == 2000
    assert tools.meta(out)["rows"] == 2000
    assert tools.meta(out)["stripe_count"] == 4
    assert encode_job._resume_count(spark, out, "", "hash key=url n_stripes=4") == 4
    res = encode_job.run_encode(df, out, n_stripes=4, n_partitions=2)
    assert res["skipped"] == 4
    assert manifest.paths(out) == committed


def test_compact_refuses_its_own_source(tmp_path):
    """Compaction replaces the output's manifest files, so an output that
    is also a source is refused before anything is read or removed."""
    from sparc.job import compact_job

    d = str(tmp_path / "streams")
    with pytest.raises(ValueError, match="into itself"):
        compact_job.compact(None, [str(tmp_path / "other"), d + "/"], d)


def _pages(tmp_path):
    p = tmp_path / "pages.parquet"
    pages.write_parquet(str(p), 2000, seed=5)
    return p


def test_footers_of_a_dir_without_manifest_skip_spark(spark, tmp_path, monkeypatch):
    """An absent dir, or one holding only stripe files and a temp
    manifest, has no committed footers; deciding that lists the dir and
    never calls ``spark.read``."""
    from pyspark.sql import SparkSession

    def no_read(_self):
        raise AssertionError("spark.read called")

    monkeypatch.setattr(SparkSession, "read", property(no_read))
    absent = str(tmp_path / "absent")
    assert encode_job._footers(spark, absent) is None
    assert encode_job._resume_count(spark, absent, "", "p") == 0
    assert encode_job.completed_stripes_df(spark, absent) is None
    os.makedirs(os.path.join(absent, "stripes"))
    open(os.path.join(absent, "stripes", "0.sparc"), "wb").close()
    open(os.path.join(absent, ".part-%019d-sparc.tmp-1-a" % 0), "wb").close()
    assert encode_job._footers(spark, absent) is None


# -- static check: Spark only schedules the engine's jobs -----------------

JOB_FILES = sorted(glob.glob(os.path.join(REPO, "sparc", "job", "*.py"))) + [
    os.path.join(REPO, "sparc", "streaming", "ingest.py")
]


def _chain(node) -> list[str]:
    """Attribute names along a call/attribute chain, outermost first."""
    names = []
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Call):
            node = node.func
        else:
            names.append(node.attr)
            node = node.value
    return names


def _writer_uses(tree) -> tuple[int, list[str]]:
    """(noop sinks, other writer uses) in one module's AST."""
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    noop, bad = 0, []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr == "writeTo":
            bad.append(f"{node.lineno}: .writeTo")
        elif isinstance(node, ast.Attribute) and node.attr == "write":
            outer = parents.get(node)
            if isinstance(outer, ast.Call) and outer.func is node:
                continue  # f.write(blob): a file, not a DataFrameWriter
            call = parents.get(outer)
            if (
                isinstance(outer, ast.Attribute) and outer.attr == "format"
                and isinstance(call, ast.Call)
                and [getattr(a, "value", None) for a in call.args] == ["noop"]
            ):
                noop += 1
            else:
                bad.append(f"{node.lineno}: .write")
        elif (
            isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet" and "write" in _chain(node.func.value)
        ):
            bad.append(f"{node.lineno}: .{node.func.attr}(")
    return noop, bad


def test_no_spark_writer_in_engine_jobs():
    """The encode, ingest and compact jobs commit their own manifest:
    the one ``format("noop")`` sink (``manifest.run``) is the only
    DataFrameWriter left, and no ``.parquet(`` call writes."""
    noop, bad = 0, []
    for path in JOB_FILES:
        n, found = _writer_uses(ast.parse(pathlib.Path(path).read_text(), filename=path))
        noop += n
        rel = os.path.relpath(path, REPO)
        bad += [f"{rel}:{b}" for b in found]
    assert noop == 1, "manifest.run no longer ends in the noop sink"
    assert not bad, "commit manifests with sparc.job.manifest:\n" + "\n".join(bad)


def test_writer_check_sees_writers():
    writers = ast.parse(
        "df.write.mode('append').parquet(d)\n"
        "df.write.format('parquet').save(d)\n"
        "df.writeTo('t').append()\n"
        "w = df.write\n"
        "spark.read.schema(s).parquet(d)\n"
        "f.write(b'x')\n"
        "df.write.format('noop').mode('overwrite').save()\n"
    )
    noop, bad = _writer_uses(writers)
    assert noop == 1
    assert sorted(b.split(":")[0] for b in bad) == ["1", "1", "2", "3", "4"]
