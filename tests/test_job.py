"""End-to-end Spark job tests: encode → streams table → decode, resume,
projection.  (The distributed analog of TestVectorOrcFile.)"""

from __future__ import annotations

import glob
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparc.fixtures import pages
from sparc.job import decode_job, encode_job, partition

N_ROWS = 6000


@pytest.fixture(scope="module")
def pages_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("data") / "pages.parquet"
    pages.write_parquet(str(p), N_ROWS, seed=42)
    return str(p)


def _compare_roundtrip(spark, src_df, streams_dir, **decode_kw):
    decoded = decode_job.run_decode(spark, streams_dir, **decode_kw)
    left = src_df.toPandas().sort_values("url").reset_index(drop=True)
    right = decoded.toPandas().sort_values("url").reset_index(drop=True)
    assert len(left) == len(right)
    for col in left.columns:
        if col not in right.columns:
            continue
        l, r = left[col], right[col]
        if l.dtype == object:
            assert l.equals(r), f"column {col} mismatch"
        else:
            assert (l == r).all() or l.equals(r), f"column {col} mismatch"
    return decoded


def test_encode_decode_roundtrip(spark, pages_path, tmp_path):
    df = spark.read.parquet(pages_path)
    out = str(tmp_path / "streams")
    res = encode_job.run_encode(
        df, out, n_stripes=6,
        sort_within=["lang", "warc_ts"], fingerprint="pages@42",
    )
    assert res["n_stripes"] == 6 and res["skipped"] == 0
    _compare_roundtrip(spark, df, out, verify_crc=True)


def test_resume_skips_completed(spark, pages_path, tmp_path):
    df = spark.read.parquet(pages_path)
    out = str(tmp_path / "streams")
    encode_job.run_encode(df, out, n_stripes=4)
    n_rows_1 = spark.read.parquet(out).count()
    res2 = encode_job.run_encode(df, out, n_stripes=4)
    assert res2["skipped"] == 4
    assert spark.read.parquet(out).count() == n_rows_1  # nothing re-encoded


def test_resume_plan_has_no_isin_literal(spark, pages_path, tmp_path):
    """The resume set must reach the plan as an anti-join, never as a
    collected ``isin`` literal (which scales with stripe count: at 10^7
    stripes that is a multi-GB plan and a driver bottleneck)."""
    from pyspark.sql import functions as F

    from sparc.job import partition as part_mod

    df = spark.read.parquet(pages_path)
    out = str(tmp_path / "streams")
    encode_job.run_encode(df, out, n_stripes=4)
    done_df = encode_job.completed_stripes_df(spark, out)
    staged = part_mod.with_hash_stripes(df, "url", 4).join(
        done_df, part_mod.STRIPE_COL, "left_anti"
    )
    plan = staged._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" in plan
    assert " IN (" not in plan and "isin" not in plan.lower()


def test_resume_after_partial_failure(spark, pages_path, tmp_path):
    df = spark.read.parquet(pages_path)
    out = str(tmp_path / "streams")
    encode_job.run_encode(df, out, n_stripes=6, n_partitions=6)
    # simulate a lost task: remove the largest committed part file (an
    # empty-partition file would delete nothing)
    part_files = sorted(glob.glob(os.path.join(out, "part-*")), key=os.path.getsize)
    os.remove(part_files[-1])
    done_before = set(encode_job.completed_stripes(spark, out))
    assert len(done_before) < 6
    res = encode_job.run_encode(df, out, n_stripes=6, n_partitions=6)
    assert res["skipped"] == len(done_before)
    assert len(encode_job.completed_stripes(spark, out)) == 6
    _compare_roundtrip(spark, df, out)


@pytest.fixture(scope="module")
def other_pages_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("data_b") / "pages.parquet"
    pages.write_parquet(str(p), N_ROWS, seed=7)
    return str(p)


def _urls(spark, streams_dir):
    return {r[0] for r in decode_job.run_decode(spark, streams_dir, columns=["url"]).collect()}


def test_resume_refuses_another_fingerprint(spark, pages_path, other_pages_path, tmp_path):
    """Hash stripe ids are buckets, not rows: resuming a dir encoded from
    input A with input B would skip every bucket and decode A's rows."""
    out = str(tmp_path / "streams")
    encode_job.run_encode(spark.read.parquet(pages_path), out, n_stripes=4, fingerprint="A")
    before = _urls(spark, out)
    with pytest.raises(ValueError, match=f"{out}.*fingerprint 'A'.*'B'"):
        encode_job.run_encode(
            spark.read.parquet(other_pages_path), out, n_stripes=4, fingerprint="B"
        )
    assert _urls(spark, out) == before  # nothing appended


def test_resume_refuses_another_stripe_count(spark, pages_path, tmp_path):
    """Bucket i of 4 and bucket i of 6 hold different rows: extending a
    4-stripe dir to 6 stripes would duplicate some rows and drop others."""
    df = spark.read.parquet(pages_path)
    out = str(tmp_path / "streams")
    encode_job.run_encode(df, out, n_stripes=4)
    with pytest.raises(
        ValueError, match=f"{out}.*'hash key=url n_stripes=4'.*'hash key=url n_stripes=6'"
    ):
        encode_job.run_encode(df, out, n_stripes=6)
    with pytest.raises(ValueError, match="'hash key=lang n_stripes=4'"):
        encode_job.run_encode(df, out, key="lang", n_stripes=4)
    assert decode_job.run_decode(spark, out).count() == N_ROWS


def test_pyscan_resume_refuses_another_fingerprint_or_target(
    spark, pages_path, other_pages_path, tmp_path
):
    """Pyscan ids are (unit, chunk) positions: another input would
    overwrite stripe files that committed footers still point at, and
    another stripe target re-cuts the units."""
    out = str(tmp_path / "streams")
    encode_job.run_encode_paths(
        spark, pages_path, out, target_rows_per_stripe=1500, fingerprint="A"
    )
    files = {
        p: os.path.getmtime(p) for p in glob.glob(os.path.join(out, "stripes", "*"))
    }
    with pytest.raises(ValueError, match=f"{out}.*fingerprint 'A'.*'B'"):
        encode_job.run_encode_paths(
            spark, other_pages_path, out, target_rows_per_stripe=1500, fingerprint="B"
        )
    with pytest.raises(
        ValueError,
        match=f"{out}.*'pyscan target_rows_per_stripe=1500'.*"
        "'pyscan target_rows_per_stripe=1000'",
    ):
        encode_job.run_encode_paths(
            spark, pages_path, out, target_rows_per_stripe=1000, fingerprint="A"
        )
    assert {
        p: os.path.getmtime(p) for p in glob.glob(os.path.join(out, "stripes", "*"))
    } == files  # no stripe file rewritten
    assert decode_job.run_decode(spark, out).count() == N_ROWS


def test_resume_refuses_footers_without_a_plan(spark, pages_path, tmp_path):
    """Footers written before stripe plans were recorded cannot prove
    their plan, so resume refuses them rather than guess."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    df = spark.read.parquet(pages_path)
    out = str(tmp_path / "streams")
    encode_job.run_encode(df, out, n_stripes=4)
    for part in glob.glob(os.path.join(out, "part-*.parquet")):
        t = pq.read_table(part)
        data = []
        for blob in t["data"].to_pylist():
            footer = json.loads(blob)
            del footer["stripe_plan"]
            data.append(json.dumps(footer).encode())
        pq.write_table(t.set_column(3, "data", pa.array(data, t["data"].type)), part)
    with pytest.raises(ValueError, match=f"{out}.*stripe plan '\\(none\\)'"):
        encode_job.run_encode(df, out, n_stripes=4)
    assert decode_job.run_decode(spark, out).count() == N_ROWS


def test_resume_check_adds_no_spark_job(spark, pages_path, tmp_path):
    """The fingerprint and plan check rides in the aggregate that counts
    the done set: it runs no more Spark jobs than counting the distinct
    committed stripe ids alone, and none when the dir does not exist."""
    st = spark.sparkContext.statusTracker()

    def jobs(fn):
        before = set(st.getJobIdsForGroup(None) or [])
        fn()
        return len(set(st.getJobIdsForGroup(None) or []) - before)

    out = str(tmp_path / "streams")
    assert jobs(lambda: encode_job._resume_count(spark, out, "", "p")) == 0
    encode_job.run_encode(spark.read.parquet(pages_path), out, n_stripes=4)
    plan = "hash key=url n_stripes=4"
    count_only = jobs(lambda: encode_job.completed_stripes_df(spark, out).count())
    assert jobs(lambda: encode_job._resume_count(spark, out, "", plan)) <= count_only


def test_decode_projection(spark, pages_path, tmp_path):
    df = spark.read.parquet(pages_path)
    out = str(tmp_path / "streams")
    encode_job.run_encode(df, out, n_stripes=4)
    dec = decode_job.run_decode(spark, out, columns=["url", "lang"])
    assert dec.columns == ["url", "lang"]
    assert dec.count() == N_ROWS


def test_metrics_lineage(spark, pages_path, tmp_path):
    df = spark.read.parquet(pages_path)
    out = str(tmp_path / "streams")
    encode_job.run_encode(df, out, n_stripes=4, fingerprint="fp-1")
    m = encode_job.read_metrics(spark, out).toPandas()
    assert len(m) == 4
    assert (m["input_fingerprint"] == "fp-1").all()
    assert m["n_rows"].sum() == N_ROWS


def test_stripe_count_estimator():
    assert partition.pick_stripe_count(10**6, 10 << 30) == (10 << 30) // (128 << 20)
    assert partition.pick_stripe_count(100, 100) == 1


def test_files_sink_roundtrip(spark, pages_path, tmp_path):
    """files sink: workers write stripe files directly; only footers flow
    through Arrow into the manifest — decode must read spans back
    bit-identically, with crc verification."""
    df = spark.read.parquet(pages_path)
    out = str(tmp_path / "streams")
    res = encode_job.run_encode(
        df, out, n_stripes=4,
        bloom_columns=["url"],
    )
    assert res["n_stripes"] == 4
    # the manifest holds ONLY footer rows; blobs live in stripe files
    manifest = spark.read.schema(encode_job.STREAMS_SCHEMA).parquet(out)
    kinds = {r[0] for r in manifest.select("kind").distinct().collect()}
    assert kinds == {"FOOTER"}
    files = glob.glob(os.path.join(out, "stripes", "*.sparc"))
    assert len(files) == 4
    assert not glob.glob(os.path.join(out, "stripes", "*.tmp-*"))
    _compare_roundtrip(spark, df, out, verify_crc=True)


def test_files_sink_orphan_stripe_file_resume(spark, pages_path, tmp_path):
    """Crash window between the stripe-file rename and the footer commit:
    the orphaned stripe file is invisible garbage (no FOOTER row), and a
    resumed run re-encodes that stripe, atomically overwriting the
    orphan with identical bytes."""
    df = spark.read.parquet(pages_path)
    out = str(tmp_path / "streams")
    encode_job.run_encode(df, out, n_stripes=6,
                          n_partitions=6)
    # simulate the dead task: drop a committed footer part file while its
    # stripe files stay on disk (rename happened, manifest commit did not)
    part_files = sorted(glob.glob(os.path.join(out, "part-*")), key=os.path.getsize)
    os.remove(part_files[-1])
    done_before = set(encode_job.completed_stripes(spark, out))
    assert len(done_before) < 6
    orphans = {
        os.path.basename(p): os.path.getsize(p)
        for p in glob.glob(os.path.join(out, "stripes", "*.sparc"))
        if int(os.path.basename(p).split(".")[0]) not in done_before
    }
    assert orphans  # the crash really left invisible stripe files behind
    res = encode_job.run_encode(df, out, n_stripes=6,
                                n_partitions=6)
    assert res["skipped"] == len(done_before)
    assert set(encode_job.completed_stripes(spark, out)) == set(range(6))
    # the orphans were overwritten in place with identical content sizes
    for name, size in orphans.items():
        assert os.path.getsize(os.path.join(out, "stripes", name)) == size
    assert not glob.glob(os.path.join(out, "stripes", "*.tmp-*"))
    _compare_roundtrip(spark, df, out, verify_crc=True)


def test_files_sink_projection_and_prune(spark, pages_path, tmp_path):
    df = spark.read.parquet(pages_path)
    out = str(tmp_path / "streams")
    encode_job.run_encode(
        df, out, n_stripes=4,
        bloom_columns=["url"],
    )
    dec = decode_job.run_decode(spark, out, columns=["url", "lang"])
    assert dec.columns == ["url", "lang"]
    assert dec.count() == N_ROWS
    # stripe pruning via footer stats + row filter end-to-end
    some_url = df.select("url").limit(1).collect()[0][0]
    got = decode_job.run_decode(
        spark, out, stripe_filter=("=", "url", some_url), row_filter=True,
    )
    assert got.filter(got.url == some_url).count() == 1
    # bloom stripe pruning reads byte ranges from the stripe files
    kept = decode_job.prune_stripes_bloom(spark, out, "url", some_url)
    all_ids = decode_job.prune_stripes_bloom(spark, out, "url", "definitely-absent-url")
    assert len(all_ids) < len(kept) or len(kept) < 4  # something pruned
    assert len(kept) >= 1


def test_files_sink_compact_zero_copy(spark, pages_path, tmp_path):
    """Compacting files-sink manifests moves no stream bytes: footers are
    re-pointed at the original stripe files (appendStripe semantics)."""
    from sparc.job import compact_job

    df = spark.read.parquet(pages_path)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    encode_job.run_encode(df.limit(3000), a, n_stripes=2)
    encode_job.run_encode(df.limit(3000), b, n_stripes=2)
    out = str(tmp_path / "merged")
    res = compact_job.compact(spark, [a, b], out)
    assert res["n_stripes"] == 4
    dec = decode_job.run_decode(spark, out)
    assert dec.count() == 6000  # 3000 rows from each source
    # no stripe files copied into the merged dir
    assert not glob.glob(os.path.join(out, "stripes", "*"))


def test_encode_from_catalog_table(spark, pages_path, tmp_path):
    """Catalog-agnostic input: any table Spark can resolve (session
    catalog here; an Iceberg catalog on a real cluster — no Iceberg
    runtime ships in this sandbox) feeds run_encode through the same
    DataFrame surface `scripts/encode_submit.py --input <table>` uses."""
    spark.read.parquet(pages_path).createOrReplaceTempView("pages_v")
    df = spark.read.table("pages_v")
    out = str(tmp_path / "streams")
    encode_job.run_encode(df, out, target_rows_per_stripe=2000, resume=False)
    assert decode_job.run_decode(spark, out).count() == N_ROWS


def test_pyscan_encode_roundtrip_and_resume(spark, pages_path, tmp_path):
    """Direct-scan encode (workers pyarrow-read distributed file paths,
    JVM never touches the data): round-trip, and a resume skips every
    committed stripe."""
    df = spark.read.parquet(pages_path)
    out = str(tmp_path / "streams")
    res = encode_job.run_encode_paths(
        spark, pages_path, out,
        target_rows_per_stripe=1500, fingerprint="pages@42",
    )
    assert res["n_files"] >= 1
    _compare_roundtrip(spark, df, out)
    n_files = len(glob.glob(os.path.join(out, "stripes", "*.sparc")))
    assert n_files >= 4
    res2 = encode_job.run_encode_paths(
        spark, pages_path, out,
        target_rows_per_stripe=1500, fingerprint="pages@42",
    )
    assert res2["skipped"] == n_files
    assert len(glob.glob(os.path.join(out, "stripes", "*.sparc"))) == n_files
    assert decode_job.run_decode(spark, out).count() == N_ROWS


def test_pyscan_row_group_units(spark, tmp_path):
    """Scan units split BELOW file granularity: a single file with many
    row groups fans out to multiple units (the Iceberg-scan-task shape —
    parallelism must not be capped by file count), and each worker reads
    only its assigned row-group range.  Round-trip + resume stay exact."""
    import pyarrow.parquet as pq

    src = str(tmp_path / "one_big_file.parquet")
    table = pages.generate(N_ROWS, seed=42)
    pq.write_table(table, src, row_group_size=1000)  # 6 row groups
    out = str(tmp_path / "streams")
    res = encode_job.run_encode_paths(
        spark, src, out, target_rows_per_stripe=1500, fingerprint="pages@42",
    )
    assert res["n_files"] == 1
    assert res["n_units"] == 3  # greedy 2-row-group packs (2000 rows >= 1500)
    df = spark.read.parquet(src)
    _compare_roundtrip(spark, df, out)
    n_stripes = len(glob.glob(os.path.join(out, "stripes", "*.sparc")))
    # one FULL stripe per 2000-row unit (2000 < 2*target: no runt cut)
    assert n_stripes == 3
    res2 = encode_job.run_encode_paths(
        spark, src, out, target_rows_per_stripe=1500, fingerprint="pages@42",
    )
    assert res2["skipped"] == n_stripes
    assert decode_job.run_decode(spark, out).count() == N_ROWS


def test_pyscan_encode_is_single_stage(spark, tmp_path):
    """A driver-planned pyscan encode must run as ONE Spark job with ONE
    stage: no count() job over the unit plan, no repartition exchange —
    the per-run fixed cost that multiplies at 1000-executor scale
    (round-5: removing both cut the 3 GiB XL wall ~40%% same-window).
    Balance comes from round-robin-interleaved unit rows in the Arrow
    LocalTableScan's contiguous slices (the files-sink decode trick), so
    6 units fan out over min(6, cores) tasks and none of them is empty."""
    import pyarrow.parquet as pq

    src = str(tmp_path / "pages.parquet")
    pq.write_table(pages.generate(N_ROWS, seed=42), src, row_group_size=1000)
    st = spark.sparkContext.statusTracker()
    out = str(tmp_path / "streams")
    before = set(st.getJobIdsForGroup(None) or [])
    res = encode_job.run_encode_paths(
        spark, src, out,
        target_rows_per_stripe=1000, fingerprint="pages@42", resume=False,
    )
    assert res["n_units"] == 6  # one unit per 1000-row row group
    new_jobs = sorted(set(st.getJobIdsForGroup(None) or []) - before)
    assert len(new_jobs) == 1, f"expected 1 job, ran {len(new_jobs)}"
    info = st.getJobInfo(new_jobs[0])
    stages = [s for s in (st.getStageInfo(i) for i in info.stageIds) if s]
    assert len(stages) == 1, f"expected 1 stage, got {len(stages)}"
    # and the single stage actually fanned out across cores
    n_tasks = stages[0].numTasks
    assert n_tasks > 1
    assert n_tasks == min(6, spark.sparkContext.defaultParallelism)
    # no empty task: each task commits its footers as one part file, and
    # an empty task writes none
    assert len(glob.glob(os.path.join(out, "part-*"))) == n_tasks
    assert decode_job.run_decode(spark, out).count() == N_ROWS


def test_resume_never_collects_done_ids_at_1e6_stripes(spark, pages_path, tmp_path, monkeypatch):
    """Round-3 item #4: resume must be plan-side on EVERY path.  A
    synthetic manifest with 10^6 committed footers (spread over 10^6
    distinct groups) resumes a pyscan encode with (a) zero calls to
    the driver-side id collector and (b) flat driver-Python memory — a
    collected frozenset of 10^6 ids would be ~64 MB+ and a 1 GiB-class
    driver burden at 10^7."""
    import json
    import tracemalloc

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = str(tmp_path / "streams")
    os.makedirs(out)
    n = 1_000_000
    blob = json.dumps({
        "input_fingerprint": "big",
        "stripe_plan": "pyscan target_rows_per_stripe=1500",
    }).encode()
    t = pa.table({
        "stripe_id": pa.array(
            np.arange(n, dtype=np.int64) * encode_job.INPUT_SPLIT_SPACE
        ),
        "column": pa.array([""] * n),
        "kind": pa.array(["FOOTER"] * n),
        "data": pa.array([blob] * n, pa.binary()),
    })
    pq.write_table(t, os.path.join(out, "part-00000-synthetic.parquet"))

    def boom(*a, **k):
        raise AssertionError("resume path collected done ids to the driver")

    monkeypatch.setattr(encode_job, "completed_stripes", boom)
    tracemalloc.start()
    res = encode_job.run_encode_paths(
        spark, pages_path, out, target_rows_per_stripe=1500,
        fingerprint="big", resume=True,
    )
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert res["skipped"] == n
    # every unit's group is in the done set -> nothing encoded
    assert res["n_units"] == 0
    assert peak < 50 * 1024 * 1024, f"driver allocated {peak/1e6:.0f} MB during resume"


def test_pyscan_resume_is_plan_side(spark, pages_path, tmp_path, monkeypatch):
    """The pyscan resume path must anti-join the unit plan, never collect
    done ids."""
    out = str(tmp_path / "streams")
    encode_job.run_encode_paths(
        spark, pages_path, out, target_rows_per_stripe=1500,
        fingerprint="pages@42",
    )
    n_stripes = len(glob.glob(os.path.join(out, "stripes", "*.sparc")))

    def boom(*a, **k):
        raise AssertionError("pyscan resume collected done ids to the driver")

    monkeypatch.setattr(encode_job, "completed_stripes", boom)
    res2 = encode_job.run_encode_paths(
        spark, pages_path, out, target_rows_per_stripe=1500,
        fingerprint="pages@42",
    )
    assert res2["skipped"] == n_stripes
    assert res2["n_units"] == 0  # every unit anti-joined away
    assert len(glob.glob(os.path.join(out, "stripes", "*.sparc"))) == n_stripes


def _spy_encode_plans(spark, monkeypatch) -> list[str]:
    """Record the physical plan of every DataFrame handed to mapInArrow
    (the encode's unit plan)."""
    DataFrame = type(spark.range(1))  # the concrete (classic) class
    plans: list[str] = []
    real = DataFrame.mapInArrow

    def spy(self, *a, **k):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return real(self, *a, **k)

    monkeypatch.setattr(DataFrame, "mapInArrow", spy)
    return plans


def test_pyscan_resume_after_partial_failure_rebalances(
    spark, tmp_path, monkeypatch
):
    """A resumed pyscan plan must leave the balanced (exchange-free) path:
    the units still to do sit in the LocalTableScan slices of the tasks
    that died, so without the round-robin exchange they would run on a
    few cores.  The resumed run still completes every stripe."""
    import pyarrow.parquet as pq

    src = str(tmp_path / "pages.parquet")
    pq.write_table(pages.generate(N_ROWS, seed=42), src, row_group_size=1000)
    out = str(tmp_path / "streams")
    plans = _spy_encode_plans(spark, monkeypatch)
    encode_job.run_encode_paths(
        spark, src, out, target_rows_per_stripe=1500, fingerprint="pages@42",
    )
    all_stripes = set(encode_job.completed_stripes(spark, out))
    part_files = sorted(glob.glob(os.path.join(out, "part-*")), key=os.path.getsize)
    os.remove(part_files[-1])  # a lost task: its footers never committed
    done_before = set(encode_job.completed_stripes(spark, out))
    assert set() < done_before < all_stripes
    res = encode_job.run_encode_paths(
        spark, src, out, target_rows_per_stripe=1500, fingerprint="pages@42",
    )
    assert res["skipped"] == len(done_before)
    assert set(encode_job.completed_stripes(spark, out)) == all_stripes
    # the resumed plan also broadcasts the done groups; the rebalancing
    # exchange is the repartition(n) one
    assert len(plans) == 2
    assert "REPARTITION_BY_NUM" not in plans[0]  # fresh run: balanced
    assert "REPARTITION_BY_NUM" in plans[1]


def test_pyscan_explicit_n_partitions_uses_exchange(
    spark, pages_path, tmp_path, monkeypatch
):
    """Any explicit n_partitions opts out of the balanced path, even one
    equal to the default parallelism: the caller asked for that many
    tasks, which only the exchange guarantees."""
    plans = _spy_encode_plans(spark, monkeypatch)
    encode_job.run_encode_paths(
        spark, pages_path, str(tmp_path / "streams"),
        target_rows_per_stripe=1500, fingerprint="pages@42", resume=False,
        n_partitions=spark.sparkContext.defaultParallelism,
    )
    assert len(plans) == 1 and "REPARTITION_BY_NUM" in plans[0]


def test_unit_frames_are_local_table_scans(spark, pages_path, tmp_path, monkeypatch):
    """Every unit list the engine distributes is a JVM-only Arrow
    LocalTableScan.  A ``Scan ExistingRDD`` over a Python list would run
    a hidden Python stage (a second worker pool re-serializing the rows)
    ahead of every task of the job."""
    plans = _spy_encode_plans(spark, monkeypatch)
    out = str(tmp_path / "streams")
    encode_job.run_encode_paths(
        spark, pages_path, out,
        target_rows_per_stripe=1500, fingerprint="pages@42", resume=False,
    )
    decode_job.run_decode(spark, out)
    assert len(plans) == 2  # the encode's units, the decode's units
    for distributed in (False, True):
        units = encode_job._plan_units(
            spark, [pages_path], 1500, distributed=distributed
        )
        plans.append(units._jdf.queryExecution().executedPlan().toString())
    for plan in plans:
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


@pytest.mark.parametrize("n_units", [1, 3, 8, 40])
def test_units_reach_tasks_round_robin(spark, tmp_path, monkeypatch, n_units):
    """A driver-planned encode runs min(units, cores) tasks, and each
    task receives its contiguous slice of the round-robin interleave:
    task j holds units j, j + tasks, ... of the plan."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark import TaskContext

    src = str(tmp_path / "pages.parquet")
    pq.write_table(pages.generate(10 * n_units, seed=7), src, row_group_size=10)
    DataFrame = type(spark.range(1))
    captured = []

    class Captured(Exception):
        pass

    def capture(self, *a, **k):
        captured.append(self)
        raise Captured

    monkeypatch.setattr(DataFrame, "mapInArrow", capture)
    with pytest.raises(Captured):
        encode_job.run_encode_paths(
            spark, src, str(tmp_path / "streams"),
            target_rows_per_stripe=10, resume=False,
        )
    monkeypatch.undo()

    def tag(batches):
        task = TaskContext.get().partitionId()
        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [pa.array([task] * b.num_rows, pa.int32()), b.column("idx")],
                names=["task", "idx"],
            )

    got: dict[int, list[int]] = {}
    for r in captured[0].mapInArrow(tag, "task int, idx long").collect():
        got.setdefault(r.task, []).append(r.idx)
    ids = [idx for idx, *_ in encode_job._plan_units_rows([src], 10)]
    assert len(ids) == n_units
    n_tasks = min(n_units, spark.sparkContext.defaultParallelism)
    rr = partition.round_robin(ids, n_tasks)
    assert got == {
        j: rr[j * n_units // n_tasks:(j + 1) * n_units // n_tasks]
        for j in range(n_tasks)
    }
    assert got == {j: ids[j::n_tasks] for j in range(n_tasks)}


def test_distributed_unit_planning_many_files(spark, tmp_path, monkeypatch):
    """Round-3 item #5: unit planning distributes the footer-metadata
    reads.  With 10^3 files the driver opens ZERO parquet files (poisoned
    ParquetFile in the driver process; workers are separate processes),
    and the distributed plan's unit ids equal the driver-mode plan's."""
    import pyarrow.parquet as pq

    from sparc.fixtures import pages as pages_mod

    src = tmp_path / "many"
    os.makedirs(src)
    tbl = pages_mod.generate(20, seed=1)
    for i in range(1000):
        pq.write_table(tbl, str(src / f"f{i:04d}.parquet"))
    files = sorted(str(src / f) for f in os.listdir(src))

    # modes agree on ids before any poisoning
    a = sorted(
        tuple(r) for r in encode_job._plan_units(
            spark, files[:8], 2000, distributed=False
        ).collect()
    )
    b = sorted(
        tuple(r) for r in encode_job._plan_units(
            spark, files[:8], 2000, distributed=True
        ).collect()
    )
    assert a == b and len(a) == 8

    def boom(*a, **k):
        raise AssertionError("driver-side footer read during distributed planning")

    monkeypatch.setattr(pq, "ParquetFile", boom)
    units = encode_job._plan_units(spark, files, 2000)  # auto: distributed
    rows = units.collect()
    assert len(rows) == 1000
    ids = [r["idx"] for r in rows]
    assert len(set(ids)) == 1000
    assert all(r["rg_lo"] == 0 and r["rg_hi"] == 1 for r in rows)


def test_run_encode_units_iceberg_shape(spark, pages_path, tmp_path):
    """run_encode_units accepts a caller-supplied scan-task DataFrame
    (the Iceberg manifest shape) directly — same output as the
    path-planned run, resume included."""
    import pyarrow.parquet as pq

    files = sorted(
        os.path.join(pages_path, f) for f in os.listdir(pages_path)
        if f.endswith(".parquet")
    ) if os.path.isdir(pages_path) else [pages_path]
    rows = []
    for fidx, path in enumerate(files):
        md = pq.ParquetFile(path).metadata
        rows.extend(
            (idx, path, lo, hi)
            for idx, lo, hi in encode_job._pack_units(
                fidx, md.num_row_groups,
                lambda g, _md=md: _md.row_group(g).num_rows, 1500,
            )
        )
    units = spark.createDataFrame(rows, "idx long, path string, rg_lo int, rg_hi int")
    out = str(tmp_path / "streams")
    res = encode_job.run_encode_units(
        spark, units, out, target_rows_per_stripe=1500, fingerprint="pages@42",
    )
    assert res["n_units"] == len(rows)
    df = spark.read.parquet(pages_path)
    _compare_roundtrip(spark, df, out)
    n_stripes = len(glob.glob(os.path.join(out, "stripes", "*.sparc")))
    res2 = encode_job.run_encode_units(
        spark, units, out, target_rows_per_stripe=1500, fingerprint="pages@42",
    )
    assert res2["skipped"] == n_stripes and res2["n_units"] == 0


def test_manifest_planning_zero_file_opens_10k(spark, monkeypatch):
    """Round-4 verdict item #6: manifest-driven planning end-to-end with
    zero file opens.  10^4 manifest entries whose paths DO NOT EXIST —
    any footer read anywhere (driver or worker) would raise — and
    pq.ParquetFile additionally poisoned driver-side.  The plan must
    still pack units exactly as _pack_units would from the same
    metadata."""
    import pyarrow.parquet as pq

    n_files = 10_000
    manifest = spark.range(n_files).select(
        F.col("id").alias("fidx"),
        F.concat(F.lit("/nonexistent/iceberg/data/f"), F.col("id"), F.lit(".parquet"))
        .alias("path"),
        # 3 row groups of 1000/1500/500 rows per file (from the manifest,
        # never from a footer)
        F.array(F.lit(1000), F.lit(1500), F.lit(500)).cast("array<long>")
        .alias("rg_rows"),
    )

    def boom(*a, **k):
        raise AssertionError("file open during manifest planning")

    monkeypatch.setattr(pq, "ParquetFile", boom)
    units = encode_job.plan_units_from_manifest(spark, manifest, 2000)
    got = units.groupBy().agg(
        F.count("*").alias("n"),
        F.countDistinct("idx").alias("n_ids"),
        F.sum(F.col("rg_hi") - F.col("rg_lo")).alias("rgs"),
    ).collect()[0]
    # per file: greedy packing of [1000,1500,500] at per=2000 ->
    # [(0, rg 0..2), (1, rg 2..3)] = 2 units covering 3 row groups
    expected = [
        (0, 0, 2), (1, 2, 3),
    ]
    assert encode_job._pack_units(0, 3, [1000, 1500, 500].__getitem__, 2000) == [
        (0 * encode_job.UNIT_SPACE + u, lo, hi) for u, lo, hi in expected
    ]
    assert got["n"] == 2 * n_files
    assert got["n_ids"] == 2 * n_files
    assert got["rgs"] == 3 * n_files


def test_manifest_planning_id_parity_and_encode(spark, pages_path, tmp_path,
                                                monkeypatch):
    """Manifest-planned unit ids equal filesystem-planned ids for the
    same files, and run_encode_units over a manifest-built plan produces
    a round-trippable output with pq.ParquetFile poisoned on the driver
    (planning reads nothing; only encode workers touch data)."""
    import pyarrow.parquet as pq

    files = sorted(
        os.path.join(pages_path, f) for f in os.listdir(pages_path)
        if f.endswith(".parquet")
    ) if os.path.isdir(pages_path) else [pages_path]
    # the "manifest": per-file row-group row counts, read ONCE here to
    # synthesize what Iceberg's files table would carry
    mrows = []
    for fidx, path in enumerate(files):
        md = pq.ParquetFile(path).metadata
        mrows.append(
            (fidx, path,
             [md.row_group(g).num_rows for g in range(md.num_row_groups)])
        )
    manifest = spark.createDataFrame(
        mrows, "fidx long, path string, rg_rows array<long>"
    )

    fs_ids = sorted(
        tuple(r)
        for r in encode_job._plan_units(spark, files, 1500).collect()
    )

    def boom(*a, **k):
        raise AssertionError("driver-side file open with manifest planning")

    monkeypatch.setattr(pq, "ParquetFile", boom)
    units = encode_job.plan_units_from_manifest(spark, manifest, 1500)
    assert sorted(tuple(r) for r in units.collect()) == fs_ids

    out = str(tmp_path / "streams")
    res = encode_job.run_encode_units(
        spark, units, out, target_rows_per_stripe=1500,
        fingerprint="pages@42",
    )
    assert res["n_units"] == len(fs_ids)
    monkeypatch.undo()
    _compare_roundtrip(spark, spark.read.parquet(pages_path), out)


def test_manifest_planning_without_fidx_is_deterministic(spark):
    """fidx defaults to path order: two plans of the same manifest agree
    id-for-id even through the shuffle."""
    manifest = spark.createDataFrame(
        [(f"/data/part-{i:03d}.parquet", [700, 900]) for i in (3, 1, 2, 0)],
        "path string, rg_rows array<long>",
    )
    a = sorted(tuple(r) for r in
               encode_job.plan_units_from_manifest(spark, manifest, 1000).collect())
    b = sorted(tuple(r) for r in
               encode_job.plan_units_from_manifest(spark, manifest, 1000).collect())
    assert a == b
    # path order, not insertion order, defines fidx
    paths_by_fidx = [r[1] for r in sorted(a)]
    assert paths_by_fidx == sorted(paths_by_fidx)


def test_decode_map_compute_near_data(spark, pages_path, tmp_path):
    """run_decode_map: a vectorized transform runs on each decoded stripe
    inside the scan task; only its result crosses the Python->JVM
    boundary.  Checked against the same aggregate computed JVM-side over
    the fully-materialized decode, on both encode paths (pyscan and
    hash)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    df = spark.read.parquet(pages_path)
    out_pyscan = str(tmp_path / "streams_pyscan")
    encode_job.run_encode_paths(
        spark, pages_path, out_pyscan, target_rows_per_stripe=1500,
        fingerprint="pages@42",
    )
    out_hash = str(tmp_path / "streams_hash")
    encode_job.run_encode(
        df, out_hash, n_stripes=4, fingerprint="pages@42",
    )

    def octets(t: pa.Table) -> pa.Table:
        total = 0
        for name in ("url", "html", "text", "lang"):
            col = t[name]
            if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
                col = pc.cast(col, pa.large_binary())
            total += pc.sum(pc.binary_length(col)).as_py() or 0
        return pa.table(
            {"octets": pa.array([total], pa.int64()),
             "rows": pa.array([t.num_rows], pa.int64())}
        )

    expect_rows = df.count()
    expect_octets = df.select(
        F.sum(
            sum(
                F.coalesce(F.octet_length(c), F.lit(0))
                for c in ("url", "html", "text", "lang")
            )
        )
    ).collect()[0][0]
    for out in (out_pyscan, out_hash):
        got = (
            decode_job.run_decode_map(
                spark, out, octets, "octets long, rows long"
            )
            .agg(F.sum("octets").alias("o"), F.sum("rows").alias("r"))
            .collect()[0]
        )
        assert got["r"] == expect_rows
        assert got["o"] == expect_octets


def test_decode_map_composes_with_pruning(spark, pages_path, tmp_path):
    """map_fn sees only the stripes/rows that survive stripe pruning and
    the projection: per-stripe row counts under a lang filter match the
    materialized pruned decode."""
    import pyarrow as pa

    df = spark.read.parquet(pages_path)
    out = str(tmp_path / "streams")
    encode_job.run_encode(
        df, out, n_stripes=4,
        sort_within=["lang", "warc_ts"], fingerprint="pages@42",
    )
    pred = ("eq", "lang", "en")

    def nrows(t: pa.Table) -> pa.Table:
        return pa.table({"rows": pa.array([t.num_rows], pa.int64())})

    got = (
        decode_job.run_decode_map(
            spark, out, nrows, "rows long",
            columns=["lang"], stripe_filter=pred,
        )
        .groupBy()
        .sum("rows")
        .collect()[0][0]
    )
    expect = decode_job.run_decode(
        spark, out, columns=["lang"], stripe_filter=pred
    ).count()
    assert got == expect


def test_decode_map_rejects_dataframe_side_options(spark, pages_path, tmp_path):
    import pyarrow as pa

    df = spark.read.parquet(pages_path)
    out = str(tmp_path / "streams")
    encode_job.run_encode(df, out, n_stripes=2)
    with pytest.raises(ValueError, match="map_fn"):
        decode_job.run_decode(
            spark, out, map_fn=lambda t: t, map_schema="rows long",
            cast_to={"lang": "string"},
        )
    with pytest.raises(ValueError, match="map_schema"):
        decode_job.run_decode(spark, out, map_fn=lambda t: t)


def test_decode_units_exactly_once_above_stripe_count(spark, pages_path, tmp_path, monkeypatch):
    """Task-path decode with a task count far above the stripe count: the
    planner's units are one per kept stripe, each decoded exactly once —
    no dropped or duplicated stripes, however the units are split over
    tasks (several stripes per manifest, data rows beside the footers)."""
    df = spark.read.parquet(pages_path)
    out = str(tmp_path / "streams")
    # few encode tasks -> few manifests, several stripes per manifest
    encode_job.run_encode(
        df, out, n_stripes=8, n_partitions=2,
    )
    manifests = glob.glob(os.path.join(out, "part-*"))
    assert 0 < len(manifests) <= 2
    monkeypatch.setattr(decode_job, "DRIVER_DECODE_BYTES", 0)
    assert len(decode_job.plan_read(out).units) == 8
    decoded = decode_job.run_decode(spark, out, n_partitions=64)
    assert decoded.rdd.getNumPartitions() == 8  # one task per unit
    _compare_roundtrip(spark, df, out, n_partitions=64)
    _compare_roundtrip(spark, df, out, n_partitions=3)


def test_schema_follows_a_rewritten_dir(spark, tmp_path):
    """Schema inference reads the dir as it is now: rewriting a streams dir
    with another schema changes the inferred schema and the decode."""
    import shutil

    out = str(tmp_path / "streams")
    ab = spark.createDataFrame([(1, 2)], "a long, b long")
    encode_job.run_encode(ab, out, key="a", resume=False)
    assert decode_job.infer_schema_ddl(spark, out) == "`a` long, `b` long"
    assert [tuple(r) for r in decode_job.run_decode(spark, out).collect()] == [(1, 2)]
    shutil.rmtree(out)
    x = spark.createDataFrame([(3,)], "x long")
    encode_job.run_encode(x, out, key="x", resume=False)
    assert decode_job.infer_schema_ddl(spark, out) == "`x` long"
    assert [tuple(r) for r in decode_job.run_decode(spark, out).collect()] == [(3,)]


def test_inline_blob_manifest_refused(spark, tmp_path):
    """A manifest whose footers name no stripe file (stream bytes inline in
    manifest rows, a layout no reader handles) is refused with a
    ValueError naming the dir and the stripe, not a worker KeyError."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    out = str(tmp_path / "inline")
    os.makedirs(out)
    footer = {"stripe_id": 7, "n_rows": 1, "columns": []}
    pq.write_table(
        pa.table({
            "stripe_id": pa.array([7, 7], pa.int64()),
            "column": ["url", ""],
            "kind": ["DATA", "FOOTER"],
            "data": pa.array([b"\x00", json.dumps(footer).encode()], pa.binary()),
        }),
        os.path.join(out, "part-00000.parquet"),
    )
    with pytest.raises(ValueError, match=f"{out}.*stripe 7 has no stripe_file"):
        decode_job.run_decode(spark, out)
    with pytest.raises(ValueError, match="stripe 7"):
        decode_job.infer_schema_ddl(spark, out)


def test_non_directory_streams_dir_refused(spark, tmp_path):
    missing = str(tmp_path / "missing")
    with pytest.raises(ValueError, match="missing.*not a directory"):
        decode_job.run_decode(spark, missing)
    a_file = tmp_path / "file.parquet"
    a_file.write_bytes(b"")
    with pytest.raises(ValueError, match="file.parquet.*not a directory"):
        decode_job.run_decode(spark, str(a_file))


def _batches(n_rows: int, size: int = 10):
    import pyarrow as pa

    return [
        pa.record_batch({"v": pa.array(range(i, min(i + size, n_rows)), pa.int64())})
        for i in range(0, n_rows, size)
    ]


def test_cut_stripes_ids_sizes_and_id_space(monkeypatch):
    """The shared stripe cut: mid-stream cuts only at >= 2*per buffered
    rows (the last stripe lands in [per, 2*per)), ids group*SPACE+local,
    and a group needing more than SPACE stripes raises — including on
    the final stripe, which would otherwise take the next group's first
    id."""
    cut = list(encode_job._cut_stripes(_batches(35), 10, 2))
    assert [t.num_rows for t, _ in cut] == [10, 10, 15]
    assert [sid for _, sid in cut] == [2 * encode_job.INPUT_SPLIT_SPACE + i for i in range(3)]
    assert [v for t, _ in cut for v in t["v"].to_pylist()] == list(range(35))
    monkeypatch.setattr(encode_job, "INPUT_SPLIT_SPACE", 4)
    cut = list(encode_job._cut_stripes(_batches(45), 10, 3))
    assert [sid for _, sid in cut] == [12, 13, 14, 15]  # exactly SPACE stripes
    with pytest.raises(ValueError, match="stripe group 3 exceeds 4 stripes"):
        list(encode_job._cut_stripes(_batches(50), 10, 3))


def test_pyscan_unit_overflow_raises(tmp_path, monkeypatch):
    """A pyscan unit cut into more stripes than the id space raises
    instead of writing stripe files under the next unit's ids."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparc import runtime

    src = str(tmp_path / "p.parquet")
    pq.write_table(pages.generate(50, seed=3), src, row_group_size=10)
    out = str(tmp_path / "streams")
    monkeypatch.setattr(encode_job, "INPUT_SPLIT_SPACE", 4)
    monkeypatch.setattr(runtime, "init_worker", lambda: None)
    fn = encode_job._encode_units_factory(out, 10, None, codec="zstd")
    unit = pa.record_batch({
        "idx": pa.array([0], pa.int64()), "path": [src],
        "rg_lo": pa.array([0], pa.int32()), "rg_hi": pa.array([5], pa.int32()),
    })
    with pytest.raises(ValueError, match="stripe group 0 exceeds 4 stripes"):
        list(fn(iter([unit])))
    written = sorted(os.listdir(os.path.join(out, "stripes")))
    assert written == [f"{i}.sparc" for i in range(4)]  # unit 1's id 4 untouched
