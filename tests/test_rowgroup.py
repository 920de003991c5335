"""Row-group (10k-row) index: per-group stats, segmented streams,
intra-stripe pruning (pickRowGroups + selective-segment decode)."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from sparc.engine import sarg, stripe
from sparc.fixtures import pages
from sparc.job import decode_job, encode_job

STRIDE = 1000  # small stride so fixtures get many groups


def _sorted_table(n=5500):
    rng = np.random.default_rng(3)
    ids = np.arange(n, dtype=np.int64)
    vals = np.sort(rng.integers(0, 10**6, n))
    txt = np.array([f"k{v:07d}" for v in vals], dtype=object)
    return pa.table(
        {
            "id": pa.array(ids),
            "v": pa.array(vals),
            "s": pa.array(txt.tolist(), pa.string()),
        }
    )


def test_footer_carries_row_index_and_segments():
    t = _sorted_table()
    streams, footer = stripe.encode_stripe(t, row_index_stride=STRIDE)
    assert footer["row_index_stride"] == STRIDE
    n_rgs = (t.num_rows + STRIDE - 1) // STRIDE
    for col in footer["columns"]:
        assert len(col["row_index"]) == n_rgs
        assert sum(e["n_rows"] for e in col["row_index"]) == t.num_rows
        assert "DATA" in col["segments"]
        assert len(col["segments"]["DATA"]) == n_rgs
    # per-group stats are tight on sorted data: group maxima increase
    v_idx = [c for c in footer["columns"] if c["name"] == "v"][0]["row_index"]
    maxes = [e["stats"]["max"] for e in v_idx]
    assert maxes == sorted(maxes)


def test_whole_decode_bit_identical():
    t = _sorted_table()
    streams, footer = stripe.encode_stripe(t, row_index_stride=STRIDE)
    out = stripe.decode_stripe(streams, footer)
    assert out.equals(t)


def test_selected_groups_decode_exactly_those_rows():
    t = _sorted_table()
    streams, footer = stripe.encode_stripe(t, row_index_stride=STRIDE)
    sel = [1, 3]
    out = stripe.decode_stripe(streams, footer, row_groups=sel)
    expect = pa.concat_tables([t.slice(1000, 1000), t.slice(3000, 1000)])
    assert out.equals(expect)
    # last, partial group alone
    out_last = stripe.decode_stripe(streams, footer, row_groups=[5])
    assert out_last.equals(t.slice(5000))


def test_pick_row_groups_prunes_with_stats():
    t = _sorted_table()
    _, footer = stripe.encode_stripe(t, row_index_stride=STRIDE)
    v_idx = [c for c in footer["columns"] if c["name"] == "v"][0]["row_index"]
    probe = v_idx[2]["stats"]["min"]
    sel = stripe.pick_row_groups(footer, ("=", "v", probe))
    assert sel is not None and 2 in sel
    # groups whose range excludes the probe are pruned
    for g, e in enumerate(v_idx):
        if e["stats"]["min"] > probe or e["stats"]["max"] < probe:
            assert g not in sel
    assert len(sel) < len(v_idx)
    # impossible predicate prunes everything
    assert stripe.pick_row_groups(footer, ("=", "v", -1)) == []
    # tautology returns None (decode whole, no slicing cost)
    assert stripe.pick_row_groups(footer, (">=", "v", -1)) is None


def test_list_and_map_columns_prune_on_nulls_only():
    """A list or map column's statistics bound its lengths, not its
    values: comparisons keep every group, ``is_null`` still prunes."""
    lens = [0, 1, 2, 3]  # group g's lists all hold g elements
    lists = [list(range(g)) for g in lens for _ in range(16)]
    maps = [[(str(k), k) for k in range(g)] for g in lens for _ in range(16)]
    lists[0] = maps[0] = None  # group 0 alone holds nulls
    t = pa.table({
        "tags": pa.array(lists, pa.list_(pa.int64())),
        "kv": pa.array(maps, pa.map_(pa.string(), pa.int64())),
    })
    _, footer = stripe.encode_stripe(t, row_index_stride=16)
    for col in ("tags", "kv"):
        assert stripe.pick_row_groups(footer, ("=", col, 2)) is None
        assert sarg.keep(("=", col, 99), stripe.footer_stats(footer, None))
        assert stripe.pick_row_groups(footer, ("is_null", col)) == [0]


def test_rowgroup_bloom_refutes_within_range():
    """Per-row-group blooms refute equality probes that min/max cannot:
    even values only, probed with an in-range odd value."""
    import pyarrow as pa

    evens = np.arange(0, 8000, 2, dtype=np.int64)  # 4000 rows, 4 groups
    t = pa.table({"v": pa.array(evens), "tag": pa.array([f"t{v}" for v in evens])})
    streams, footer = stripe.encode_stripe(
        t, row_index_stride=1000, bloom_columns=["v", "tag"]
    )
    # stats alone keep the group whose range covers the odd probe
    assert stripe.pick_row_groups(footer, ("=", "v", 999)) == [0]
    # bloom refutes it everywhere
    assert stripe.pick_row_groups(footer, ("=", "v", 999), streams=streams) == []
    # a present value keeps exactly its group
    sel = stripe.pick_row_groups(footer, ("=", "v", 2500 * 2), streams=streams)
    assert sel == [2]
    # string bloom probes work through dtype normalization
    sel = stripe.pick_row_groups(footer, ("=", "tag", "t5000"), streams=streams)
    assert sel == [2]
    assert stripe.pick_row_groups(footer, ("in", "tag", ["zz", "qq"]), streams=streams) == []
    # bloom NO is definite: NOT(=absent) keeps everything
    assert stripe.pick_row_groups(
        footer, ("not", ("=", "v", 999)), streams=streams
    ) is None


def test_rowgroup_roundtrip_with_nulls():
    rng = np.random.default_rng(9)
    n = 3210
    vals = rng.integers(-50, 50, n)
    mask = rng.random(n) < 0.3
    arr = pa.array([None if m else int(v) for m, v in zip(mask, vals)], pa.int64())
    txt = pa.array(
        [None if m else f"s{v}" for m, v in zip(~mask, vals)], pa.string()
    )
    ts = pa.array(
        [None if m else int(v) * 10**6 for m, v in zip(mask, vals)],
        pa.timestamp("us"),
    )
    flt = pa.array(
        [None if m else float(v) for m, v in zip(mask, vals)], pa.float64()
    )
    bl = pa.array([None if m else bool(v % 2) for m, v in zip(mask, vals)])
    t = pa.table({"a": arr, "s": txt, "ts": ts, "f": flt, "b": bl})
    streams, footer = stripe.encode_stripe(t, row_index_stride=STRIDE)
    assert stripe.decode_stripe(streams, footer).equals(t)
    # per-group null counts recorded and consistent
    a_idx = [c for c in footer["columns"] if c["name"] == "a"][0]["row_index"]
    assert sum(e["stats"]["n_nulls"] for e in a_idx) == arr.null_count
    # selective decode with nulls
    out = stripe.decode_stripe(streams, footer, row_groups=[0, 3])
    expect = pa.concat_tables([t.slice(0, STRIDE), t.slice(3 * STRIDE, 210)])
    assert out.equals(expect)


def test_misaligned_stride_rejected():
    """ADVICE r2: PRESENT segments concatenate per-group byte runs, sound
    only when each group packs to whole bytes — stride must be %8==0."""
    import pyarrow as pa
    import pytest

    from sparc.engine import stripe as stripe_mod

    arr = pa.array([1, None, 3] * 100)
    with pytest.raises(ValueError, match="multiple of 8"):
        stripe_mod.encode_column(arr, "c", stride=100)


def test_stride_none_emits_legacy_layout():
    t = _sorted_table(100)
    streams, footer = stripe.encode_stripe(t, row_index_stride=None)
    for col in footer["columns"]:
        assert "segments" not in col
    assert stripe.decode_stripe(streams, footer).equals(t)


def test_end_to_end_point_lookup_decodes_few_rows(spark, tmp_path):
    """The read-amplification contract: a narrow predicate over sorted
    stripes decodes only the surviving row groups' rows."""
    src = str(tmp_path / "pages.parquet")
    pages.write_parquet(src, 12000, seed=21)
    out = str(tmp_path / "streams")
    df = spark.read.parquet(src)
    encode_job.run_encode(
        df, out, n_stripes=2, sort_within=["url"],
        resume=False, row_index_stride=1000,
    )
    total = df.count()
    probe = df.orderBy("url").limit(1).collect()[0]["url"]
    pred = ("=", "url", probe)
    decoded = decode_job.run_decode(spark, out, stripe_filter=pred)
    got = decoded.count()
    # correctness: every matching row survives pruning
    assert decoded.filter(F.col("url") == probe).count() == \
        df.filter(F.col("url") == probe).count()
    # read amplification: far fewer rows than the table (each stripe is
    # ~6000 rows / 6 groups; a point probe keeps ~1 group per stripe)
    assert got <= total // 4, f"decoded {got} of {total} rows"


def test_rowgroup_prune_never_loses_rows_on_range(spark, tmp_path):
    src = str(tmp_path / "pages.parquet")
    pages.write_parquet(src, 8000, seed=22)
    out = str(tmp_path / "streams")
    df = spark.read.parquet(src)
    encode_job.run_encode(
        df, out, n_stripes=2, sort_within=["warc_ts"],
        resume=False, row_index_stride=1000,
    )
    secs = F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', warc_ts)")
    bounds = df.agg(
        F.expr(
            "percentile(timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', warc_ts), 0.4)"
        ).alias("lo"),
        F.expr(
            "percentile(timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', warc_ts), 0.6)"
        ).alias("hi"),
    ).collect()[0]
    # the whole seconds lo..hi in the microsecond stats domain: pruning is
    # row-granular, so the tree must cover every row the row filter keeps
    lo = int(bounds["lo"]) * 10**6
    hi = int(bounds["hi"]) * 10**6 + 999_999
    pred = ("between", "warc_ts", lo, hi)
    decoded = decode_job.run_decode(spark, out, stripe_filter=pred)
    dec_secs = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', warc_ts)"
    )
    row_pred = (secs >= int(bounds["lo"])) & (secs <= int(bounds["hi"]))
    dec_row_pred = (dec_secs >= int(bounds["lo"])) & (dec_secs <= int(bounds["hi"]))
    assert decoded.filter(dec_row_pred).count() == df.filter(row_pred).count()
    assert decoded.count() < df.count()
