from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("sparc-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        # worker reuse is NOT on by default in this Spark build; the
        # suite launches thousands of small Python-stage jobs
        .config("spark.python.worker.reuse", "true")
        .getOrCreate()
    )
    yield s
    s.stop()


def mixed_orc_table(n: int = 5_500, seed: int = 11):
    """Seeded table covering every column kind ``write_orc`` row-indexes:
    nulls at every level, direct strings and binary, timestamps (pre-1970
    and sub-second), dates, decimals, booleans, floats and
    struct/list/map/union columns."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)

    def nulls(p: float) -> np.ndarray:
        return rng.random(n) < p

    ints = rng.integers(-(10**9), 10**9, n)
    strs = [
        "s%d-%s" % (i, "x" * int(rng.integers(0, 40))) for i in range(n)
    ]
    ts_us = rng.integers(-(10**15), 2 * 10**15, n)
    ts_us[::7] -= ts_us[::7] % 1_000_000  # whole seconds: trailing-zero nanos
    dec = [
        None if z else f"{int(u)}.{int(f):04d}"
        for z, u, f in zip(
            nulls(0.1), rng.integers(-(10**12), 10**12, n), rng.integers(0, 10**4, n)
        )
    ]
    lens = rng.integers(0, 5, n)
    flat = rng.integers(0, 1000, int(lens.sum()))
    offs = np.concatenate(([0], np.cumsum(lens)))
    lists = [
        None if z else flat[offs[i] : offs[i + 1]].tolist()
        for i, z in enumerate(nulls(0.15))
    ]
    maps = [
        None if z else [(f"m{j % 5}", float(j) / 4) for j in range(i % 3)]
        for i, z in enumerate(nulls(0.1))
    ]
    structs = [
        None if z else {"a": int(a), "b": None if i % 6 == 0 else f"v{i}"}
        for i, (z, a) in enumerate(zip(nulls(0.12), rng.integers(0, 99, n)))
    ]
    tags = rng.integers(0, 2, n).astype(np.int8)
    u_offs = np.zeros(n, np.int32)
    for v in (0, 1):
        m = tags == v
        u_offs[m] = np.arange(int(m.sum()), dtype=np.int32)
    union = pa.UnionArray.from_dense(
        pa.array(tags, pa.int8()),
        pa.array(u_offs, pa.int32()),
        [
            pa.array(rng.integers(-500, 500, int((tags == 0).sum())), pa.int64()),
            pa.array([f"u{i % 13}" for i in range(int((tags == 1).sum()))]),
        ],
        ["i", "s"],
    )
    import decimal

    return pa.table(
        {
            "k": pa.array(np.arange(n), pa.int64()),
            "i": pa.array(ints.astype(np.int32) // 3, pa.int32(), mask=nulls(0.2)),
            "d": pa.array(rng.normal(size=n), pa.float64(), mask=nulls(0.1)),
            "f": pa.array(rng.normal(size=n).astype(np.float32), pa.float32()),
            "b": pa.array(rng.random(n) < 0.3, pa.bool_(), mask=nulls(0.25)),
            "s": pa.array(strs, pa.string(), mask=nulls(0.1)),
            "bin": pa.array([s.encode()[:9] for s in strs], pa.binary()),
            "ts": pa.array(ts_us, pa.timestamp("us"), mask=nulls(0.1)),
            "dt": pa.array(
                (ts_us // 86_400_000_000).astype(np.int32), pa.date32()
            ),
            "dec": pa.array(
                [None if v is None else decimal.Decimal(v) for v in dec],
                pa.decimal128(20, 4),
            ),
            "st": pa.array(
                structs, pa.struct([("a", pa.int64()), ("b", pa.string())])
            ),
            "lst": pa.array(lists, pa.list_(pa.int64())),
            "mp": pa.array(maps, pa.map_(pa.string(), pa.float64())),
            "u": union,
        }
    )


def stats_edge_table(n: int = 5_500, seed: int = 12):
    """Seeded table of the statistics corners, in row groups of 1,000:
    floats with NaN and ±inf in some groups only; int, bool and string
    columns whose rows 1,000-1,999 are all null; full-range int64 values,
    both extremes included; ``ns`` timestamps with sub-millisecond parts
    (pre-1970 too) and ``ms`` timestamps; and strings past the 1,024-byte
    statistics limit whose cut falls inside a multibyte character, just
    after a complete one, and after an ASCII byte, as the least and
    greatest value of their groups, in a direct and a dictionary column."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    group = np.arange(n) // 1_000

    def nulls(p: float) -> np.ndarray:
        return rng.random(n) < p

    f64 = rng.normal(0, 1e3, n)
    f64[[1_100, 2_200, 2_201]] = [np.nan, np.inf, -np.inf]
    f32 = rng.normal(0, 10, n).astype(np.float32)
    f32[[300, 2_900]] = [-np.inf, np.nan]
    i64 = rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max, n, endpoint=True)
    i64[[5, 2_500]] = [np.iinfo(np.int64).min, np.iinfo(np.int64).max]
    ns = rng.integers(-(10**18), 2 * 10**18, n)
    ms = rng.integers(-(10**12), 2 * 10**12, n)
    long_vals = {
        10: "0" * 1_023 + "é" * 8,  # cut inside é, the group-0 minimum
        20: "~" * 2 + "é" * 600,  # cut just after a whole é, a maximum
        2_050: "0" * 1_021 + "€" * 6,  # cut inside €
        2_060: "~" * 1_030,  # cut after an ASCII byte
    }
    gap = (group == 1) | nulls(0.05)
    direct = [None if z else long_vals.get(i, f"w{i}-ü{i % 13}") for i, z in enumerate(gap)]
    dict_ = [None if z else long_vals.get(i, f"w{i % 97}") for i, z in enumerate(gap)]
    return pa.table(
        {
            "f64": pa.array(f64, pa.float64(), mask=nulls(0.05)),
            "f32": pa.array(f32, pa.float32()),
            "i_gap": pa.array(
                rng.integers(-500, 500, n), pa.int64(), mask=(group == 1) | nulls(0.1)
            ),
            "b_gap": pa.array(rng.random(n) < 0.5, pa.bool_(), mask=group == 1),
            "i64": pa.array(i64, pa.int64(), mask=nulls(0.03)),
            "ts_ns": pa.array(ns, pa.timestamp("ns"), mask=nulls(0.04)),
            "ts_ms": pa.array(ms, pa.timestamp("ms", tz="UTC")),
            "s_direct": pa.array(direct, pa.string()),
            "s_dict": pa.array(dict_, pa.large_string()),
        }
    )
