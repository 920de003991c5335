"""Golden digests of the RLEv2 encoder's output bytes.

The encoder picks a sub-encoding per 512-value chunk by computed size; any
change to how it plans or packs chunks must keep every stream byte-identical
(the ORC files, row-index positions and stored sizes all follow from these
bytes).  Each case below is encoded and its sha256 compared against the digest
recorded from the per-chunk reference implementation.

Cases: the FIXTURES.md F2 value tables, seeded arrays whose lengths straddle
the 512-value scope (511 ... 10,272: 10,000 is one ORC row group, 19 full
chunks plus a 272-value tail), and every integer column of the sf0.1
``lineitem`` table.  To regenerate after an *intended* format change::

    PYTHONPATH=. python tests/test_rlev2_golden.py
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pytest

import bench
from sparc.kernels import rlev2

I64 = np.int64
# the sf0.1 table, whichever scale factor the bench directory points at
LINEITEM = os.path.join(
    os.path.dirname(os.path.normpath(bench.SF_DIR)), "sf0.1", "lineitem.parquet"
)
LINEITEM_INT_COLUMNS = ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
FLAGS = [(True, False), (False, False), (True, True), (False, True)]


def _f2_tables() -> dict[str, np.ndarray]:
    rng = np.random.default_rng(20240601)
    t = {
        "empty": [],
        "single": [7],
        "two": [7, 9],
        "const3": [5] * 3,
        "const10": [5] * 10,
        "const11": [5] * 11,
        "const512": [123] * 512,
        "const513": [123] * 513,
        "const514": [123] * 514,
        "const_large": [2**55] * 1000,
        "ramp": list(range(1000)),
        "ramp_desc": list(range(1000, 0, -1)),
        "fixed_delta7": list(range(0, 7000, 7)),
        "fixed_delta_neg": list(range(0, -7000, -7)),
        "alternating": [1, -1] * 300,
        "boundaries": [2**63 - 1, -(2**63), 0, 1, -1] * 3,
        "exactly512": list(range(512)),
        "exactly513": list(range(513)),
        "run_then_random": [9] * 100 + [3, 1, 4, 1, 5, 9, 2, 6] * 10,
        "random_then_run": [3, 1, 4, 1, 5, 9, 2, 6] * 10 + [9] * 100,
        "interleaved_runs": ([7] * 5 + [1, 2, 9]) * 50,
        "monotonic_jitter": np.cumsum(np.abs(rng.integers(0, 50, 800))),
        "decreasing_zero_first_delta": [10, 10, 8, 5, 1, 0, -4, -9] * 40,
        "null_dense": rng.integers(0, 100, 50),
    }
    for m in range(3, 16):  # fixed-delta runs too short to extract
        t[f"short_ramp{m}"] = list(range(5, 5 + 2 * m, 2))
        t[f"short_ramp_desc{m}"] = list(range(5, 5 - 3 * m, -3))
    for w in (1, 2, 4, 7, 24, 33, 56, 63):
        t[f"direct_w{w}"] = rng.integers(0, 2**w, 5000, dtype=I64)
    v = rng.integers(0, 2**10, 512, dtype=I64)
    v[rng.choice(512, 10, replace=False)] += 2**35
    t["patched_base"] = v
    v = rng.integers(-500, 500, 512, dtype=I64)
    v[rng.choice(512, 8, replace=False)] = 2**40
    t["patched_negative_min"] = v
    v = rng.integers(0, 1000, 400, dtype=I64) + (2**55 - 500)
    v[::97] += 2**5
    t["patched_min_near_2_55"] = v
    t["patched_min_over_2_56"] = v + 2**56
    v = np.ones(512, dtype=I64)
    v[0] = v[500] = 2**30
    t["patch_gap_over_255"] = v
    # patch candidates at the edge of the try-patched rule: a 90p/100p gap
    # of exactly 2 bits, and a 1-bit gap whose frame-of-reference span is
    # the full direct width (not tried, although patching would be smaller)
    for name, lo, hi in (("gap2", 2**11, 2**12), ("gap1", 2**10, 2**11)):
        v = rng.integers(0, 2**10, 2048)
        v[::512] = 0
        hit = rng.random(2048) < 0.035
        v[hit] = rng.integers(lo, hi, int(hit.sum()))
        t[f"patch_edge_{name}"] = v
    v = rng.integers(0, 2, 1024)  # 1-bit data, 63-bit outliers: too wide to patch
    v[::97] = 2**63 - 1
    t["patch_too_wide"] = v
    for sign in (1, -1):  # bases at and just past BASE_VALUE_LIMIT
        for base in (2**56 - 1000, 2**56 - 400):
            v = sign * (base + rng.integers(0, 300, 700))
            v[::50] += sign * 2**20
            t[f"base_limit_{sign}_{base}"] = v
    steps = rng.integers(0, 5, 20000)
    jitter = np.where(rng.random(20000) < 0.3, rng.integers(-3, 4, 20000), 0)
    t["mostly_sorted_timestampish"] = 1_700_000_000 + np.cumsum(steps) + jitter
    return {k: np.asarray(x, dtype=I64) for k, x in t.items()}


def _chunk_crossing(kind: str, n: int) -> np.ndarray:
    rng = np.random.default_rng(n * 31 + len(kind))
    if kind == "sorted":
        return np.sort(rng.integers(0, 50 * n, n, dtype=I64))
    if kind == "constant":
        return np.full(n, -77, dtype=I64)
    if kind == "random":
        return rng.integers(-(2**40), 2**40, n, dtype=I64)
    if kind == "outliers":
        v = rng.integers(0, 2**12, n, dtype=I64)
        hit = rng.random(n) < 0.02
        v[hit] = rng.integers(2**30, 2**44, int(hit.sum()), dtype=I64)
        return v
    if kind == "negative_min":
        v = rng.integers(-3000, 3000, n, dtype=I64)
        v[rng.random(n) < 0.01] = -(2**33)
        return v
    if kind == "sawtooth":  # every chunk ascends, every boundary drops
        c = np.cumsum(rng.integers(0, 6, n))
        return 1000 + c - c[np.arange(n) // 512 * 512]
    # "mixed": ramps, constant runs, jittered ranges and sparse outliers
    parts = []
    while sum(p.size for p in parts) < n:
        k = int(rng.integers(0, 4))
        m = int(rng.integers(2, 300))
        if k == 0:
            base, step = int(rng.integers(-1000, 1000)), int(rng.integers(-3, 4))
            parts.append(base + np.arange(m) * step)
        elif k == 1:
            parts.append(np.full(m, int(rng.integers(-5, 5))))
        elif k == 2:
            parts.append(rng.integers(0, 2 ** int(rng.integers(1, 20)), m))
        else:
            parts.append(np.where(rng.random(m) < 0.05, 2**36, rng.integers(0, 64, m)))
    return np.concatenate(parts)[:n].astype(I64)


CHUNK_KINDS = (
    "sorted", "constant", "random", "outliers", "negative_min", "sawtooth", "mixed"
)
CHUNK_LENGTHS = (511, 512, 513, 1024, 10_000, 10_272)


def _cases():
    for name, v in _f2_tables().items():
        for signed, aligned in FLAGS:
            yield f"f2/{name}/{int(signed)}{int(aligned)}", v, signed, aligned
    for kind in CHUNK_KINDS:
        for n in CHUNK_LENGTHS:
            v = _chunk_crossing(kind, n)
            for signed, aligned in FLAGS:
                name = f"chunks/{kind}/{n}/{int(signed)}{int(aligned)}"
                yield name, v, signed, aligned


def _lineitem_cases():
    import pyarrow.parquet as pq

    t = pq.read_table(LINEITEM, columns=list(LINEITEM_INT_COLUMNS))
    for col in LINEITEM_INT_COLUMNS:
        v = t.column(col).to_numpy().astype(I64)
        # whole column, and per 10,000-row group (the ORC row-index stride)
        yield f"lineitem/{col}/whole", v, True, False
        groups = [v[i : i + 10_000] for i in range(0, v.size, 10_000)]
        yield f"lineitem/{col}/rowgroups", groups, True, False


def _digest(v, signed: bool, aligned: bool) -> str:
    h = hashlib.sha256()
    for part in v if isinstance(v, list) else [v]:
        h.update(rlev2.encode(part, signed=signed, aligned=aligned))
    return h.hexdigest()


GOLDEN = {
    "f2/empty/10": "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855",
    "f2/empty/00": "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855",
    "f2/empty/11": "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855",
    "f2/empty/01": "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855",
    "f2/single/10": "65b371c43c7cf5faa9c1a61226c4f48efa6e2c158f4c5f8db49d5147c357d254",
    "f2/single/00": "17d3365bc9852f7d516e953263d216c29e04c5aa72a66b22f12f77627cee5079",
    "f2/single/11": "65b371c43c7cf5faa9c1a61226c4f48efa6e2c158f4c5f8db49d5147c357d254",
    "f2/single/01": "7e7b5938e12c0f26c80f6b8d329c36e1dbce558abe7d6d288ff179255f29566c",
    "f2/two/10": "88ce94e3abd33a60e0a23590e9ae98dbf044a1ac2b3f5041a4a7ad1da34c1847",
    "f2/two/00": "84d99e0377e02604e87d8d17ac0b4c1b4fa57e88c30649637e2e4380175d16e9",
    "f2/two/11": "de678c10653033846462cf252300cb1153c2a95edeb88f2051270671a2ddd810",
    "f2/two/01": "84d99e0377e02604e87d8d17ac0b4c1b4fa57e88c30649637e2e4380175d16e9",
    "f2/const3/10": "67ebbd370daa02ba9aadd05d8e091e862d0d8bcadafdf2a22360240a42fe922e",
    "f2/const3/00": "9f1afa4dc124cba73134e82ff50f17c8f7164257c79fed9a13f5943a6acb8e3d",
    "f2/const3/11": "67ebbd370daa02ba9aadd05d8e091e862d0d8bcadafdf2a22360240a42fe922e",
    "f2/const3/01": "9f1afa4dc124cba73134e82ff50f17c8f7164257c79fed9a13f5943a6acb8e3d",
    "f2/const10/10": "216aad30ea7f64d1050f82685c4a0ce7abd7e553945ae50fecb123c27a3bfbb7",
    "f2/const10/00": "fbc5bc32805d29f815000497820b8f5c613daf296efa2e00faa8d9e37109c655",
    "f2/const10/11": "216aad30ea7f64d1050f82685c4a0ce7abd7e553945ae50fecb123c27a3bfbb7",
    "f2/const10/01": "fbc5bc32805d29f815000497820b8f5c613daf296efa2e00faa8d9e37109c655",
    "f2/const11/10": "754c628d8ea045a91a1bd1cf39e6e124feb79a5711b4aa5e892b2de6d711e276",
    "f2/const11/00": "4478b1ef52104b6a6ded6ee7a59d15d21c96f6872aa5f373b2347a2aa305ea19",
    "f2/const11/11": "754c628d8ea045a91a1bd1cf39e6e124feb79a5711b4aa5e892b2de6d711e276",
    "f2/const11/01": "4478b1ef52104b6a6ded6ee7a59d15d21c96f6872aa5f373b2347a2aa305ea19",
    "f2/const512/10": "1e0cf9e5913c86f244919d308845e0613a5946799432785ec1dd5fa3958fc787",
    "f2/const512/00": "411ea4e8f50c124651f87d7ac5e0fe0b01f7280dd972033833222d154b1d5432",
    "f2/const512/11": "1e0cf9e5913c86f244919d308845e0613a5946799432785ec1dd5fa3958fc787",
    "f2/const512/01": "411ea4e8f50c124651f87d7ac5e0fe0b01f7280dd972033833222d154b1d5432",
    "f2/const513/10": "aa5af919639876c6dcf2f3db70bfabd2c9b006fc03d1224c738df5164f47947b",
    "f2/const513/00": "7474f747aa8f3f35a1e2b7d136cfe459ebbb7d2908b92ceaf590363fa6817974",
    "f2/const513/11": "aa5af919639876c6dcf2f3db70bfabd2c9b006fc03d1224c738df5164f47947b",
    "f2/const513/01": "7474f747aa8f3f35a1e2b7d136cfe459ebbb7d2908b92ceaf590363fa6817974",
    "f2/const514/10": "8be515d66b5e1cb1aed74d4599ca23e21ddd289405e46d775ac814129ee95ab7",
    "f2/const514/00": "7e14d51a85ff555c962e683541ca61934cc56c289317cd5a24eb3c373418e82f",
    "f2/const514/11": "8be515d66b5e1cb1aed74d4599ca23e21ddd289405e46d775ac814129ee95ab7",
    "f2/const514/01": "7e14d51a85ff555c962e683541ca61934cc56c289317cd5a24eb3c373418e82f",
    "f2/const_large/10": "7903d316c1350c7450752b74724fe164e393e678ce8e968c7e7c11ad064d9636",
    "f2/const_large/00": "865e8ea91f29f1205e7ae9983f468cd13cb475b669330331a0d2e36cecac002b",
    "f2/const_large/11": "7903d316c1350c7450752b74724fe164e393e678ce8e968c7e7c11ad064d9636",
    "f2/const_large/01": "865e8ea91f29f1205e7ae9983f468cd13cb475b669330331a0d2e36cecac002b",
    "f2/ramp/10": "0ec1abf9871b458d9f50cbaabc40ad2e306f4592f858f61fa27b5a9574c443b5",
    "f2/ramp/00": "d426a23b997fe8db6f0d2456a1c7038aa92ab45458c33ba8d8bdd66c465a6c25",
    "f2/ramp/11": "0ec1abf9871b458d9f50cbaabc40ad2e306f4592f858f61fa27b5a9574c443b5",
    "f2/ramp/01": "d426a23b997fe8db6f0d2456a1c7038aa92ab45458c33ba8d8bdd66c465a6c25",
    "f2/ramp_desc/10": "a4cccf531d002ba35dcc8c4decbbe547409320518fffb72c38b5f230aef91ab9",
    "f2/ramp_desc/00": "ca68d7b55f630d1a76460dc1bf6de405b8be4263bde1c27af72948b64a4e6365",
    "f2/ramp_desc/11": "a4cccf531d002ba35dcc8c4decbbe547409320518fffb72c38b5f230aef91ab9",
    "f2/ramp_desc/01": "ca68d7b55f630d1a76460dc1bf6de405b8be4263bde1c27af72948b64a4e6365",
    "f2/fixed_delta7/10": "803d06dd9e14a4add8ddeebe1467a9cd2a0d659d3afff2dd27e60865a9e1b0c2",
    "f2/fixed_delta7/00": "62633048177a9dab32e47e6cd62892e5af862fc95641c83cc114527fb65f0024",
    "f2/fixed_delta7/11": "803d06dd9e14a4add8ddeebe1467a9cd2a0d659d3afff2dd27e60865a9e1b0c2",
    "f2/fixed_delta7/01": "62633048177a9dab32e47e6cd62892e5af862fc95641c83cc114527fb65f0024",
    "f2/fixed_delta_neg/10": "37edac2a23f9e42b42823e9a910f9e5683360accb45dd89f56b00b686d3b4bd9",
    "f2/fixed_delta_neg/00": "beace00bc22bd6a0166d03ae0919d44bca0a2377fea91b70b7689a18e4e2721d",
    "f2/fixed_delta_neg/11": "37edac2a23f9e42b42823e9a910f9e5683360accb45dd89f56b00b686d3b4bd9",
    "f2/fixed_delta_neg/01": "beace00bc22bd6a0166d03ae0919d44bca0a2377fea91b70b7689a18e4e2721d",
    "f2/alternating/10": "bfcb1c8fc251525395b28583a9dbb39580e1bad068876d5ee2ffa222bb34c19b",
    "f2/alternating/00": "312a83735442001976f7f1c0609ed3e373cdbe7855fa1f931dc978d5b8c3e939",
    "f2/alternating/11": "bfcb1c8fc251525395b28583a9dbb39580e1bad068876d5ee2ffa222bb34c19b",
    "f2/alternating/01": "312a83735442001976f7f1c0609ed3e373cdbe7855fa1f931dc978d5b8c3e939",
    "f2/boundaries/10": "060831717c13938433c3b1aa179987f8657039e59d1695fc7dc01f336a269d26",
    "f2/boundaries/00": "0845a174e8ad3472753132da79ef7aac42e81a68f903ac157babc454aa6680c2",
    "f2/boundaries/11": "060831717c13938433c3b1aa179987f8657039e59d1695fc7dc01f336a269d26",
    "f2/boundaries/01": "0845a174e8ad3472753132da79ef7aac42e81a68f903ac157babc454aa6680c2",
    "f2/exactly512/10": "84c886e8c7baff8d99221ece488d09a3cf9eda7ad34d532a87cedc198f755f9f",
    "f2/exactly512/00": "84c886e8c7baff8d99221ece488d09a3cf9eda7ad34d532a87cedc198f755f9f",
    "f2/exactly512/11": "84c886e8c7baff8d99221ece488d09a3cf9eda7ad34d532a87cedc198f755f9f",
    "f2/exactly512/01": "84c886e8c7baff8d99221ece488d09a3cf9eda7ad34d532a87cedc198f755f9f",
    "f2/exactly513/10": "0983618b71b6a584238db88a76e96c9c5289811233eee14671b64486e3d3040a",
    "f2/exactly513/00": "b186e5fee091654d04adf178f7e4d2df50357950eacb5ace9b00885f9379efd9",
    "f2/exactly513/11": "0983618b71b6a584238db88a76e96c9c5289811233eee14671b64486e3d3040a",
    "f2/exactly513/01": "b186e5fee091654d04adf178f7e4d2df50357950eacb5ace9b00885f9379efd9",
    "f2/run_then_random/10": "a96fd7297810776ead17db66d0353a80bf9404743fd210aac613a660d0c7d29c",
    "f2/run_then_random/00": "21f4130ed14e652b9abea0efc208f3f893478f32306622ede2130b09893eba55",
    "f2/run_then_random/11": "a96fd7297810776ead17db66d0353a80bf9404743fd210aac613a660d0c7d29c",
    "f2/run_then_random/01": "21f4130ed14e652b9abea0efc208f3f893478f32306622ede2130b09893eba55",
    "f2/random_then_run/10": "c28b45435b837f2ba535703e691cbbc0e218a651f5973be392063355c9d97211",
    "f2/random_then_run/00": "6cb91a967215be28358b2b977019fd00f13a77dd7cde65e2570ebebe5fc27e83",
    "f2/random_then_run/11": "c28b45435b837f2ba535703e691cbbc0e218a651f5973be392063355c9d97211",
    "f2/random_then_run/01": "6cb91a967215be28358b2b977019fd00f13a77dd7cde65e2570ebebe5fc27e83",
    "f2/interleaved_runs/10": "97c4f539b6243809a02c71d4bc617eca9cc62ff5fea458b37e60e37279198b43",
    "f2/interleaved_runs/00": "b3deb10c5d2f0004b9c933b9474f056c5c9e635d020d2f9bc76a026d0db072b7",
    "f2/interleaved_runs/11": "97c4f539b6243809a02c71d4bc617eca9cc62ff5fea458b37e60e37279198b43",
    "f2/interleaved_runs/01": "b3deb10c5d2f0004b9c933b9474f056c5c9e635d020d2f9bc76a026d0db072b7",
    "f2/monotonic_jitter/10": "5afaf86939ce4b9489663b38c3d1acda344b162f6b2b903fd0cb264c863d2395",
    "f2/monotonic_jitter/00": "2aa1f674ed194a29e2de28ac159b0532bda3e8c0b403447f257cb0c8556bfc67",
    "f2/monotonic_jitter/11": "08f1f4672d7ee5c001a9d5bcf4fbf73344ba0e8f6ed5d7af3c5759f9301e09b2",
    "f2/monotonic_jitter/01": "29dadd9bced76d104529eb9ebe763cdde6d2b4b03ab82be70167481a2f20a205",
    "f2/decreasing_zero_first_delta/10": "3f530ca97f56f4d6011c1d368de497455b53851348602479fba18c756665080d",
    "f2/decreasing_zero_first_delta/00": "983c6f8ccf133de38abfb8fcd29d5080ac25a189f92e61cc07b3c927d5066ef2",
    "f2/decreasing_zero_first_delta/11": "4d1e533311bd3d4739c6d685aed60c4f3f5d660019499a264e88ee3e98527286",
    "f2/decreasing_zero_first_delta/01": "6aa7d2164b9c00484820035055cb8d30678b7cab76cdfb189611d9a70f223ed7",
    "f2/null_dense/10": "5ecf1f3d5723b5727fc7a1b3d2d2e60f621594bb85aa808c0d960cf71178189c",
    "f2/null_dense/00": "1501ecedf1be887ccccdb0c7e92366e1541cc907fefccda1b10b33f43e27bcf1",
    "f2/null_dense/11": "a1c118e7d708da141f542c037fd4b838f5a9e9e3ea526cb476e9eea4c32ae622",
    "f2/null_dense/01": "ed2863ef221dbe946a46a538896f23bb4c344fcc98131f598937292345787896",
    "f2/short_ramp3/10": "98c031f9ff6fda4d4e3dc49ec1670b4ff8503edaa94daf228aeb60b67f698bc5",
    "f2/short_ramp3/00": "9e6dc6568c88144a8a27a8e0947c54cae1ab01f4e1233a62107f36709d9d2c80",
    "f2/short_ramp3/11": "72a6ef099bfe9e9fd48844705361bdae5d6d834bd7c476e3f087e9763dd61ddc",
    "f2/short_ramp3/01": "9e6dc6568c88144a8a27a8e0947c54cae1ab01f4e1233a62107f36709d9d2c80",
    "f2/short_ramp_desc3/10": "3fabd72fa2bc9e3fe6b3a1d3d3a2f2c6954bfed2494d3ebc32ad5f34a3e3e6e1",
    "f2/short_ramp_desc3/00": "360881dba0f1649f4469cb5373317d100bf9e3116b536cbba8724eee7626420d",
    "f2/short_ramp_desc3/11": "3fabd72fa2bc9e3fe6b3a1d3d3a2f2c6954bfed2494d3ebc32ad5f34a3e3e6e1",
    "f2/short_ramp_desc3/01": "360881dba0f1649f4469cb5373317d100bf9e3116b536cbba8724eee7626420d",
    "f2/short_ramp4/10": "db6b08afba8da4f1279201631833d3f91d0610040668b84850ed22f5f828d971",
    "f2/short_ramp4/00": "53eb84fb13c3f3a1ca22cc885aea5f9b6e37a7dee7ce609ac9a4edf61cc8dfd0",
    "f2/short_ramp4/11": "db6b08afba8da4f1279201631833d3f91d0610040668b84850ed22f5f828d971",
    "f2/short_ramp4/01": "53eb84fb13c3f3a1ca22cc885aea5f9b6e37a7dee7ce609ac9a4edf61cc8dfd0",
    "f2/short_ramp_desc4/10": "22f82f2a9f6301f7aaa48ee2c347370997add313cd4689e144052b5bcd5b2328",
    "f2/short_ramp_desc4/00": "2ea133ae536ccfea7ae25315b3bd4b8cd7bb37d303982981540e9fc26f497e11",
    "f2/short_ramp_desc4/11": "22f82f2a9f6301f7aaa48ee2c347370997add313cd4689e144052b5bcd5b2328",
    "f2/short_ramp_desc4/01": "2ea133ae536ccfea7ae25315b3bd4b8cd7bb37d303982981540e9fc26f497e11",
    "f2/short_ramp5/10": "76d039b2f5a180a25c131ac6826365d901fa4c457fbec7c07605ef727df24a85",
    "f2/short_ramp5/00": "8edfae357a20a2dbbee33411a42480c2df8760f3ab2c37e592c7da8fa5096b14",
    "f2/short_ramp5/11": "76d039b2f5a180a25c131ac6826365d901fa4c457fbec7c07605ef727df24a85",
    "f2/short_ramp5/01": "8edfae357a20a2dbbee33411a42480c2df8760f3ab2c37e592c7da8fa5096b14",
    "f2/short_ramp_desc5/10": "50406d984ecda7ea44dca8cd2bd67935a804ab361338dc55246e1cd726d1162f",
    "f2/short_ramp_desc5/00": "70b86c43349512a3b5d22ac0b3292aeecb171cea11b491cbe2962bb61ab73c08",
    "f2/short_ramp_desc5/11": "50406d984ecda7ea44dca8cd2bd67935a804ab361338dc55246e1cd726d1162f",
    "f2/short_ramp_desc5/01": "70b86c43349512a3b5d22ac0b3292aeecb171cea11b491cbe2962bb61ab73c08",
    "f2/short_ramp6/10": "1b6e913eae2da6fdfc235635fb98e8ffcf4a214cc639fa89f604384ab343d4c7",
    "f2/short_ramp6/00": "3de6cb83ecb3ed36c39a2a2660968592d4714865096806366af4c5e71354608f",
    "f2/short_ramp6/11": "1b6e913eae2da6fdfc235635fb98e8ffcf4a214cc639fa89f604384ab343d4c7",
    "f2/short_ramp6/01": "3de6cb83ecb3ed36c39a2a2660968592d4714865096806366af4c5e71354608f",
    "f2/short_ramp_desc6/10": "47259a945887e90df486480cf6deef2ecb90b6adfb8260d0c6325ee8780b117f",
    "f2/short_ramp_desc6/00": "ae8138c70a2bed5a8ca0408f204f4823b8d6fdf352ce055c6e06d572a3cb249f",
    "f2/short_ramp_desc6/11": "47259a945887e90df486480cf6deef2ecb90b6adfb8260d0c6325ee8780b117f",
    "f2/short_ramp_desc6/01": "ae8138c70a2bed5a8ca0408f204f4823b8d6fdf352ce055c6e06d572a3cb249f",
    "f2/short_ramp7/10": "238ec2affbd4e096eec597207772075f128fb994c561dc75f6866419d503d7f7",
    "f2/short_ramp7/00": "0ac0d082b9c99586c6a65a6ebfe40399dc786b47765511fb2e88a9776467c18c",
    "f2/short_ramp7/11": "238ec2affbd4e096eec597207772075f128fb994c561dc75f6866419d503d7f7",
    "f2/short_ramp7/01": "0ac0d082b9c99586c6a65a6ebfe40399dc786b47765511fb2e88a9776467c18c",
    "f2/short_ramp_desc7/10": "af2c6d3185a6ba01d442bd424f2d91658abf0eec6476853ded7be3210e01f566",
    "f2/short_ramp_desc7/00": "892f2ed8fc2147165f88b4e91e38435cbcf7ac514cbc59ca4dd245f2f166895f",
    "f2/short_ramp_desc7/11": "af2c6d3185a6ba01d442bd424f2d91658abf0eec6476853ded7be3210e01f566",
    "f2/short_ramp_desc7/01": "892f2ed8fc2147165f88b4e91e38435cbcf7ac514cbc59ca4dd245f2f166895f",
    "f2/short_ramp8/10": "6dbff8f6282ee7bfd091ef616210fa4bc584d8a0296f845d6325cd9a1cdcbd82",
    "f2/short_ramp8/00": "fd098c69d0edb6d56487e3b9afb0cf987136f9199eea522c298cd630c154543e",
    "f2/short_ramp8/11": "6dbff8f6282ee7bfd091ef616210fa4bc584d8a0296f845d6325cd9a1cdcbd82",
    "f2/short_ramp8/01": "fd098c69d0edb6d56487e3b9afb0cf987136f9199eea522c298cd630c154543e",
    "f2/short_ramp_desc8/10": "09d0ce36b3328cd6296b606177a48ad34ce414c12eb59e706ab6ed3d439821fe",
    "f2/short_ramp_desc8/00": "7e716640c5b463272688c4137031884324ed6dca7ad2e2b1565f99678b5440a8",
    "f2/short_ramp_desc8/11": "09d0ce36b3328cd6296b606177a48ad34ce414c12eb59e706ab6ed3d439821fe",
    "f2/short_ramp_desc8/01": "7e716640c5b463272688c4137031884324ed6dca7ad2e2b1565f99678b5440a8",
    "f2/short_ramp9/10": "f81ba9d6a6ac6a4bc7deedc22f73fc0d8f9e135e11b881a41b7636e797b69257",
    "f2/short_ramp9/00": "c68a9d531c23f8194db4aeab267155a301a6ce284db4a0b7d888b824771efa0d",
    "f2/short_ramp9/11": "f81ba9d6a6ac6a4bc7deedc22f73fc0d8f9e135e11b881a41b7636e797b69257",
    "f2/short_ramp9/01": "c68a9d531c23f8194db4aeab267155a301a6ce284db4a0b7d888b824771efa0d",
    "f2/short_ramp_desc9/10": "a3d17a8047c696cca7b884d4c87389b18f8c45c061b2d590d9db490890cf9b08",
    "f2/short_ramp_desc9/00": "205fd5cb84ce89869699cb7e2d3d6ba222093cf58f1107e6bfb5bd7cdb555301",
    "f2/short_ramp_desc9/11": "a3d17a8047c696cca7b884d4c87389b18f8c45c061b2d590d9db490890cf9b08",
    "f2/short_ramp_desc9/01": "205fd5cb84ce89869699cb7e2d3d6ba222093cf58f1107e6bfb5bd7cdb555301",
    "f2/short_ramp10/10": "09c9531bcb469a340571e41e1239dc129cdb38e8277a7d240eb724563a288cda",
    "f2/short_ramp10/00": "d42eeec468583e316ef6cf6af56d28dfa59cb9fee87f23dd18d858b39ae70dbc",
    "f2/short_ramp10/11": "09c9531bcb469a340571e41e1239dc129cdb38e8277a7d240eb724563a288cda",
    "f2/short_ramp10/01": "d42eeec468583e316ef6cf6af56d28dfa59cb9fee87f23dd18d858b39ae70dbc",
    "f2/short_ramp_desc10/10": "3873ab01872e2c1d1313a0c70116474c0e64027abb9b18ca11dc450f66c81ac7",
    "f2/short_ramp_desc10/00": "3b47190f66906fbc16fc3f1874f84ab800b7d489ddbe1e8a3de632e9b8aa0fd4",
    "f2/short_ramp_desc10/11": "3873ab01872e2c1d1313a0c70116474c0e64027abb9b18ca11dc450f66c81ac7",
    "f2/short_ramp_desc10/01": "3b47190f66906fbc16fc3f1874f84ab800b7d489ddbe1e8a3de632e9b8aa0fd4",
    "f2/short_ramp11/10": "1f66a5ae421a1f1702fd1b58c33c9eeb71da3b171356f6aa1d97e5a0c60a73fd",
    "f2/short_ramp11/00": "2b380f630f4ffea08be9488ca895e22eff56b2f59a2c549a5c7c13dc394aeef8",
    "f2/short_ramp11/11": "1f66a5ae421a1f1702fd1b58c33c9eeb71da3b171356f6aa1d97e5a0c60a73fd",
    "f2/short_ramp11/01": "2b380f630f4ffea08be9488ca895e22eff56b2f59a2c549a5c7c13dc394aeef8",
    "f2/short_ramp_desc11/10": "59d29a46285f2f2e7ca30eb17673a7d8c54a5b7ec6ea7da5a6d5809e4faad3b0",
    "f2/short_ramp_desc11/00": "b8b53159611447069d2c4b55502a79286e224b53254508e1dcc18b5f2fc24baf",
    "f2/short_ramp_desc11/11": "59d29a46285f2f2e7ca30eb17673a7d8c54a5b7ec6ea7da5a6d5809e4faad3b0",
    "f2/short_ramp_desc11/01": "b8b53159611447069d2c4b55502a79286e224b53254508e1dcc18b5f2fc24baf",
    "f2/short_ramp12/10": "9d822fb75cf8f9610178120f34f6e63c5ea376cf6be9bc31282afaa6660cf640",
    "f2/short_ramp12/00": "33c76e2f3bb787c16189cbaba6512273bbaf0f4be521b950b37d1c196bea028d",
    "f2/short_ramp12/11": "9d822fb75cf8f9610178120f34f6e63c5ea376cf6be9bc31282afaa6660cf640",
    "f2/short_ramp12/01": "33c76e2f3bb787c16189cbaba6512273bbaf0f4be521b950b37d1c196bea028d",
    "f2/short_ramp_desc12/10": "5f09c4cee2044a02bbf392603fbcce26d77148e8f2d167adf7dc67dce62c68a5",
    "f2/short_ramp_desc12/00": "30b4655ad58e0b4ed37530f18cbd9658f052873dd221024bdb4f29436f40c6fd",
    "f2/short_ramp_desc12/11": "5f09c4cee2044a02bbf392603fbcce26d77148e8f2d167adf7dc67dce62c68a5",
    "f2/short_ramp_desc12/01": "30b4655ad58e0b4ed37530f18cbd9658f052873dd221024bdb4f29436f40c6fd",
    "f2/short_ramp13/10": "346ee784d7d16d47aaa0bfa9bfeb8304ec4890b6b2186b5bf55086b522e7f41b",
    "f2/short_ramp13/00": "f326cbecdcbaa8c24d49bae1d0f0556c47a00690449093a27bef49b06f9348e8",
    "f2/short_ramp13/11": "346ee784d7d16d47aaa0bfa9bfeb8304ec4890b6b2186b5bf55086b522e7f41b",
    "f2/short_ramp13/01": "f326cbecdcbaa8c24d49bae1d0f0556c47a00690449093a27bef49b06f9348e8",
    "f2/short_ramp_desc13/10": "f5d724b78b4fb88c8d56869d4c43fbadb96da0f04d9f36fad08ba4f9d844363e",
    "f2/short_ramp_desc13/00": "9e2253ce5ebe0c49c8e25b835593fe42affeae8b3d7a0bb2d1286afd63354c3a",
    "f2/short_ramp_desc13/11": "f5d724b78b4fb88c8d56869d4c43fbadb96da0f04d9f36fad08ba4f9d844363e",
    "f2/short_ramp_desc13/01": "9e2253ce5ebe0c49c8e25b835593fe42affeae8b3d7a0bb2d1286afd63354c3a",
    "f2/short_ramp14/10": "8fd86030339026b2476c2f6902f4d2db17f604650e748f2fa9b213801edcea65",
    "f2/short_ramp14/00": "a291fbb3c0b2924cc5939b38f6afddc01de73fae428a050ca2351c2b171f4270",
    "f2/short_ramp14/11": "8fd86030339026b2476c2f6902f4d2db17f604650e748f2fa9b213801edcea65",
    "f2/short_ramp14/01": "a291fbb3c0b2924cc5939b38f6afddc01de73fae428a050ca2351c2b171f4270",
    "f2/short_ramp_desc14/10": "60aebe51875e0012d7de31bcf7257bd3f3df71e6e78ec677233af5243131ecf7",
    "f2/short_ramp_desc14/00": "48a07c3008155c3da278aa7963c6bcbde309062d15507beb669495014fd7c200",
    "f2/short_ramp_desc14/11": "60aebe51875e0012d7de31bcf7257bd3f3df71e6e78ec677233af5243131ecf7",
    "f2/short_ramp_desc14/01": "48a07c3008155c3da278aa7963c6bcbde309062d15507beb669495014fd7c200",
    "f2/short_ramp15/10": "cb95b490fd6ff4469f21166abc8908878720c2a1f61e2a44536e11faccc626e1",
    "f2/short_ramp15/00": "ff87e2977f48b3cfb540ba13558a49a336228678ed9d020b6ca8ff0e1aef3abd",
    "f2/short_ramp15/11": "cb95b490fd6ff4469f21166abc8908878720c2a1f61e2a44536e11faccc626e1",
    "f2/short_ramp15/01": "ff87e2977f48b3cfb540ba13558a49a336228678ed9d020b6ca8ff0e1aef3abd",
    "f2/short_ramp_desc15/10": "09cbb393f38034d9db4e234dda822f7b5ecbc983018e317d16c6890108ba4ee1",
    "f2/short_ramp_desc15/00": "b3a4b0e0974477b2440e243c137e4798747909b89d0f23eedb0f48b12f13face",
    "f2/short_ramp_desc15/11": "09cbb393f38034d9db4e234dda822f7b5ecbc983018e317d16c6890108ba4ee1",
    "f2/short_ramp_desc15/01": "b3a4b0e0974477b2440e243c137e4798747909b89d0f23eedb0f48b12f13face",
    "f2/direct_w1/10": "6449df856fcf6844aa1926f97968376f24036cda801e9699f71394c6a3e4d1e1",
    "f2/direct_w1/00": "95d4a95199a64814eca0f55aa55779637ff1197dc30d382200c4f4fff6a13609",
    "f2/direct_w1/11": "6449df856fcf6844aa1926f97968376f24036cda801e9699f71394c6a3e4d1e1",
    "f2/direct_w1/01": "95d4a95199a64814eca0f55aa55779637ff1197dc30d382200c4f4fff6a13609",
    "f2/direct_w2/10": "28111848ecd6d2dc980369fba3344dbbfaf359e813f21ebc2d44f1bb84658224",
    "f2/direct_w2/00": "37303e52d0f08c5d41e9743bac7bb8b92441e8a43a2350895c4f2d19a385c96e",
    "f2/direct_w2/11": "28111848ecd6d2dc980369fba3344dbbfaf359e813f21ebc2d44f1bb84658224",
    "f2/direct_w2/01": "37303e52d0f08c5d41e9743bac7bb8b92441e8a43a2350895c4f2d19a385c96e",
    "f2/direct_w4/10": "7dd15f8cf65d37540a7e19f413be540de7f1e2df42b729f6421782c419854903",
    "f2/direct_w4/00": "cac3731e7755aa542ef1b0f0f4b1a883ac8640b5f66a53417a21dc534ec19a3c",
    "f2/direct_w4/11": "7dd15f8cf65d37540a7e19f413be540de7f1e2df42b729f6421782c419854903",
    "f2/direct_w4/01": "cac3731e7755aa542ef1b0f0f4b1a883ac8640b5f66a53417a21dc534ec19a3c",
    "f2/direct_w7/10": "222948e065be179a415d47f88589c3f7d614ce93101374d07872e5bd7b7e5525",
    "f2/direct_w7/00": "9b7267e5ce6ca1e58098109e80f56e205420642a080a56aa2d73c6e20090eb7b",
    "f2/direct_w7/11": "3aa871a0d398ad9a8e7f983dd4f364aa28623f62bd16756c2ee6d93f71fe5528",
    "f2/direct_w7/01": "c1f26fd9c8124ae94fa5a29ea01f872f317ca85197628af60897816a49fa74a2",
    "f2/direct_w24/10": "78bb3d30bb4f32fa69587c5b70b876cdf61e4806da7e09e5face05e64ca64472",
    "f2/direct_w24/00": "3d17caa065a3b64894c06ba3fdacaeaa463c59cf449bbf09c02848483cab9ffb",
    "f2/direct_w24/11": "78bb3d30bb4f32fa69587c5b70b876cdf61e4806da7e09e5face05e64ca64472",
    "f2/direct_w24/01": "3d17caa065a3b64894c06ba3fdacaeaa463c59cf449bbf09c02848483cab9ffb",
    "f2/direct_w33/10": "a6f415181944c8f492a97d0dc766819c63b1ef45f6de571abaab4d13fb36c987",
    "f2/direct_w33/00": "b4a567916ec2478976e2389cc244c7a6c5c482354a5f372ca6f82fdd78ae9aac",
    "f2/direct_w33/11": "a6f415181944c8f492a97d0dc766819c63b1ef45f6de571abaab4d13fb36c987",
    "f2/direct_w33/01": "b4a567916ec2478976e2389cc244c7a6c5c482354a5f372ca6f82fdd78ae9aac",
    "f2/direct_w56/10": "820cae8d1314fd965c97b2bdf5ce3179dca0c9d583559ada490024ba26f42063",
    "f2/direct_w56/00": "aeacd2c93bab6c886f6812e23c48756ecc97657601de75912b47cd7be985ac99",
    "f2/direct_w56/11": "820cae8d1314fd965c97b2bdf5ce3179dca0c9d583559ada490024ba26f42063",
    "f2/direct_w56/01": "aeacd2c93bab6c886f6812e23c48756ecc97657601de75912b47cd7be985ac99",
    "f2/direct_w63/10": "a8e9196fc3c136685c48744ab36bb2b92de7dd3fe49929452aee396ef6bd60ba",
    "f2/direct_w63/00": "0679867063da31c366ace2ddc2acc92ae1532fbc7dc130220f4a2a0842edd6ef",
    "f2/direct_w63/11": "a8e9196fc3c136685c48744ab36bb2b92de7dd3fe49929452aee396ef6bd60ba",
    "f2/direct_w63/01": "0679867063da31c366ace2ddc2acc92ae1532fbc7dc130220f4a2a0842edd6ef",
    "f2/patched_base/10": "0ec1ac4b20b873a2ffe2fbdd9feafd537be337a102fe2af70697d079992b8f07",
    "f2/patched_base/00": "0ec1ac4b20b873a2ffe2fbdd9feafd537be337a102fe2af70697d079992b8f07",
    "f2/patched_base/11": "1214644121a9022cbc6c38ebfc77a34117750a4746de1066667d655eb80531ec",
    "f2/patched_base/01": "1214644121a9022cbc6c38ebfc77a34117750a4746de1066667d655eb80531ec",
    "f2/patched_negative_min/10": "db0cd92cc066a08fd4cc3b66714c7821101fcaadc9eefe4a154f71be12f86449",
    "f2/patched_negative_min/00": "db0cd92cc066a08fd4cc3b66714c7821101fcaadc9eefe4a154f71be12f86449",
    "f2/patched_negative_min/11": "ff90d59b6924ba1f8ca06563ba267cb569d49a1a35d0b4e638ef3656b879168a",
    "f2/patched_negative_min/01": "ff90d59b6924ba1f8ca06563ba267cb569d49a1a35d0b4e638ef3656b879168a",
    "f2/patched_min_near_2_55/10": "1cb8dad76996232b6fe3b48b1e1a917fc3f3e761ad362c863d4b0691f3e01bc7",
    "f2/patched_min_near_2_55/00": "1cb8dad76996232b6fe3b48b1e1a917fc3f3e761ad362c863d4b0691f3e01bc7",
    "f2/patched_min_near_2_55/11": "7c972e2badb01d378db359386ca79141baf765fbc9ed914cc9ad33cb1411984b",
    "f2/patched_min_near_2_55/01": "7c972e2badb01d378db359386ca79141baf765fbc9ed914cc9ad33cb1411984b",
    "f2/patched_min_over_2_56/10": "0d6ea1edef1d1302d7922f13d8efe72d2e486f7a1a382514cd1f23d3aeca237d",
    "f2/patched_min_over_2_56/00": "b8810ee0a851b65bc6996b07f010e5d49f763f732138037acd6b5944829f4bea",
    "f2/patched_min_over_2_56/11": "0d6ea1edef1d1302d7922f13d8efe72d2e486f7a1a382514cd1f23d3aeca237d",
    "f2/patched_min_over_2_56/01": "b8810ee0a851b65bc6996b07f010e5d49f763f732138037acd6b5944829f4bea",
    "f2/patch_gap_over_255/10": "eba0134360bcf413c0f13002380ac609179c380a295d0bd4118ef96a42f55bb8",
    "f2/patch_gap_over_255/00": "e07fc3144b6b44ef98c5adb32a20f8b3a7398da7e682973fe9acebb7fe9d427b",
    "f2/patch_gap_over_255/11": "eba0134360bcf413c0f13002380ac609179c380a295d0bd4118ef96a42f55bb8",
    "f2/patch_gap_over_255/01": "e07fc3144b6b44ef98c5adb32a20f8b3a7398da7e682973fe9acebb7fe9d427b",
    "f2/patch_edge_gap2/10": "b76f751ed3407f06439807c3a2f1b960e20b79abc1bbc031ab48ee9478403aa4",
    "f2/patch_edge_gap2/00": "b76f751ed3407f06439807c3a2f1b960e20b79abc1bbc031ab48ee9478403aa4",
    "f2/patch_edge_gap2/11": "c83a021ba284bb106e8ae3c17e08a098e5e8d5ba032ecb2b776fa6d54d61df22",
    "f2/patch_edge_gap2/01": "ad993b0e93e2d119756c2da97cbbc540ab5ad4b6af3e26c377b17fee8748ea5e",
    "f2/patch_edge_gap1/10": "76cd6146df238be4d2481a8fcbdbc44e2fda62771ddc1787c2c0046762bbebcc",
    "f2/patch_edge_gap1/00": "04a868d80d511dc01d3d8cdb9b75d3c2925ad20f83f3638671ac3152693522e3",
    "f2/patch_edge_gap1/11": "840e1865be4e53b3b30a1b6dd75b3c1442d33efc8f5fde9cca73c0dec9ed6eed",
    "f2/patch_edge_gap1/01": "fd0f7cb4938842b65a7af5c86a40ec46debe740eaee9537cece87f9868c55814",
    "f2/patch_too_wide/10": "a3d693abca6d714d94a1d8d521cc5702bc3e4575455fca5258470c58e90b8f9b",
    "f2/patch_too_wide/00": "4314482265c459ea553c697d7029d9b7424f0f790defe9232da7134a1bc9faa8",
    "f2/patch_too_wide/11": "a3d693abca6d714d94a1d8d521cc5702bc3e4575455fca5258470c58e90b8f9b",
    "f2/patch_too_wide/01": "4314482265c459ea553c697d7029d9b7424f0f790defe9232da7134a1bc9faa8",
    "f2/base_limit_1_72057594037926936/10": "0100f0f6e12b56b64c0df39b8f92ef0e3798d02a75f71d657992f5b5e10a6825",
    "f2/base_limit_1_72057594037926936/00": "0100f0f6e12b56b64c0df39b8f92ef0e3798d02a75f71d657992f5b5e10a6825",
    "f2/base_limit_1_72057594037926936/11": "9761dd5997496829e2cde530b66ecfb99ab465cc47f039be6f912b72b8a586eb",
    "f2/base_limit_1_72057594037926936/01": "9761dd5997496829e2cde530b66ecfb99ab465cc47f039be6f912b72b8a586eb",
    "f2/base_limit_1_72057594037927536/10": "5550311c3670604bbddc8094b6b09641e809ca091317c4a1cb0220356d2f9fd8",
    "f2/base_limit_1_72057594037927536/00": "5550311c3670604bbddc8094b6b09641e809ca091317c4a1cb0220356d2f9fd8",
    "f2/base_limit_1_72057594037927536/11": "c49e6bab49b4492f957bb9350904b77911d275633792b36705c2e11706f0ec50",
    "f2/base_limit_1_72057594037927536/01": "c49e6bab49b4492f957bb9350904b77911d275633792b36705c2e11706f0ec50",
    "f2/base_limit_-1_72057594037926936/10": "2e443733cd07c21ac045ed32f98c558f90138c9a81f328ce4c6e8cfef7787b8c",
    "f2/base_limit_-1_72057594037926936/00": "90e32ea4d08caea76ff6b2a4270c7d3c69dddbbd67ef47a15c9ee6d46f613d46",
    "f2/base_limit_-1_72057594037926936/11": "2e443733cd07c21ac045ed32f98c558f90138c9a81f328ce4c6e8cfef7787b8c",
    "f2/base_limit_-1_72057594037926936/01": "90e32ea4d08caea76ff6b2a4270c7d3c69dddbbd67ef47a15c9ee6d46f613d46",
    "f2/base_limit_-1_72057594037927536/10": "105d29f35e8a2e53a46d7543de9066abcdce8fee60b3bbc7059d867370ddfc59",
    "f2/base_limit_-1_72057594037927536/00": "db9af2e78aaf647c9a29cbb1c1d4a74250d1c68ee1a3fc5cc1d670aee93bcf99",
    "f2/base_limit_-1_72057594037927536/11": "105d29f35e8a2e53a46d7543de9066abcdce8fee60b3bbc7059d867370ddfc59",
    "f2/base_limit_-1_72057594037927536/01": "db9af2e78aaf647c9a29cbb1c1d4a74250d1c68ee1a3fc5cc1d670aee93bcf99",
    "f2/mostly_sorted_timestampish/10": "68633df15dafe658ccd7ce6af2f067133603937ea253311e16d30ba3bc364079",
    "f2/mostly_sorted_timestampish/00": "68633df15dafe658ccd7ce6af2f067133603937ea253311e16d30ba3bc364079",
    "f2/mostly_sorted_timestampish/11": "05843114930428d30c37c626760ed7fae3577b57b2047c20ec533eda0181a4d8",
    "f2/mostly_sorted_timestampish/01": "05843114930428d30c37c626760ed7fae3577b57b2047c20ec533eda0181a4d8",
    "chunks/sorted/511/10": "5b13ef1d5630b2b7164dc3aa3ab324922e8da4a5a3b6493a71bce51f23455e3e",
    "chunks/sorted/511/00": "9ae5da8d4996e0890a307e490a12c27bd378c2010205814d61d74af4f8920cb0",
    "chunks/sorted/511/11": "6a30f0019b010d281e1f0f11d56425dc0bcb43f1c74427f62f4c9eb8b0134beb",
    "chunks/sorted/511/01": "570264a7fc17810b1e4c2cebcc46527b3df70c8e6aba81ed29955ace53d6a9ec",
    "chunks/sorted/512/10": "f79945bf389eab1d6568165f407b9668903e41ee281c12aa2285d2ad0b94e92f",
    "chunks/sorted/512/00": "a25bbd1c4141e8c5f76e3206d14c4b2f66c8ebcfd9c056b9e841efa39b13851f",
    "chunks/sorted/512/11": "6c11c3b87d66186d22ebd5c2b57d9f8cac3449f474dad87dff9df9061d9a3a75",
    "chunks/sorted/512/01": "9810acc3652831c76d5493064fe9f17ee78c99baef2c1ffaf99a80dadc40da56",
    "chunks/sorted/513/10": "723da09d3e692368782d9cb93914de10d7763d27bcc33acbf7fcd415e2486601",
    "chunks/sorted/513/00": "b491def04fededd424f644f548173b7da079028a076c2b6b4a0eadc854f09056",
    "chunks/sorted/513/11": "c7916a81dc11051f55b7defc62ef7b6598dc6af8ca56cab7a3149b6bd8dfd0dc",
    "chunks/sorted/513/01": "78a9b3e5f3a50789ced869de84cd0ecc35816285dde56c01d0e33225969ce6ec",
    "chunks/sorted/1024/10": "5d6809ee0c77ddc2b75673b58bdcdc855594ad39647b296c872cc069b4d0a20a",
    "chunks/sorted/1024/00": "38330c5e9efb05ff2d1dff02324c4dd14dec5bb0428eea96236a01993224155e",
    "chunks/sorted/1024/11": "3267c46d1b7587ab8149953ecd31cb36362affc02f66605dc9a198c6e6963af8",
    "chunks/sorted/1024/01": "4909ab2c6f00a9c95a884ca78e2a08aa7a458f31a665d80fb369b10d76788e4c",
    "chunks/sorted/10000/10": "1fd9c206a5b4fd63b524c0f163fb505659bf87de6850105ec9e365f73ac08259",
    "chunks/sorted/10000/00": "abec4639f2b8a6b84eb40845e4f2d4ce4a4606706da373df6db56be20b0d081c",
    "chunks/sorted/10000/11": "a8a5b205b88ef36064a275739956a87145cbefb00bdff9fae62407e2093efd33",
    "chunks/sorted/10000/01": "323b25acdfece34f8e337fb7bf81ee1d83547c990e3f10d13c150337fbbcb602",
    "chunks/sorted/10272/10": "6609ed66cfd1621388027fe21fd9cdd7d76c1b1ebe7467ca805f86d37974f7f9",
    "chunks/sorted/10272/00": "b50b165e30a0fc20e686b8373e4b64bc27a55e0d9e06b9ae7c1d35cc160479ac",
    "chunks/sorted/10272/11": "a2ae152a2bd4836251f19a67a37c582ee3319d8294fa78dcff9c9a8bdf8eaaf6",
    "chunks/sorted/10272/01": "b134d92b1d3f925ed77f936921200dcb48a1236c3c563a204924dba38bdb0733",
    "chunks/constant/511/10": "3044998472ed667882921c72b6a5145238dfebb3200233afa516f223f44d0764",
    "chunks/constant/511/00": "89ef7a0bc6267c4bae251c3f5f21dd81b3c218071850846be6150bee845a73ae",
    "chunks/constant/511/11": "3044998472ed667882921c72b6a5145238dfebb3200233afa516f223f44d0764",
    "chunks/constant/511/01": "89ef7a0bc6267c4bae251c3f5f21dd81b3c218071850846be6150bee845a73ae",
    "chunks/constant/512/10": "38859e870394b85961dd3815709f6fdb4b4480351edae70a72960a91984079f5",
    "chunks/constant/512/00": "5aa4656da41afb137ce106704e9901562bcb4983b35b0daac80df128de2db897",
    "chunks/constant/512/11": "38859e870394b85961dd3815709f6fdb4b4480351edae70a72960a91984079f5",
    "chunks/constant/512/01": "5aa4656da41afb137ce106704e9901562bcb4983b35b0daac80df128de2db897",
    "chunks/constant/513/10": "562338913df7c697357aea2381b7ba97e3c8296de7dd1da9555d8e5ff95dbd08",
    "chunks/constant/513/00": "7e75d3c4787525299dec7f3e6831bced4ccbfe05ed690d10888e190d3ea0319a",
    "chunks/constant/513/11": "562338913df7c697357aea2381b7ba97e3c8296de7dd1da9555d8e5ff95dbd08",
    "chunks/constant/513/01": "7e75d3c4787525299dec7f3e6831bced4ccbfe05ed690d10888e190d3ea0319a",
    "chunks/constant/1024/10": "dd059a2f1bd9205cf359110d6ed3236614259267c0acb7e36e3d9bcd9b5659a3",
    "chunks/constant/1024/00": "3ec730520d0f860d67abc29043f7f939c74ed16d8390dd1101db349e7331c10a",
    "chunks/constant/1024/11": "dd059a2f1bd9205cf359110d6ed3236614259267c0acb7e36e3d9bcd9b5659a3",
    "chunks/constant/1024/01": "3ec730520d0f860d67abc29043f7f939c74ed16d8390dd1101db349e7331c10a",
    "chunks/constant/10000/10": "808cc9f2c4128a3a603c27c3d0dd2370d27f47d6dc84652f6dcfe9ca7f757428",
    "chunks/constant/10000/00": "da55a38403e6928684ee7c2801a3188bdf8a21ddb2b05434980f0daa393d1e33",
    "chunks/constant/10000/11": "808cc9f2c4128a3a603c27c3d0dd2370d27f47d6dc84652f6dcfe9ca7f757428",
    "chunks/constant/10000/01": "da55a38403e6928684ee7c2801a3188bdf8a21ddb2b05434980f0daa393d1e33",
    "chunks/constant/10272/10": "8546003aea1def2f7ff7216370e9a844deef89ccffc649503034ed9e5dc37661",
    "chunks/constant/10272/00": "68c3b474414b4326ccc76c7425258fa759fde06b83eb29155121268aed981408",
    "chunks/constant/10272/11": "8546003aea1def2f7ff7216370e9a844deef89ccffc649503034ed9e5dc37661",
    "chunks/constant/10272/01": "68c3b474414b4326ccc76c7425258fa759fde06b83eb29155121268aed981408",
    "chunks/random/511/10": "22432881ac7e468eb6fa4dc9007811ce910dc1b4ceaf1b1d68a522a624151689",
    "chunks/random/511/00": "425b105cc24b12ea03291a39971c14bf205aa9c890f6aa5fbcf1f75a4c89df2d",
    "chunks/random/511/11": "22432881ac7e468eb6fa4dc9007811ce910dc1b4ceaf1b1d68a522a624151689",
    "chunks/random/511/01": "425b105cc24b12ea03291a39971c14bf205aa9c890f6aa5fbcf1f75a4c89df2d",
    "chunks/random/512/10": "8ae97a3132d1ce1af7885e1ade4d87af80c6de9d431268140f0943f1c2971fa4",
    "chunks/random/512/00": "c2d146ef232018042d9d83930c4ddc0effe2e74a87a9d747d35a7ce014e4a6d9",
    "chunks/random/512/11": "8ae97a3132d1ce1af7885e1ade4d87af80c6de9d431268140f0943f1c2971fa4",
    "chunks/random/512/01": "c2d146ef232018042d9d83930c4ddc0effe2e74a87a9d747d35a7ce014e4a6d9",
    "chunks/random/513/10": "d0ef087c72c03e1b89c2f9785889a66c8fc8521d8d892c6c42e361e94685777b",
    "chunks/random/513/00": "20875a6c885d3c6fe642c2745baf88a218eacf56ae7613bf702c79c2bd00ede5",
    "chunks/random/513/11": "d0ef087c72c03e1b89c2f9785889a66c8fc8521d8d892c6c42e361e94685777b",
    "chunks/random/513/01": "20875a6c885d3c6fe642c2745baf88a218eacf56ae7613bf702c79c2bd00ede5",
    "chunks/random/1024/10": "40203024f7fd512d704f09ab745dbd5d5a14ec9329825c440b0f717faf5fa3be",
    "chunks/random/1024/00": "3345e68724efa9f72e2e0c9dc6036d8f14c9643a68f2ffa17d31cc15e881f9b9",
    "chunks/random/1024/11": "40203024f7fd512d704f09ab745dbd5d5a14ec9329825c440b0f717faf5fa3be",
    "chunks/random/1024/01": "3345e68724efa9f72e2e0c9dc6036d8f14c9643a68f2ffa17d31cc15e881f9b9",
    "chunks/random/10000/10": "62fa57cd9bf616c73192fb16c2d762cea71b1147f435b6c607d16f724d96080d",
    "chunks/random/10000/00": "088234368b6837f809671c2a6cc5c2c15aa7981ab7e78675d4ce8118878c8b1e",
    "chunks/random/10000/11": "62fa57cd9bf616c73192fb16c2d762cea71b1147f435b6c607d16f724d96080d",
    "chunks/random/10000/01": "088234368b6837f809671c2a6cc5c2c15aa7981ab7e78675d4ce8118878c8b1e",
    "chunks/random/10272/10": "27b6ae46ea01446e28bf34190f9140b66a3931afe91b38e07758df3376eabdbb",
    "chunks/random/10272/00": "8bf6cd8bc3b69a03fb5ae16bf4e9be9b3efee080b6efbd2c2d804951f2d8f110",
    "chunks/random/10272/11": "27b6ae46ea01446e28bf34190f9140b66a3931afe91b38e07758df3376eabdbb",
    "chunks/random/10272/01": "8bf6cd8bc3b69a03fb5ae16bf4e9be9b3efee080b6efbd2c2d804951f2d8f110",
    "chunks/outliers/511/10": "3f4c5c39d86949262df0a8384d9f8eb4ef70aa2d5a96df8067c5601a4dc0f9f9",
    "chunks/outliers/511/00": "3f4c5c39d86949262df0a8384d9f8eb4ef70aa2d5a96df8067c5601a4dc0f9f9",
    "chunks/outliers/511/11": "7857471d0304fa2b1c70e5bd465573c1d7809839e3ef09f9c5d6d2a84c108893",
    "chunks/outliers/511/01": "7857471d0304fa2b1c70e5bd465573c1d7809839e3ef09f9c5d6d2a84c108893",
    "chunks/outliers/512/10": "98c49342545fa91f0a6641aca5dfc805c73feabb6b83dc11820477ef6981ed27",
    "chunks/outliers/512/00": "98c49342545fa91f0a6641aca5dfc805c73feabb6b83dc11820477ef6981ed27",
    "chunks/outliers/512/11": "ae5f864a3aa27a5773057a880fbd65858723e725c077fde3f295af89d3ee37c9",
    "chunks/outliers/512/01": "ae5f864a3aa27a5773057a880fbd65858723e725c077fde3f295af89d3ee37c9",
    "chunks/outliers/513/10": "463a4aab705566e9f968b6199124a578ae4d86efe6432a33b5d04fe8e3e0ebfc",
    "chunks/outliers/513/00": "75292c085164dddbb450a1e8e05fe5ddf5fa7fb3b468455f476de40f332ed3d9",
    "chunks/outliers/513/11": "fa10c603c27df39cac731fb2f6cc3e3675fd71e5e583bd6cf21350c3240b0e66",
    "chunks/outliers/513/01": "ddb62aa325c121c95da4ccdb7b985119f17148edc5018b88bb9b2d8d732b913a",
    "chunks/outliers/1024/10": "2c6fe41c8b34e682fad58bcd073a740c71d87d83130eb095c67142346910117e",
    "chunks/outliers/1024/00": "2c6fe41c8b34e682fad58bcd073a740c71d87d83130eb095c67142346910117e",
    "chunks/outliers/1024/11": "e717ae6504466c9de8c08478772571bf03a5b418c29399e7902ee8d89d0ad8eb",
    "chunks/outliers/1024/01": "e717ae6504466c9de8c08478772571bf03a5b418c29399e7902ee8d89d0ad8eb",
    "chunks/outliers/10000/10": "4c8d966c646cd12ebfea51e91ad27fc8925cd6169ae3e79ab654facfef472fcb",
    "chunks/outliers/10000/00": "4c8d966c646cd12ebfea51e91ad27fc8925cd6169ae3e79ab654facfef472fcb",
    "chunks/outliers/10000/11": "8d1fed47da82241c7c028c192c40e64b3c5efa5be9557cb2dc29c9db31e5d8ed",
    "chunks/outliers/10000/01": "8d1fed47da82241c7c028c192c40e64b3c5efa5be9557cb2dc29c9db31e5d8ed",
    "chunks/outliers/10272/10": "9fec17fb2aa3eaf5f27bd4c9710ac10fc7fad1ec22630633c1cb109bf41be648",
    "chunks/outliers/10272/00": "9fec17fb2aa3eaf5f27bd4c9710ac10fc7fad1ec22630633c1cb109bf41be648",
    "chunks/outliers/10272/11": "bd46285aea763b081117a947db57a20505b2c99efcd6b4cdd7d18a7652f6c94a",
    "chunks/outliers/10272/01": "bd46285aea763b081117a947db57a20505b2c99efcd6b4cdd7d18a7652f6c94a",
    "chunks/negative_min/511/10": "ccc9e5cc8767a3a7692363b7a3d7a8f04496b47a486e6c8a6974c731691513eb",
    "chunks/negative_min/511/00": "d7e6ac682b9612437e670f531e58f56b1f62b491f978fb8b9e3ac77090b2c7c8",
    "chunks/negative_min/511/11": "ccc9e5cc8767a3a7692363b7a3d7a8f04496b47a486e6c8a6974c731691513eb",
    "chunks/negative_min/511/01": "d7e6ac682b9612437e670f531e58f56b1f62b491f978fb8b9e3ac77090b2c7c8",
    "chunks/negative_min/512/10": "a0103eb3336d25488139d5d566777ad8efce582d1ccbb801e0edc2b84388faa4",
    "chunks/negative_min/512/00": "1ce5d9c9b39f9627283381ffb47abb4aae46933b666fd6c7878056d37e57a031",
    "chunks/negative_min/512/11": "a0103eb3336d25488139d5d566777ad8efce582d1ccbb801e0edc2b84388faa4",
    "chunks/negative_min/512/01": "1ce5d9c9b39f9627283381ffb47abb4aae46933b666fd6c7878056d37e57a031",
    "chunks/negative_min/513/10": "bec1695e920dbe5a10eb14a749021a990f1c2622d8cf8d74e22bc11f9278ecdf",
    "chunks/negative_min/513/00": "d0dbb0f30ae280e0bc440e8f431bc6ebafbfd1971925615c93c498b43969cd82",
    "chunks/negative_min/513/11": "4f64ed2f458d1ae219e4acf620ae4079abebb811d63a32b483b04640bd7d2239",
    "chunks/negative_min/513/01": "2fda537b0d432089ce18c0a663acf7c45661b4d037a131573991347529562ece",
    "chunks/negative_min/1024/10": "2c73ef947909b726d3d409c86bcefb1f0532992b5c026818d39b8d3940691cea",
    "chunks/negative_min/1024/00": "b5aa703bfbd7373782bc484e1144201907693831524be0e1a8546bf1eaa60d84",
    "chunks/negative_min/1024/11": "2c73ef947909b726d3d409c86bcefb1f0532992b5c026818d39b8d3940691cea",
    "chunks/negative_min/1024/01": "b5aa703bfbd7373782bc484e1144201907693831524be0e1a8546bf1eaa60d84",
    "chunks/negative_min/10000/10": "d1cf48d1d316a6a69a91b74b5e5e48edef3cde9b557ebf6a405ebd44a193d7a9",
    "chunks/negative_min/10000/00": "2f0a13cc10c24bc1a3b83542d7a1da20c4ea8fef0f2a10f56902b5a189953460",
    "chunks/negative_min/10000/11": "2c96b808a086a6b246512fcaabae1466faefe94447a4fbf8c1f7c3189c531088",
    "chunks/negative_min/10000/01": "491699ed67c65c0924fa21d711d1ecca329132f83781588ad36d4980ff784b10",
    "chunks/negative_min/10272/10": "bfed9ea8855485069cba5546a1cb58bc603bcb1e188f7d2e5ce59258d2fcf8d6",
    "chunks/negative_min/10272/00": "09c0c945375d88be46e2bdb61bef6c7870a8c2db30495b3518b1568cc05f6bd7",
    "chunks/negative_min/10272/11": "5e609c6c4d200e8ec75fab8658658fff0d29d2a987d745d5bdb3d81c5b6d94d6",
    "chunks/negative_min/10272/01": "0f2a87071a09bb6d6b3511e8cdeb5f9b35cd9f03495a1b0825c24b8159e3d1b8",
    "chunks/sawtooth/511/10": "c36e19b1b43b1c56551280897945bf292cfc47fdc94ae5960b42bcaa31df1997",
    "chunks/sawtooth/511/00": "7f7938b43c957510e70dfa3cb2673671e070f2e06e773715829bc85e394f0469",
    "chunks/sawtooth/511/11": "81386d9ced8f9fd74857668694817ec6ed9481f97ee964d6787265ff03dc8a3a",
    "chunks/sawtooth/511/01": "516b606fe7522ab2dfec9a0c61b4d52353de424bb34fc67cb3f36fd38acc1eea",
    "chunks/sawtooth/512/10": "3c1f266e1551d2bf3395fb8ac055707f74d8c170310325c7c861cb9a5c392b10",
    "chunks/sawtooth/512/00": "17f7af05bceadf5a25a4b76c4b38b8a01fc72fff46df3e07bc4d912080e29f35",
    "chunks/sawtooth/512/11": "e46249030b5c11bd85e7b3600df55ec669a165c68be901583073d14db2b4f346",
    "chunks/sawtooth/512/01": "c94a254a3f6ff504d0ba79e722edfc5daecbb067b2bd2187bc58d65bf33d6378",
    "chunks/sawtooth/513/10": "d789ed259c21ba14b12254f2fd69dfbca6bda0defba8813ce02d86ea9cb3d1aa",
    "chunks/sawtooth/513/00": "508f0b16440cabab6d00b9ed32440edf5211db80d8efd766054f3144c2552c15",
    "chunks/sawtooth/513/11": "534c80824374693d884dbf66efb76504225a1391b65482158a3a7369a5ade514",
    "chunks/sawtooth/513/01": "be37fb4685989dc4c867da36fbf3a274abb1458294450759534a4d54e7701b2a",
    "chunks/sawtooth/1024/10": "52f0e25c91a96afad232008cd950ccfd3a1736d92c43637a2e680f836b8ca35e",
    "chunks/sawtooth/1024/00": "6107cc033ba586714671ff2cf0d964ef09c948fb44b4638f4a451ce445249f09",
    "chunks/sawtooth/1024/11": "a6c90b8f58a4a6a13edcd829c611939bcae49f0ec6ffba7b12f093e82250c9c9",
    "chunks/sawtooth/1024/01": "2bcf62c5b747bf3d73336ac88bb12eb1fb5159c3fc4acef739911e3adbc0cd7a",
    "chunks/sawtooth/10000/10": "c6dc42d5f8b97dfa19be1a686a61dd048620f23c306d72a3070c379605117205",
    "chunks/sawtooth/10000/00": "727b1bd6f52da5b92dbaa9273b1f559a1f7eb94ae2665269f9aa5516e970a91e",
    "chunks/sawtooth/10000/11": "9c93b8694f5aa56a1b71d1aa85b5266ba1571a354040813eaaf6c3b56855f3e7",
    "chunks/sawtooth/10000/01": "46a1ca132a5cdc83b5ca1107f2fd93b3d44d7add530fae009a3c12d3286fb5fa",
    "chunks/sawtooth/10272/10": "ed3b404efb16c21bad7608ee8125d256cb4db3ee69ecce3cb911e5e943f7bb09",
    "chunks/sawtooth/10272/00": "71b9244bdcb24a3372552ec076ddc0cf34114e5affddc598b77da22a5baee99e",
    "chunks/sawtooth/10272/11": "05a58311d300e556466449663aac107eabf3b983cb886ce5ca42c9c27e8b4920",
    "chunks/sawtooth/10272/01": "ce258a87cfe431182b14fd76cdfbb722d46dd346e60dcfd01e1c0f9b56c2752b",
    "chunks/mixed/511/10": "595b6fbe3ed8219585b705ae96a3b4337a9c185d25e2c13ac519d37860159d22",
    "chunks/mixed/511/00": "0727b44add14f80a73f3623437b0a4a94ad9c47c680e14d3eba5ead9b8f13212",
    "chunks/mixed/511/11": "394c243b82916b60fc2c7754494a6b694f5ae469269e416205b600db52616bc2",
    "chunks/mixed/511/01": "5dbe36a85cb4ccab1f342a4845b01a6cb03277ffc5d4c6900d4cf3ef4460481a",
    "chunks/mixed/512/10": "0c651e1d86d4ae2c63c366a8b6c9501081368c7327c2027192699ce4ab83f5f2",
    "chunks/mixed/512/00": "b0927c92c23124eaa3952e8a304595bceeca086a3e94c5b0c26d3ec2f60f78f9",
    "chunks/mixed/512/11": "ce2e71670e4ba32c3b5b070994f1513bff7a35e7badcf210e29f8e902e4a2b77",
    "chunks/mixed/512/01": "f3bac49df7ddbe8826fa8750094f5b1f3a785d83e7f7de37e706b03dbb04ee87",
    "chunks/mixed/513/10": "96c482f005a9f60f1b2a2d6db3461a4adc614d61fbc68ebf6d9878ceb9617239",
    "chunks/mixed/513/00": "421e4b20f3aff78c20111c34d58541c463d0e67f8ff372989f67fe849e205068",
    "chunks/mixed/513/11": "96c482f005a9f60f1b2a2d6db3461a4adc614d61fbc68ebf6d9878ceb9617239",
    "chunks/mixed/513/01": "421e4b20f3aff78c20111c34d58541c463d0e67f8ff372989f67fe849e205068",
    "chunks/mixed/1024/10": "19775b25f7c113362602fed35dd6ce69f255962cbd8911e26b8c080ec5763f47",
    "chunks/mixed/1024/00": "2216736a0cbecbc53a327533bbda85c841f4b2e19084aa984d77e77c76d222a5",
    "chunks/mixed/1024/11": "7e984c595fea32d8ae87ef7e35c8ae1c57404be316df77e12399275c27b59a94",
    "chunks/mixed/1024/01": "9c9ed6018b73699ba96eda83a1f5aa9505e66207d8da86be8f508ffac0d4f821",
    "chunks/mixed/10000/10": "f54e77cd11e5ce7e3e23032505bb202ee81ac06f8d1f336abc81edce31b88036",
    "chunks/mixed/10000/00": "d00101f8544823b2301e275b8bed84ca585d2454ca8d15c6798cab24d5210f3a",
    "chunks/mixed/10000/11": "f62e5dea4fb71c0b102a534a2b46b2f4a91e40b624bfdf2fb6840296574eed65",
    "chunks/mixed/10000/01": "4a5e63730057a41785134a05d946c08bad852e93e97c2d75a8a2db2060c2edab",
    "chunks/mixed/10272/10": "c1802d4e554934e79a7a0c40d613e61d3ef75f61b3c2fa94c2587eb89b28fc3f",
    "chunks/mixed/10272/00": "d2fe9b66fe7fa764dde0878cce53e3a86cc77af7fc6a6c6ab20c06a108550fd6",
    "chunks/mixed/10272/11": "d117d70d8b95cbdaec4c35a5184bc666a5bdb4592e6444f1c298fadfbb4af1b6",
    "chunks/mixed/10272/01": "69a51cc022da44ad9825304f54953e3f11fb5ce4599bc068d654339b1819245a",
    "lineitem/l_orderkey/whole": "a6907a9edd7906f9493431ba6d4d9c807381b7e30183f079aeb2a28b3d5d3d4a",
    "lineitem/l_orderkey/rowgroups": "6a4efc10f2afe1f9554adb5ae363bbe308e289bd2c1b259725a4c27386f0cd13",
    "lineitem/l_partkey/whole": "dde9892fcf03f0815a346b1861c8376d64ac062bc73625b5830314c778545ce8",
    "lineitem/l_partkey/rowgroups": "c36f0de848927a61fe423509d8266fb06ac7de7ab3f918cf6f535259bc48e2bc",
    "lineitem/l_suppkey/whole": "97e751f078bdbcc59d97f731971649f1a0043d79841d415e0c3a9c59f5175032",
    "lineitem/l_suppkey/rowgroups": "031f72454ce0f6c2ea2c719c1b0b2038d2c73aa98cf38fabfc61f9852dff4b69",
    "lineitem/l_linenumber/whole": "a70f7d58a914d60388e5c0b627cffb59caa22c81ea9b5d252d6ee21a88636b0f",
    "lineitem/l_linenumber/rowgroups": "6ed487b6d2b3dcfe5acdafd08a2124d372449f55cc89fd03e5d362f8c1232b4c",
}


def test_golden_digests_cover_every_case():
    names = [c[0] for c in _cases()]
    assert len(names) == len(set(names))
    assert set(names) <= set(GOLDEN)


def test_rlev2_bytes_match_golden():
    bad = [
        name
        for name, v, signed, aligned in _cases()
        if _digest(v, signed, aligned) != GOLDEN[name]
    ]
    assert not bad, f"{len(bad)} streams changed: {bad[:10]}"


@pytest.mark.skipif(not os.path.exists(LINEITEM), reason="sf0.1 testdata absent")
def test_rlev2_lineitem_bytes_match_golden():
    bad = [
        name
        for name, v, signed, aligned in _lineitem_cases()
        if _digest(v, signed, aligned) != GOLDEN[name]
    ]
    assert not bad, f"streams changed: {bad}"


@pytest.mark.skipif(not os.path.exists(LINEITEM), reason="sf0.1 testdata absent")
@pytest.mark.parametrize("batch", [rlev2.BATCH_VALUES, 25_000, 1])
def test_rlev2_cuts_match_per_group_golden(monkeypatch, batch):
    """One ``encode`` call with row-group cuts returns, per group, the
    bytes of encoding that group alone, whatever the planner's batch size."""
    import pyarrow.parquet as pq

    monkeypatch.setattr(rlev2, "BATCH_VALUES", batch)
    t = pq.read_table(LINEITEM, columns=list(LINEITEM_INT_COLUMNS))
    for col in LINEITEM_INT_COLUMNS:
        v = t.column(col).to_numpy().astype(I64)
        blobs = rlev2.encode(v, signed=True, cuts=range(10_000, v.size, 10_000))
        assert len(blobs) == (v.size + 9_999) // 10_000
        h = hashlib.sha256()
        for blob in blobs:
            h.update(blob)
        assert h.hexdigest() == GOLDEN[f"lineitem/{col}/rowgroups"], col


def _prefix_decode_mismatches(cases) -> list[str]:
    bad = []
    for name, v, signed, aligned in cases:
        for part in v if isinstance(v, list) else [v]:
            blob = rlev2.encode(part, signed, aligned)
            for k in {1, 511, 512, 513, part.size - 1, part.size}:
                if 0 <= k <= part.size and not np.array_equal(
                    rlev2.decode(blob, k, signed), part[:k]
                ):
                    bad.append(f"{name}[:{k}]")
    return bad


def test_rlev2_prefix_decodes_of_golden_inputs():
    """Every golden input decodes back from its stream, whole and cut
    short: around the 512-value scope and one value short of the end."""
    bad = _prefix_decode_mismatches(_cases())
    assert not bad, f"{len(bad)} prefix decodes differ: {bad[:10]}"


@pytest.mark.skipif(not os.path.exists(LINEITEM), reason="sf0.1 testdata absent")
def test_rlev2_prefix_decodes_of_lineitem_inputs():
    bad = _prefix_decode_mismatches(_lineitem_cases())
    assert not bad, f"prefix decodes differ: {bad[:10]}"


if __name__ == "__main__":
    cases = list(_cases())
    if os.path.exists(LINEITEM):
        cases += list(_lineitem_cases())
    print("GOLDEN = {")
    for name, v, signed, aligned in cases:
        print(f'    "{name}": "{_digest(v, signed, aligned)}",')
    print("}")
