"""The clean-window gate that decides which records enter the headline
medians — side-blind storm exclusion (bench.py _record_is_clean)."""

import bench


def _rec(canaries, input_sys=5.0, pyscan_sys=5.0, ref_sys=1.0, user=11.0):
    return {
        "host_canary_s": canaries,
        "input_core_s_per_gib_xl": user + input_sys,
        "input_user_core_s_per_gib_xl": user,
        "pyscan_core_s_per_gib_xl": user + pyscan_sys,
        "pyscan_user_core_s_per_gib_xl": user,
        "ref_core_s_per_gib_xl": user + ref_sys,
        "ref_user_core_s_per_gib_xl": user,
    }


def test_clean_record_passes():
    assert bench._record_is_clean(_rec([0.5, 1.2, 2.0], input_sys=30.0))


def test_endpoint_canary_storm_rejected():
    assert not bench._record_is_clean(_rec([0.5, 9.0]))


def test_mid_canary_storm_rejected():
    assert not bench._record_is_clean(_rec([0.5, 12.0, 0.6]))


def test_hidden_storm_rejected_by_sys_cpu_even_with_clean_canaries():
    # the r5 window-1 shape: clean endpoint canaries, input leg faulting
    assert not bench._record_is_clean(_rec([0.8, 1.4], input_sys=111.7))
    # the r4 window-5 shape (the round-4 cherry-pick): input 218 sys
    assert not bench._record_is_clean(_rec([0.7, 2.7], input_sys=218.5))


def test_gate_is_per_leg():
    assert not bench._record_is_clean(_rec([1.0], pyscan_sys=41.0))
    assert not bench._record_is_clean(_rec([1.0], ref_sys=13.0))
    assert bench._record_is_clean(_rec([1.0], pyscan_sys=39.0, ref_sys=11.0))


def test_missing_cpu_keys_fall_back_to_canaries_only():
    assert bench._record_is_clean({"host_canary_s": [1.0, 2.0]})
    assert not bench._record_is_clean({"host_canary_s": [1.0, 9.5]})
    assert not bench._record_is_clean({})


def test_window_medians_fence_by_engine_generation(tmp_path):
    """Medians must not average records measured on different engine
    code: only records whose engine_generation matches the current
    constant aggregate (old records default to generation 0)."""
    import json as _json

    bdir = tmp_path / "BENCH"
    bdir.mkdir()
    old = {  # pre-change engine: would drag the median to 2.0
        "host_canary_s": [0.5],
        "pyscan_vs_reference_wall_xl": 2.0,
    }
    new = dict(old, pyscan_vs_reference_wall_xl=1.2,
               engine_generation=bench.ENGINE_GENERATION)
    (bdir / "bench_r5_window1.json").write_text(_json.dumps(old))
    (bdir / "bench_r5_window2.json").write_text(_json.dumps(new))
    cur = dict(old, pyscan_vs_reference_wall_xl=1.3,
               engine_generation=bench.ENGINE_GENERATION)
    import os as _os
    here = _os.path.dirname(_os.path.abspath(bench.__file__))
    rel = _os.path.relpath(str(bdir), here)
    out = bench.window_medians(cur, bench_dir=rel)
    assert out["windows_considered"] == 2
    assert out["windows_all_generations"] == 3
    assert out["pyscan_vs_reference_wall_xl_median"] == 1.25
    assert out["pyscan_vs_reference_wall_xl_windows"] == 2


def test_xxl_decode_field_gated_on_its_own_legs():
    """The 9x decode A/B (round-5 addition) must ride the same per-field
    gate: its ratio enters the medians iff BOTH its legs are clean, and
    a storm on either side excludes it regardless of whom it flatters."""
    clean = {
        "decode_nd_xxl_sys_core_s_per_gib": 8.0,
        "ref_read_xxl_sys_core_s_per_gib": 1.0,
        "decode_neardata_gbps_xxl": 6.0,
        "ref_decode_gbps_xxl": 9.0,
        "decode_vs_reference_wall_xxl": 1.5,
    }
    bests = {"decode_nd_xxl": 6.0, "ref_read_xxl": 9.0}
    assert bench._field_is_clean(
        clean, "decode_vs_reference_wall_xxl", False, bests
    )
    stormy_ours = dict(clean, decode_nd_xxl_sys_core_s_per_gib=55.0)
    assert not bench._field_is_clean(
        stormy_ours, "decode_vs_reference_wall_xxl", True, bests
    )
    # degraded reference leg (sys-invisible): rate-sanity excludes the
    # flattering ratio
    slow_ref = dict(clean, ref_decode_gbps_xxl=3.0,
                    decode_vs_reference_wall_xxl=0.5)
    assert not bench._field_is_clean(
        slow_ref, "decode_vs_reference_wall_xxl", True, bests
    )


# ---- per-field surgical gate (_field_is_clean) -----------------------------


def _ratio_rec(pyscan_sys=5.0, ref_sys=1.0, pyscan_gbps=1.2, ref_gbps=2.0):
    return {
        "pyscan_core_s_per_gib_xl": 11.0 + pyscan_sys,
        "pyscan_user_core_s_per_gib_xl": 11.0,
        "ref_core_s_per_gib_xl": 11.0 + ref_sys,
        "ref_user_core_s_per_gib_xl": 11.0,
        "encode_gbps_pyscan_xl": pyscan_gbps,
        "ref_gbps_xl": ref_gbps,
        "pyscan_vs_reference_wall_xl": ref_gbps / pyscan_gbps,
    }


def test_field_gate_salvages_clean_leg_from_stormy_record():
    # window-3 shape: record-level gate fails (mid canary), pyscan leg clean
    r = _ratio_rec()
    bests = {"pyscan": 1.2, "ref": 2.0}
    assert bench._field_is_clean(r, "encode_gbps_pyscan_xl", False, bests)


def test_field_gate_excludes_ratio_when_either_legs_sys_storms():
    bests = {"pyscan": 1.2, "ref": 2.0}
    r = _ratio_rec(ref_sys=24.3)  # window-3's stormed reference writer
    assert not bench._field_is_clean(r, "pyscan_vs_reference_wall_xl", True, bests)
    r = _ratio_rec(pyscan_sys=55.0)  # our side storms: same exclusion
    assert not bench._field_is_clean(r, "pyscan_vs_reference_wall_xl", True, bests)


def test_field_gate_rate_sanity_catches_sys_invisible_degradation():
    # window-2 shape: reference writer at 25% of its cross-window best
    # with LOW sys - flattering ratio must still be excluded
    r = _ratio_rec(ref_sys=3.5, ref_gbps=0.505)
    bests = {"pyscan": 1.2, "ref": 2.0}
    assert not bench._field_is_clean(r, "pyscan_vs_reference_wall_xl", True, bests)
    # side-blind: OUR leg degraded sys-invisibly -> same exclusion
    r = _ratio_rec(pyscan_gbps=0.3)
    assert not bench._field_is_clean(r, "pyscan_vs_reference_wall_xl", True, bests)


def test_field_gate_falls_back_to_record_gate_without_leg_data():
    assert bench._field_is_clean({}, "pyscan_vs_reference_wall_xl", True, {})
    assert not bench._field_is_clean({}, "pyscan_vs_reference_wall_xl", False, {})
    # field with no declared legs: always the record gate
    assert bench._field_is_clean(_ratio_rec(), "size_vs_reference", True, {})
    assert not bench._field_is_clean(_ratio_rec(), "size_vs_reference", False, {})


def test_window_medians_counts_per_field_windows():
    out = bench.window_medians({})
    # every median must carry its window count and a range
    for k in list(out):
        if k.endswith("_median"):
            base = k[: -len("_median")]
            assert f"{base}_windows" in out and f"{base}_range" in out


# ---- cross-round capability baseline for protocol-stable legs --------------


def test_pool_leg_bests_draw_on_prior_round_records():
    # All of this round's pool captures storm-degraded (the r5 window 1-3
    # shape): the prior round's clean capture must set the capability, so
    # the 50% rate-sanity rule excludes the degraded values.
    cur = [{"decode_pool_gbps": 2.9}, {"decode_pool_gbps": 1.6}]
    prior = [{"decode_pool_gbps": 14.6, "ref_gbps_xl": 9.9}]
    bests = bench._leg_bests(cur, prior)
    assert bests["decode_pool"] == 14.6
    # XL A/B legs changed protocol at ratio_protocol 2: prior-round values
    # must NOT leak into their baselines
    assert "ref" not in bests
    for r in cur:
        r["decode_pool_sys_core_s_per_gib"] = 2.0
        assert not bench._field_is_clean(r, "decode_pool_gbps", True, bests)
    clean = {"decode_pool_gbps": 8.0, "decode_pool_sys_core_s_per_gib": 2.0}
    assert bench._field_is_clean(clean, "decode_pool_gbps", True, bests)


# ---- adaptive pool reps (_pool_reps) ----------------------------------------


def test_pool_reps_stops_when_two_best_walls_agree():
    calls = []

    def run_once():
        calls.append(1)
        return len(calls)

    walls, syss, extra = bench._pool_reps(run_once, rounds=3)
    # identical near-zero walls agree immediately after the minimum rounds
    assert len(walls) == 3 and len(syss) == 3 and extra == 3


def test_pool_reps_keeps_measuring_while_walls_improve():
    import time as _t

    durations = iter([0.30, 0.20, 0.12, 0.08, 0.05, 0.05, 0.05, 0.05])

    def run_once():
        _t.sleep(next(durations))

    walls, _, _ = bench._pool_reps(run_once, rounds=3, max_rounds=8)
    # a storm-decay series (each rep faster) must not stop at 3 reps
    assert len(walls) >= 5
    assert min(walls) < 0.08


def _full_record() -> dict:
    """A record with every compact key at realistic widths, a long canary
    list and the per-query timings that used to overflow the line."""
    rec = {k: 1.234567 for k in bench._COMPACT_KEYS}
    for k in bench._COMPACT_KEYS:
        if k.endswith("_range"):
            rec[k] = [0.987654, 1.234567]
    rec.update(
        metric="pages_encode_gbps", unit="GB/s", headline_strategy="pyscan",
        ratio_protocol="interleaved-a-b-min-of-3-xl-3x-xxl-9x",
        host_canary_s=[1.234567] * 40,
        queries={f"query_{i:02d}_with_a_long_name_s": 12.345678 for i in range(42)},
    )
    return rec


def test_compact_line_fits_the_stdout_tail():
    """The bench's runner keeps the last 2000 bytes of stdout; the compact
    line and its two newlines must fit with room to spare, and parse."""
    import json

    line = bench.compact_line(_full_record())
    assert len("\n" + line + "\n") <= 1900
    parsed = json.loads(line)
    assert "queries" not in parsed
    assert parsed["metric"] == "pages_encode_gbps"
    assert parsed["full_record"] == "BENCH_RESULT.json"
    # the headline medians outrank the long tail that gets dropped
    assert "pyscan_vs_reference_wall_xl_median" in parsed


def test_compact_line_keeps_every_key_when_short():
    import json

    rec = {"metric": "m", "value": 1.0, "unit": "GB/s", "queries": {"q": 1.0}}
    assert json.loads(bench.compact_line(rec)) == {
        "metric": "m", "value": 1.0, "unit": "GB/s",
        "full_record": "BENCH_RESULT.json",
    }


def test_xxl_decode_throughputs_have_window_medians():
    assert "decode_neardata_gbps_xxl" in bench._WINDOW_FIELDS
    assert "ref_decode_gbps_xxl" in bench._WINDOW_FIELDS
