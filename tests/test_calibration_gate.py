"""Unit tests for the two-axis measurement gate (bench.probes_quiet).

r8 proved compute-only gating passes during bandwidth-degraded host
phases (scale_runs_r8/5m_mmap_cache_summary.md "calibration blind
spot"); r9 added the stream-copy bandwidth axis. These tests pin the
decision table with synthetic probe dicts — the live contended-host
demonstration is scripts/bw_gate_selftest.py (artifact committed under
scale_runs_r9/).
"""

from bench import (
    BW_GATE,
    CALIB_BW_ANCHOR,
    CALIB_R4,
    attempt_key,
    bw_ratio,
    compute_ratio,
    probes_quiet,
)

QUIET = {
    "matmul_1536_f32_sec": CALIB_R4["matmul_1536_f32_sec"],
    "mp8_matmul_sec": CALIB_R4["mp8_matmul_sec"],
    "stream_copy256mb_sec": CALIB_BW_ANCHOR,
}


def _with(**kw):
    d = dict(QUIET)
    d.update(kw)
    return d


def test_quiet_both_axes_passes():
    assert compute_ratio(QUIET) == 1.0
    assert bw_ratio(QUIET) == 1.0
    assert probes_quiet(QUIET, gate=1.25)


def test_bandwidth_storm_alone_rejected():
    # the r8 blind spot: compute probes at anchor, bandwidth 2x — the
    # old gate passed this, the new one must not
    dirty = _with(stream_copy256mb_sec=CALIB_BW_ANCHOR * 2.0)
    assert compute_ratio(dirty) == 1.0
    assert not probes_quiet(dirty, gate=1.25)


def test_compute_storm_alone_rejected():
    dirty = _with(matmul_1536_f32_sec=CALIB_R4["matmul_1536_f32_sec"] * 3)
    assert bw_ratio(dirty) == 1.0
    assert not probes_quiet(dirty, gate=1.25)


def test_missing_bandwidth_probe_rejected():
    # pre-r8 probe dicts lack the field; a gate that silently passed
    # them would regress to compute-only gating
    legacy = dict(QUIET)
    del legacy["stream_copy256mb_sec"]
    assert bw_ratio(legacy) is None
    assert not probes_quiet(legacy, gate=1.25)


def test_bw_gate_band_edges():
    assert probes_quiet(
        _with(stream_copy256mb_sec=CALIB_BW_ANCHOR * BW_GATE * 0.999),
        gate=1.25,
    )
    assert not probes_quiet(
        _with(stream_copy256mb_sec=CALIB_BW_ANCHOR * BW_GATE * 1.001),
        gate=1.25,
    )


def test_explicit_bw_gate_override():
    mild = _with(stream_copy256mb_sec=CALIB_BW_ANCHOR * 1.4)
    assert probes_quiet(mild, gate=1.25)  # default 1.5 band
    assert not probes_quiet(mild, gate=1.25, bw_gate=1.3)


def _attempt(valid, queries_valid, value):
    return {
        "calibration_valid": valid,
        "queries_valid": {f"q{i}": v for i, v in enumerate(queries_valid)},
        "value": value,
    }


def _best(*attempts):
    return max(attempts, key=attempt_key)


def test_attempt_key_valid_beats_faster_invalid():
    slow_valid = _attempt(True, [True, True], 40.0)
    fast_invalid = _attempt(False, [True, True], 30.0)
    assert _best(fast_invalid, slow_valid) is slow_valid
    assert _best(slow_valid, fast_invalid) is slow_valid


def test_attempt_key_all_invalid_prefers_most_valid_queries():
    fast_few = _attempt(False, [True, False, False], 20.0)
    slow_most = _attempt(False, [True, True, False], 50.0)
    assert _best(fast_few, slow_most) is slow_most


def test_attempt_key_zero_value_is_not_missing():
    zero = _attempt(False, [True], 0.0)
    positive = _attempt(False, [True], 5.0)
    missing = _attempt(False, [True], None)
    assert _best(positive, zero) is zero
    assert _best(missing, positive) is positive
    assert attempt_key(zero) > attempt_key(missing)
