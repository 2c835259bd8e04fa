"""bench.py throttle-gradient self-rejection (LESSONS #42/#60).

Round 14 caught three throttle-degraded bench records by hand-running a
per-chunk median-drift diagnostic; ``bench.gradient_check`` automates
it. Round 15 hit the second throttle shape — a run started after hours
of sustained load is throttled from chunk 0, flat 1.3-1.6x drift with
a quiet ambient_load — and added the uniform-throttle breadth check.
These tests feed synthetic run/record pairs — no Spark involved — and
pin the statuses: a rising ramp is rejected, broad flat drift is
rejected, a NARROW regression passes through to the per-query
regression gate, and sparse overlap refuses to adjudicate.
"""

from __future__ import annotations

import bench


def _names(n: int) -> list[str]:
    return [f"q{i:03d}" for i in range(n)]


def _prev(names: list[str]) -> dict[str, float]:
    return {n: 1.0 for n in names}


def test_gradient_ramp_rejected():
    # the r14 signature: chunk 0 ~1.03x, then 1.2 / 1.4 / 1.55 —
    # exactly the degraded attempts the hand check discarded
    names = _names(180)
    ramp = [1.03, 1.22, 1.40, 1.55]
    timings = {
        n: ramp[i // 45] for i, n in enumerate(names)
    }
    status, chunks = bench.gradient_check(timings, _prev(names), names)
    assert status == "degraded_host"
    assert [c["median_drift"] for c in chunks] == ramp


def test_flat_broad_slow_run_rejected_as_uniform_throttle():
    # r15 specimen: a run started on a residually-throttled host
    # drifts ~1.3-1.6x across EVERYTHING with no ramp (the throttle
    # was already at depth when chunk 0 ran) and a quiet ambient_load.
    # Breadth is the tell — no code change moves 100% of 180
    # independent queries at once.
    names = _names(180)
    timings = {n: 1.3 for n in names}
    status, _ = bench.gradient_check(timings, _prev(names), names)
    assert status == "degraded_host"


def test_narrow_regression_passes_through():
    # 20 of 180 queries at 3x (a real per-query regression cluster):
    # breadth is low, so this is NOT quarantined — the per-query
    # regression gate owns it and flags each offender individually.
    names = _names(180)
    timings = {n: (3.0 if i < 20 else 1.0) for i, n in enumerate(names)}
    status, _ = bench.gradient_check(timings, _prev(names), names)
    assert status == "ok"


def test_healthy_run_ok():
    names = _names(180)
    timings = {n: 1.0 + 0.01 * ((i * 7) % 5) for i, n in enumerate(names)}
    status, _ = bench.gradient_check(timings, _prev(names), names)
    assert status == "ok"


def test_non_monotone_spike_not_rejected():
    # a mid-suite noise burst that recovers is not the throttle shape
    names = _names(180)
    ramp = [1.02, 1.60, 1.05, 1.30]
    timings = {n: ramp[i // 45] for i, n in enumerate(names)}
    status, _ = bench.gradient_check(timings, _prev(names), names)
    assert status == "ok"


def test_sparse_overlap_refuses_to_adjudicate():
    # fewer than two chunks with >=5 shared queries: nothing to say
    names = _names(180)
    timings = {n: 2.0 for n in names[:4]}
    status, _ = bench.gradient_check(timings, _prev(names), names)
    assert status == "insufficient"


def test_no_committed_record_is_insufficient():
    names = _names(90)
    timings = {n: 1.5 for n in names}
    status, chunks = bench.gradient_check(timings, {}, names)
    assert status == "insufficient"
    assert chunks == []


def test_record_target_gating():
    """Only a canonical-SF run at the committed record's core count
    may overwrite BENCH_LOCAL.json — an 8-core scaling pass once
    overwrote the 32-core record and poisoned the gate. Every other
    run writes a sidecar named by its own sf and core count, so an
    8-core record and a 16-core record never replace each other."""
    assert bench.record_target(0.1, 32, 32, "ok") == "BENCH_LOCAL.json"
    assert bench.record_target(0.1, 8, 32, "ok") == "BENCH_SCALING_c8.json"
    assert bench.record_target(0.1, 16, 32, "ok") == "BENCH_SCALING_c16.json"
    assert (
        bench.record_target(0.001, 4, 32, "ok") == "BENCH_SMOKE_sf0.001_c4.json"
    )
    assert (
        bench.record_target(0.01, 4, 32, "ok") == "BENCH_SMOKE_sf0.01_c4.json"
    )
    # a record without a core count is not same-core: only a run at
    # the default core count may replace it
    assert bench.record_target(0.1, 8, None, "ok") == "BENCH_SCALING_c8.json"
    assert (
        bench.record_target(0.1, int(bench.DEFAULT_CPUS), None, "ok")
        == "BENCH_LOCAL.json"
    )
    assert (
        bench.record_target(0.1, 32, 32, "degraded_host")
        == "BENCH_DEGRADED.json"
    )
    assert (
        bench.record_target(0.1, 8, 32, "degraded_host")
        == "BENCH_DEGRADED.json"
    )
