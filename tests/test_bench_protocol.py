"""Pure-python tests of bench.py's scaling protocol invariants.

The scaling section is the round's evidence for the north rule's
N -> 4N efficiency gate, so its *protocol* discipline matters as much
as the engine's plans: symmetric attempt counts, one round rule that
reads only the clock (never a throughput or the efficiency value),
budget projections that a single contended observation cannot poison,
and SIGTERM snapshots that always parse. These tests stub the
subprocess legs — no Spark, they run in milliseconds — and pin each
rule so a later edit cannot silently weaken the measurement.
"""

from __future__ import annotations

import json
import os
import time

import pytest

import bench


@pytest.fixture()
def stub_env(monkeypatch):
    """Route _run_scaling's collaborators to deterministic stubs."""
    monkeypatch.setenv("SPARK_GRAFT_SCALING_ROWS", "100000")
    monkeypatch.setenv("SPARK_GRAFT_SCALING_MAX_ROUNDS", "3")
    monkeypatch.setattr(bench, "_ensure_scaling_input",
                        lambda n, seed=42: "/tmp/unused-fixture")
    monkeypatch.setattr(bench, "_PARTIAL_OUT", None)
    yield monkeypatch


def _legs(monkeypatch, schedule):
    """Install a stub leg runner fed from `schedule`: a list of
    (pairs_per_sec, wall_secs) consumed in call order (lo, hi, lo, hi,
    ...). wall_secs is simulated by advancing a fake clock, not by
    sleeping."""
    calls = {"i": 0, "cores": []}
    clock = {"t": 1000.0}

    monkeypatch.setattr(bench.time, "time", lambda: clock["t"])

    def fake_leg(sf_dir, cores, sp, bind, pages, timeout=3600):
        pps, wall = schedule[calls["i"]]
        calls["i"] += 1
        calls["cores"].append(cores)
        if wall > timeout:
            clock["t"] += timeout
            import subprocess
            raise subprocess.TimeoutExpired(cmd="leg", timeout=timeout)
        clock["t"] += wall
        return {"pairs_per_sec": pps, "f1": 0.999, "n_candidates": 391574}

    monkeypatch.setattr(bench, "_run_er_subprocess", fake_leg)
    return calls, clock


def test_quiet_run_symmetric_rounds_fill_budget(stub_env):
    """Quiet legs: the contract rounds run, then budget-filling keeps
    sampling symmetrically while the optimistic projection fits."""
    calls, clock = _legs(stub_env, [(1000, 470), (4000, 130)] * 3)
    res = bench._run_scaling("/x", clock["t"], 1800)
    assert res["low_leg_attempts"] == [1000, 1000, 1000]
    assert res["high_leg_attempts"] == [4000, 4000, 4000]
    assert res["scaling_efficiency"] == 1.0
    assert "stopped_early" not in res
    # alternating lo/hi, same cores each round
    assert calls["cores"] == [1, 4, 1, 4, 1, 4]


def test_contended_observation_cannot_poison_projection(stub_env):
    """Regression pin for the 2026-08-20 incident: round 1's hi leg ran
    489s (contended; quiet is ~130s). min(observed) alone projected an
    unaffordable retry and stopped at one round / eff 0.24. With the
    quiet-window seeds folded into the min, the already-scheduled round
    2 runs and best-of-N recovers the quiet number."""
    calls, clock = _legs(
        stub_env,
        [(878, 471), (832, 489),      # round 1: hi contended
         (880, 470), (2903, 151)])    # round 2: recovered
    # reproduce the incident's budget: round 1 ends with ~739s left
    res = bench._run_scaling("/x", clock["t"] - 100, 1800)
    assert len(res["high_leg_attempts"]) == 2
    assert res["pairs_per_sec_high"] == 2903
    assert res["scaling_efficiency"] == pytest.approx(
        2903 / (4 * 880), abs=1e-3)


def test_no_budget_no_round(stub_env):
    """When even a least-contended round cannot fit, scaling stops
    BEFORE burning a leg, and says so."""
    calls, clock = _legs(stub_env, [(1000, 470), (4000, 130)] * 2)
    # 200s left < the ~299s least-contended-round projection at 100k rows
    res = bench._run_scaling("/x", clock["t"] - 1600, 1800)
    assert calls["i"] == 0
    assert "error" in res and "deadline" in res["error"]


@pytest.mark.parametrize("schedule, deadline, rounds, best_hi, eff", [
    # a burst hits one hi attempt (37.5% spread): the round rule alone
    # runs the third round that recovers it
    ([(1000, 470), (4000, 130),
      (1000, 470), (2500, 210),
      (1000, 470), (3900, 135)], 5000, 3, 4000, 1.0),
    # round-4 artifact: both early hi attempts mildly, correlatedly
    # contended (spread 7.2%); the third round lands a quiet hi leg
    ([(2245, 470), (6173, 187),
      (2203, 490), (5729, 203),
      (2240, 470), (7900, 150)], 5000, 3, 7900, 7900 / (4 * 2245)),
    # contended non-best attempts and a deadline with no room for a
    # third round: best-of-2 stands, and the artifact says why
    ([(1000, 470), (4000, 130),
      (850, 530), (3400, 150)], 1300, 2, 4000, 1.0),
], ids=["burst", "correlated", "deadline"])
def test_rounds_run_until_max_rounds_or_deadline(stub_env, schedule, deadline,
                                                 rounds, best_hi, eff):
    """One rule: alternating rounds on BOTH legs until max_rounds (3 in
    stub_env) or until a least-contended round no longer fits the
    deadline. The rule never reads a throughput, so a round that already
    passes 0.8 still continues, and best-of-N keeps the same N on both
    legs. `stopped_early` is present exactly when fewer than max_rounds
    rounds ran."""
    calls, clock = _legs(stub_env, schedule)
    res = bench._run_scaling("/x", clock["t"], deadline)
    assert len(res["low_leg_attempts"]) == rounds
    assert len(res["high_leg_attempts"]) == rounds
    assert calls["cores"] == [1, 4] * rounds
    assert res["pairs_per_sec_high"] == best_hi
    assert res["scaling_efficiency"] == pytest.approx(eff, abs=1e-3)
    assert ("stopped_early" in res) == (rounds < 3)
    if rounds < 3:
        assert res["stopped_early"].startswith("deadline")


def test_budget_filling_rounds_use_leftover_deadline(stub_env):
    """Quiet triggers + leftover budget must NOT return early with
    unused deadline: rounds keep sampling (symmetrically, reading only
    the clock) up to max_rounds. Regression pin for the 2026-08-21
    rehearsal: best-of-2 with 755s unspent and a noisy fast leg."""
    calls, clock = _legs(
        stub_env,
        [(1000, 470), (3700, 140),    # quiet, no trigger fires
         (1000, 470), (3500, 148),
         (1005, 468), (4000, 130)])   # filled round finds the fast leg
    res = bench._run_scaling("/x", clock["t"], 2400)
    assert len(res["low_leg_attempts"]) == 3     # max_rounds in stub_env
    assert len(res["high_leg_attempts"]) == 3
    assert res["pairs_per_sec_high"] == 4000
    assert "stopped_early" not in res


def test_timed_out_leg_keeps_banked_attempts(stub_env):
    """A leg that outlives the remaining budget is killed by its own
    timeout; completed attempts stand and the result still parses."""
    calls, clock = _legs(
        stub_env,
        [(1000, 470), (4000, 130),
         (1000, 470), (4000, 99999)])  # round 2 hi leg hangs
    res = bench._run_scaling("/x", clock["t"] - 300, 1800)
    assert res["low_leg_attempts"] == [1000, 1000]
    assert res["high_leg_attempts"] == [4000]
    assert "stopped_early" in res
    # extra lo attempt can only LOWER the reported ratio — conservative
    assert res["scaling_efficiency"] == 1.0
    json.dumps(res)  # artifact-serializable


def test_sigterm_snapshot_banks_whole_rounds_only(stub_env):
    """The SIGTERM insurance snapshot refreshes at round boundaries, so
    whatever the handler prints has symmetric attempt counts."""
    base = {"metric": "end_to_end_sec", "value": 1.0}
    calls, clock = _legs(stub_env, [(1000, 470), (4000, 130)] * 3)
    res = bench._run_scaling("/x", clock["t"], 1800, base)
    snap = bench._PARTIAL_OUT
    assert snap is not None and "scaling" in snap
    sc = snap["scaling"]
    assert len(sc["low_leg_attempts"]) == len(sc["high_leg_attempts"])
    assert "sigterm" in sc["stopped_early"]
    # the snapshot is a superset of the headline object
    assert snap["metric"] == "end_to_end_sec"
    json.dumps(snap)
    # ... and the FINAL result of the normal path carries no sigterm note
    assert "stopped_early" not in res


def test_bind_ranges_fall_back_when_cpus_unavailable(monkeypatch):
    """Non-contiguous/offline CPU ids must yield unbound legs, not a
    taskset crash (ADVICE r3)."""
    monkeypatch.setattr(bench.os, "sched_getaffinity",
                        lambda pid: {0, 1, 2, 3}, raising=False)
    lo, hi = bench._bind_ranges(1)   # needs cpus 2..6
    assert lo is None and hi is None
    monkeypatch.setattr(bench.os, "sched_getaffinity",
                        lambda pid: set(range(32)), raising=False)
    lo, hi = bench._bind_ranges(1)
    assert lo == "2-2" and hi == "3-6"


def test_estimate_scales_with_rows(monkeypatch, stub_env):
    """Seeds scale linearly in SPARK_GRAFT_SCALING_ROWS so a smaller
    dev workload does not inherit the 100k-row projection."""
    monkeypatch.setenv("SPARK_GRAFT_SCALING_ROWS", "20000")
    calls, clock = _legs(stub_env, [(1000, 95), (4000, 28)] * 2)
    res = bench._run_scaling("/x", clock["t"] - 1500, 1800)  # 300s left
    # 1.1 * (470+140)*0.2 = 134s per round -> two rounds fit in 300s
    assert len(res["low_leg_attempts"]) == 2
