"""Pins for the r20 remeasure rules (ADVICE_r19 items 2-3 +
VERDICT_r19 task 5's mechanical rollforward).

These test the PURE rule functions in scripts/remeasure_r20.py and
scripts/remeasure_envelope_r20.py — no Spark session needed. They fail
against the r19 scripts: r19's envelope has no
`current_round_bench_files` (its canary pool hard-coded
bench_r19_local.json and omitted the four sibling same-HEAD passes,
ADVICE_r19 #2), no `drift_pool` (its drift guard mixed the canary's
RAW ratio with canary-ADJUSTED rows, ADVICE_r19 #3), its
CANARY2_ARCHIVE lacks the r19 baselines, and its envelope ARCHIVES
lack the five r19 same-HEAD passes. The ADVICE_r18 rules (#1
archive-only regime selection, #2 drift floor) are re-pinned against
the r20 modules so the rollforward can't silently drop them.
"""

from __future__ import annotations

import importlib.util
import os

import pytest


def _load(fn: str):
    spec = importlib.util.spec_from_file_location(
        fn.removesuffix(".py"),
        os.path.join(os.path.dirname(__file__), "..", "scripts", fn),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def rules():
    return _load("remeasure_r20.py")


@pytest.fixture(scope="module")
def envelope():
    return _load("remeasure_envelope_r20.py")


# --- current-round canary pool is a glob (ADVICE_r19 #2) ---

def test_current_round_pool_globs_every_same_head_pass(envelope, tmp_path):
    # The exact ADVICE_r19 #2 scenario: multiple same-HEAD passes on
    # disk. r19 hand-picked one; r20 must pool them all.
    for fn in (
        "bench_r20_local.json",
        "bench_r20_local_rerun.json",
        "bench_r20_local_quiet.json",
    ):
        (tmp_path / fn).write_text("{}")
    # decoys that must NOT enter the pool
    (tmp_path / "bench_r19_local.json").write_text("{}")
    (tmp_path / "BENCH_r20.json").write_text("{}")
    got = envelope.current_round_bench_files(str(tmp_path))
    assert [os.path.basename(p) for p in got] == [
        "bench_r20_local.json",
        "bench_r20_local_quiet.json",
        "bench_r20_local_rerun.json",
    ]


def test_current_round_pool_empty_is_empty(envelope, tmp_path):
    # Before the first bench pass lands the pool is just empty — the
    # remeasure artifacts' own canary_runs still feed samples_considered.
    assert envelope.current_round_bench_files(str(tmp_path)) == []


def test_current_round_glob_is_r20(envelope):
    assert envelope.CURRENT_BENCH_GLOB == "bench_r20_local*.json"


# --- drift guard scale homogeneity (ADVICE_r19 #3) ---

def test_drift_pool_excludes_the_canary_row(envelope):
    # The exact ADVICE_r19 #3 scenario: the canary's RAW
    # median-of-archives ratio sits alongside canary-ADJUSTED rows.
    # The guard's input pool must drop it and keep everything else.
    inputs = {"pricing_summary": 1.2, "q_a": 1.0, "q_b": 1.05, "q_c": 0.98}
    pool = envelope.drift_pool(inputs)
    assert pool == {"q_a": 1.0, "q_b": 1.05, "q_c": 0.98}


def test_drift_pool_passthrough_without_canary(envelope):
    inputs = {"q_a": 1.5, "q_b": 0.9}
    assert envelope.drift_pool(inputs) == inputs


def test_canary_raw_ratio_cannot_tip_the_drift_fraction(envelope):
    # n=3 adjusted rows all quiet; a hot canary RAW ratio would have
    # made it 1/4 flagged under r19 (still OK) — but at 2 quiet + 1
    # hot-adjusted rows, an ALSO-hot canary would have pushed r19 to
    # 2/4 > 1/3 = RERUN_ROUND on mixed scales. r20 judges the
    # homogeneous 1/3 set only.
    inputs = {"pricing_summary": 1.5, "q_a": 1.2, "q_b": 1.0, "q_c": 1.0}
    verdict, flagged, rationale = envelope.round_drift_verdict(
        envelope.drift_pool(inputs)
    )
    assert verdict == "OK"  # 1/3 flagged is not strictly > 1/3
    assert flagged == ["q_a"]
    assert "canary excluded" in rationale or "ADVICE_r19" in rationale


# --- canary2 archive rollforward (VERDICT_r19 task 5) ---

def test_canary2_archive_table_carries_r17_to_r19_baselines(rules):
    # r17/r18 entries carried verbatim; r19 appended from
    # bench_r19_local_quiet.json (the QUIET pass — the archive of
    # record; the plain bench_r19_local.json was hot, 3.076) and
    # BENCH_r19.json canary2.
    assert rules.CANARY2_ARCHIVE["r17_local"] == pytest.approx(2.664)
    assert rules.CANARY2_ARCHIVE["r17_driver"] == pytest.approx(2.767)
    assert rules.CANARY2_ARCHIVE["r18_local"] == pytest.approx(2.445)
    assert rules.CANARY2_ARCHIVE["r18_driver"] == pytest.approx(2.965)
    assert rules.CANARY2_ARCHIVE["r19_local"] == pytest.approx(2.870)
    assert rules.CANARY2_ARCHIVE["r19_driver"] == pytest.approx(4.434)


# --- envelope archive rollforward (VERDICT_r19 tasks 3/5) ---

def test_envelope_archives_include_all_five_r19_passes(envelope):
    # All five same-HEAD r19 bench passes (envelope 100.6-125.2 s —
    # the widest machine-round envelope recorded) join the archive
    # table, every one covered by plan_audit_r19.json, following the
    # r14/r14_rerun and r18/r18_rerun precedent.
    table = {rnd: (bench, audit) for rnd, bench, audit in envelope.ARCHIVES}
    for rnd, bench in (
        ("r19", "bench_r19_local.json"),
        ("r19_rerun", "bench_r19_local_rerun.json"),
        ("r19_quiet", "bench_r19_local_quiet.json"),
        ("r19_quiet2", "bench_r19_local_quiet2.json"),
        ("r19_quiet3", "bench_r19_local_quiet3.json"),
    ):
        assert table[rnd] == (bench, "plan_audit_r19.json")
    assert table["r18"] == ("bench_r18_local.json", "plan_audit_r18.json")
    assert table["r18_rerun"] == (
        "bench_r18_local_rerun.json", "plan_audit_r18.json"
    )
    assert envelope.CURRENT_AUDIT == "plan_audit_r20.json"


# --- ADVICE_r18 rules re-pinned against the r20 modules ---

def test_sub_second_rule_is_archive_only(rules):
    assert rules.sub_second_rule(0.9) is True
    assert rules.sub_second_rule(1.0) is False  # strict <, documented
    assert rules.sub_second_rule(2.5) is False


def test_heavy_row_with_subsecond_best_stays_on_canary2(rules):
    # ADVICE_r18 #1: archive 2.5 s (heavy), current best dipped to
    # 0.9 s — must keep the canary2 denominator.
    assert rules.sub_second_rule(2.5) is False
    dec, best, med = rules.decisive_statistic(
        archive_sec=2.5,
        adj_light_best=0.40,
        adj_light_median=0.44,
        adj_c2_best=0.42,
        adj_c2_median=0.46,
    )
    assert dec == "canary2"
    assert best == 0.42 and med == 0.46


def test_heavy_row_without_canary2_falls_back_to_light(rules):
    dec, best, _ = rules.decisive_statistic(5.0, 1.08, 1.12, None, None)
    assert dec == "light"
    assert best == 1.08


def test_round_drift_small_n_cannot_rerun_round(envelope):
    # ADVICE_r18 #2 degenerate case re-pinned: n=1 at 1.11x.
    verdict, flagged, rationale = envelope.round_drift_verdict({"q": 1.11})
    assert verdict == "OK_SMALL_N"
    assert flagged == ["q"]
    assert "per-row" in rationale


def test_round_drift_small_n_boundary(envelope):
    assert envelope.MIN_DRIFT_ROWS == 3
    v2, _, _ = envelope.round_drift_verdict({"a": 1.5, "b": 1.5})
    assert v2 == "OK_SMALL_N"
    v3, flagged3, _ = envelope.round_drift_verdict(
        {"a": 1.5, "b": 1.5, "c": 1.0}
    )
    assert v3 == "RERUN_ROUND"
    assert flagged3 == ["a", "b"]


# --- carried r17-r19 rules, re-pinned against the r20 modules ---

def test_envelope_records_median_and_dissent(envelope):
    verdict, ratios, stats, rationale = envelope.envelope_verdict(
        "q",
        best=1.2,
        canary_median=0.5,
        per_round={"r14": (1.2, 0.5), "r15": (1.0, 0.5), "r16": (1.05, 0.5)},
        plan_identical={"r14": True, "r15": True, "r16": True},
    )
    assert verdict == "noise"  # parity with r14 (ratio 1.0)
    assert stats["rounds_compared"] == 3
    assert stats["dissenting_rounds"] == 2
    assert stats["median_of_archives_ratio"] == pytest.approx(1.143, abs=1e-3)
    assert "2/3" in rationale


def test_envelope_requires_plan_identity(envelope):
    verdict, ratios, stats, rationale = envelope.envelope_verdict(
        "q", 1.0, 0.5, {"r14": (1.2, 0.5)}, plan_identical={"r14": False}
    )
    assert verdict == "INVESTIGATE"
    assert ratios == {}
    assert stats["rounds_compared"] == 0
    assert "plan-identical" in rationale


def test_archive_canary_best_pools_block_samples(envelope):
    bench = {
        "queries": {"pricing_summary": 0.447},
        "canary": {"per_block_sec": [[0.51, 0.405, 0.48], [0.46, 0.44]]},
    }
    assert envelope.archive_canary_best(bench) == pytest.approx(0.405)


def test_canary_envelope_symmetric_pool(envelope):
    verdict, ratios, stats, _ = envelope.canary_envelope_verdict(
        best=0.484,
        per_round_raw={"r16": 0.405},
        plan_identical={"r16": True},
    )
    assert ratios["r16"] == pytest.approx(1.195, abs=1e-3)
    assert verdict == "INVESTIGATE"
    assert stats["dissenting_rounds"] == 1


def test_canary_rule_verdict_carried(rules):
    verdict, _ = rules.canary_rule_verdict(1.05, 0.55, 0.52)
    assert verdict == "noise"
    verdict, rationale = rules.canary_rule_verdict(1.05, 0.80, 0.52)
    assert verdict == "INVESTIGATE"
    assert "precondition" in rationale
    verdict, _ = rules.canary_rule_verdict(1.15, 0.55, 0.52)
    assert verdict == "INVESTIGATE"


def test_row_verdict_carried(rules):
    assert rules.row_verdict("q", 1.05, 1.2) == ("noise", True)
    assert rules.row_verdict("q", 1.15, 1.15) == ("INVESTIGATE", True)
    assert rules.row_verdict("q", 1.15, 1.0, {"q"}) == (
        "changed-path (expected)", False
    )
