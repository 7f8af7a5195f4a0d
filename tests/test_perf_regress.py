"""tools/perf_regress.py classifier: the gating policy in fixtures.

The tool itself runs on the committed BENCH_r*_local.json pair; these
tests pin the CLASSIFIER semantics — ratio threshold, absolute jitter
floor, high-variance exemption, and the non-gating sf10 section — on
hand-built artifact pairs so a policy regression is caught without
real bench artifacts.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.perf_regress import compare


def _art(sf01=None, sf1=None, sf10=None):
    out = {"queries": sf01 or {}}
    if sf1 is not None:
        out["sf1_synth"] = {"queries": sf1}
    if sf10 is not None:
        out["sf10_synth"] = {"queries": sf10}
    return out


def _by_key(rows, section, key):
    return next(r for r in rows
                if r["section"] == section and r["key"] == key)


def test_ratio_over_threshold_with_real_growth_is_flagged():
    rows = compare(_art({"q": 1.0}), _art({"q": 1.6}), 1.4)
    r = _by_key(rows, "sf0.1", "q")
    assert r["flagged"] and r["gating"] and not r["high_variance"]


def test_sub_floor_absolute_growth_is_jitter_not_regression():
    # 0.1 -> 0.15 is 1.5x but only 0.05s — scheduler noise
    rows = compare(_art({"q": 0.1}), _art({"q": 0.15}), 1.4)
    assert not _by_key(rows, "sf0.1", "q")["flagged"]


def test_high_variance_keys_report_but_never_gate():
    rows = compare(_art(sf1={"multimodal_jpeg": 10.0}),
                   _art(sf1={"multimodal_jpeg": 15.0}), 1.4)
    r = _by_key(rows, "sf1_synth", "multimodal_jpeg")
    assert r["flagged"] and r["high_variance"]


def test_sf10_gates_only_past_the_widened_envelope():
    # 1.8x / +4s: real at sf0.1 scale, but inside sf10's documented
    # host-variance envelope (2x threshold, 10s absolute floor)
    rows = compare(_art(sf10={"q": 5.0}), _art(sf10={"q": 9.0}), 1.4)
    assert not _by_key(rows, "sf10_synth", "q")["flagged"]
    # a quadratic-blowup-shaped move (3x, +30s) flags AND gates
    rows = compare(_art(sf10={"q": 15.0}), _art(sf10={"q": 45.0}), 1.4)
    r = _by_key(rows, "sf10_synth", "q")
    assert r["flagged"] and r["gating"]
    # big ratio but tiny absolute growth stays quiet (5s < 10s floor)
    rows = compare(_art(sf10={"q": 1.0}), _art(sf10={"q": 6.0}), 1.4)
    assert not _by_key(rows, "sf10_synth", "q")["flagged"]


def test_keys_missing_from_either_round_are_skipped():
    rows = compare(_art({"old_only": 1.0}), _art({"new_only": 1.0}), 1.4)
    assert rows == []


def test_improvements_are_never_flagged():
    rows = compare(_art({"q": 2.0}), _art({"q": 1.0}), 1.4)
    r = _by_key(rows, "sf0.1", "q")
    assert not r["flagged"] and r["ratio"] == 0.5


def test_zero_old_median_is_a_measurement_not_missing():
    # a timing that rounded to 0.0 last round must still flag a real
    # regression (r11 ADVICE: `if not old` conflated zero with absent)
    rows = compare(_art({"q": 0.0}), _art({"q": 5.0}), 1.4)
    r = _by_key(rows, "sf0.1", "q")
    assert r["flagged"] and r["ratio"] == float("inf")
    # 0.0 -> 0.0 and 0.0 -> sub-floor growth stay quiet
    rows = compare(_art({"q": 0.0}), _art({"q": 0.0}), 1.4)
    assert not _by_key(rows, "sf0.1", "q")["flagged"]
    rows = compare(_art({"q": 0.0}), _art({"q": 0.1}), 1.4)
    assert not _by_key(rows, "sf0.1", "q")["flagged"]


def test_coverage_section_reports_but_never_gates():
    prev = {"queries": {}, "coverage": {"queries": {"c": 1.0}}}
    cur = {"queries": {}, "coverage": {"queries": {"c": 3.0}}}
    rows = compare(prev, cur, 1.4)
    r = _by_key(rows, "coverage", "c")
    assert r["flagged"] and not r["gating"]


def test_coverage_keys_partition_the_non_headline_registry():
    import __spark_entry__ as entry_mod
    import bench

    queries = entry_mod.queries()
    rest = set(queries) - set(bench.HEADLINE)
    # every non-HEADLINE key exactly once, and no HEADLINE key
    assert bench.coverage_keys(queries) == sorted(rest)


def test_high_variance_copy_matches_bench():
    # perf_regress duplicates bench.HIGH_VARIANCE so it never imports
    # the full engine (an import failure would silently empty the
    # exemption set and flip the gating policy) — this pin is what
    # keeps the copy honest
    import bench
    import tools.perf_regress as pr

    assert pr.HIGH_VARIANCE == bench.HIGH_VARIANCE


# ---- adjudication + reproduction downgrades (r13/r14) --------------------

from tools.perf_regress import (  # noqa: E402
    downgrade,
    load_adjudications,
    mark_sf_mismatch,
)


def _flag_rows(section="sf0.1", key="q", old=1.0, new=2.0, gating=True):
    return [{"section": section, "key": key, "old": old, "new": new,
             "ratio": round(new / old, 2), "flagged": True,
             "gating": gating, "high_variance": False}]


def _adj(evidence="quiet probe flat", ratio=None):
    return {"evidence": evidence, "ratio": ratio}


def test_adjudication_downgrades_matching_round_only():
    adj = {(12, "sf0.1", "q"): _adj()}
    # matching round: informational
    rows = _flag_rows()
    assert downgrade(rows, 12, adj, {}, 1.4) == []
    assert rows[0]["adjudicated"] == "quiet probe flat"
    # SAME flag next round: the record must NOT carry over
    rows = _flag_rows()
    assert downgrade(rows, 13, adj, {}, 1.4) == rows


def test_adjudication_is_section_and_key_scoped():
    adj = {(12, "sf1_synth", "q"): _adj("probe")}
    rows = _flag_rows(section="sf0.1", key="q")
    assert downgrade(rows, 12, adj, {}, 1.4) == rows       # wrong section
    rows = _flag_rows(section="sf1_synth", key="other")
    assert downgrade(rows, 12, adj, {}, 1.4) == rows       # wrong key


def test_adjudication_is_ratio_bounded():
    # r13 ADVICE: a record committed mid-round must not suppress a
    # LARGER regression when the round's artifact is regenerated after
    # the record — downgrade only up to recorded ratio * 1.1 slack
    adj = {(14, "sf0.1", "q"): _adj("probed at 1.5x", ratio=1.5)}
    rows = _flag_rows(old=1.0, new=2.5)                    # 2.5x > 1.65
    assert downgrade(rows, 14, adj, {}, 1.4) == rows
    rows = _flag_rows(old=1.0, new=1.55)                   # inside slack
    assert downgrade(rows, 14, adj, {}, 1.4) == []
    # a ratio-less legacy record downgrades unconditionally
    adj = {(14, "sf0.1", "q"): _adj("legacy record")}
    rows = _flag_rows(old=1.0, new=9.0)
    assert downgrade(rows, 14, adj, {}, 1.4) == []


def test_sf10_flag_needs_reproduction_against_older_artifact():
    # flagged vs prev (45 vs 15 = 3x, +30s) but FLAT vs the older
    # baseline (40s): a one-artifact spike, downgraded informational
    rows = _flag_rows(section="sf10_synth", old=15.0, new=45.0)
    assert downgrade(rows, 13, {}, {"sf10_synth": {"q": 40.0}}, 1.4) == []
    assert rows[0]["unreproduced"] == 40.0
    # reproduces vs the older baseline too (10s -> 45s): still gates
    rows = _flag_rows(section="sf10_synth", old=15.0, new=45.0)
    assert downgrade(rows, 13, {}, {"sf10_synth": {"q": 10.0}}, 1.4) == rows
    # no older artifact carrying the key: never a silent pass
    rows = _flag_rows(section="sf10_synth", old=15.0, new=45.0)
    assert downgrade(rows, 13, {}, {}, 1.4) == rows


def test_sf1_flag_needs_reproduction_against_older_artifact():
    # the r13 pattern (VERDICT item 3): a noisy-sf1 pair flags today
    # (2.0x, +1s vs prev) but is FLAT vs the round-before-previous
    # artifact — a host window spanning all same-window repeats, so
    # the flag self-clears to informational under the r14 rule
    rows = _flag_rows(section="sf1_synth", old=1.0, new=2.0)
    assert downgrade(rows, 14, {}, {"sf1_synth": {"q": 1.9}}, 1.4) == []
    assert rows[0]["unreproduced"] == 1.9
    # a real regression reproduces vs the older baseline (its own
    # 1.4x envelope + 0.2s floor) and still gates
    rows = _flag_rows(section="sf1_synth", old=1.0, new=2.0)
    assert downgrade(rows, 14, {}, {"sf1_synth": {"q": 0.5}}, 1.4) == rows
    # no older artifact carrying the key: never a silent pass
    rows = _flag_rows(section="sf1_synth", old=1.0, new=2.0)
    assert downgrade(rows, 14, {}, {}, 1.4) == rows


def test_reproduction_does_not_touch_other_sections():
    # an sf0.1 flag with an older-baseline entry still gates — the
    # reproduction relaxation is sf1/sf10-only (host-envelope
    # rationale; sf0.1 repeats are spread across the run)
    rows = _flag_rows(section="sf0.1", old=1.0, new=2.0)
    assert downgrade(rows, 13, {}, {"sf0.1": {"q": 2.0}}, 1.4) == rows


def test_coverage_cap_change_voids_the_comparison():
    # r13 ADVICE: a key newly entering COVERAGE_CAP_SF001 is timed at
    # sf0.01 against an sf0.1 baseline — a fake ~10x improvement; a
    # key LEAVING the cap set would raise a spurious ~10x flag
    rows = _flag_rows(section="coverage", old=0.3, new=3.0, gating=False)
    mark_sf_mismatch(rows, {"q": True}, set())          # capped -> uncapped
    assert not rows[0]["flagged"] and rows[0]["sf_mismatch"] == (True, False)
    # same-status comparisons are untouched (both uncapped here)
    rows = _flag_rows(section="coverage", old=1.0, new=3.0, gating=False)
    mark_sf_mismatch(rows, {"q": False}, set())
    assert rows[0]["flagged"] and "sf_mismatch" not in rows[0]
    # non-coverage sections are never touched
    rows = _flag_rows(section="sf0.1", old=1.0, new=3.0)
    mark_sf_mismatch(rows, {"q": True}, set())
    assert rows[0]["flagged"] and "sf_mismatch" not in rows[0]


def test_committed_adjudications_file_is_well_formed():
    import json
    import tools.perf_regress as pr

    adj = load_adjudications()
    assert adj, "BENCH_ADJUDICATIONS.json missing or empty"
    sections = {s[0] for s in pr._SECTIONS}
    with open(pr.ADJUDICATIONS_FILE) as fh:
        for row in json.load(fh):
            assert isinstance(row["round"], int)
            assert row["section"] in sections
            assert isinstance(row["key"], str) and row["key"]
            assert isinstance(row["evidence"], str) and row["evidence"]
            assert isinstance(row.get("ratio"), (int, float))


def test_cap_status_of_unknown_era_baselines_defaults_to_uncapped():
    # a baseline merged from an artifact predating capped_sf001
    # tracking has no recorded status: treated as uncapped, so a
    # currently-uncapped key compares normally and a currently-capped
    # key is voided (the fake-10x-improvement direction)
    rows = _flag_rows(section="coverage", old=1.0, new=3.0, gating=False)
    mark_sf_mismatch(rows, {}, set())            # unknown prev, uncapped now
    assert rows[0]["flagged"] and "sf_mismatch" not in rows[0]
    rows = _flag_rows(section="coverage", old=1.0, new=0.12, gating=False)
    mark_sf_mismatch(rows, {}, {"q"})            # unknown prev, capped now
    assert "sf_mismatch" in rows[0]
