"""End-of-round artifact gate: the builder runs this LAST, before the
round's final commit.

Two process lapses motivated it: r9 shipped without BENCH_r{N}_local
/SCALE_REPORT artifacts at all, and r10's bench was initially committed
at a non-final HEAD (the engine changed after the timings were taken,
so the committed numbers described code that no longer existed).  This
tool makes both impossible to miss:

  R1. BENCH_r{N}_local.json exists for the round being built
      (N = max committed CORRECTNESS round + 1), parses, and carries
      the headline queries plus the sf1_synth section (a missing
      synth section means .synthdata/sf1 was not regenerated — the
      silent-skip failure mode TESTDATA.md warns about);
  R2. SCALE_REPORT_r{N}.txt exists and is non-trivial;
  R3. the bench artifacts are FRESH relative to the engine: no bench
      input (bench.py, __spark_entry__.py, the engine package, tools/)
      has a commit NEWER than the artifact's last commit, the artifact
      does not SHARE a commit with an engine change (freshness would
      be unprovable — commit artifacts separately, after the final
      code commit), and no input has uncommitted modifications.  An
      artifact that is itself untracked or modified in the working
      tree is accepted — that is exactly the just-ran-about-to-commit
      state — provided the engine inputs are clean.

Usage: python tools/round_check.py        (exit 0 = safe to end round)
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_INPUTS = ["bench.py", "__spark_entry__.py",
                "university_data_lakehouse_spark", "tools"]


def _git(*args: str) -> str:
    return subprocess.run(["git", "-C", REPO, *args], check=True,
                          capture_output=True, text=True).stdout.strip()


def current_round() -> int:
    """The live round, post-round aware (tools/roundinfo.py): N+1 while
    the builder works, N right after the driver drops round N's
    artifacts — so an end-of-round re-run checks the artifacts that
    actually exist instead of demanding a round nobody started."""
    if REPO not in sys.path:   # script-mode: sys.path[0] is tools/
        sys.path.insert(0, REPO)
    from tools.roundinfo import round_state  # noqa: PLC0415

    return round_state(REPO).round


def check_round(n: int) -> list[str]:
    errs: list[str] = []
    bench_name = f"BENCH_r{n:02d}_local.json"
    bench = os.path.join(REPO, bench_name)
    report = os.path.join(REPO, f"SCALE_REPORT_r{n:02d}.txt")

    if not os.path.exists(bench):
        errs.append(f"R1 {bench_name} missing — run bench.py and copy "
                    "bench_full.json there before ending the round")
    else:
        try:
            with open(bench) as fh:
                data = json.load(fh)
            if not data.get("queries"):
                errs.append(f"R1 {bench_name} has no queries section")
            if not data.get("sf1_synth", {}).get("queries"):
                errs.append(f"R1 {bench_name} lacks the sf1_synth "
                            "section — regenerate .synthdata/sf1 "
                            "(tools/synth_scale.py) and re-run bench")
        except (json.JSONDecodeError, OSError) as exc:
            errs.append(f"R1 {bench_name} unreadable: {exc}")

    if not os.path.exists(report):
        errs.append(f"R2 SCALE_REPORT_r{n:02d}.txt missing — pipe "
                    "tools/scale_report.py output there")
    elif os.path.getsize(report) < 200:
        errs.append(f"R2 SCALE_REPORT_r{n:02d}.txt suspiciously small")

    dirty = _git("status", "--porcelain", "--", *BENCH_INPUTS)
    if dirty:
        errs.append("R3 bench inputs have uncommitted changes — commit "
                    "them, re-run bench, THEN round_check:\n      "
                    + "\n      ".join(dirty.splitlines()))

    if os.path.exists(bench):
        art_dirty = _git("status", "--porcelain", "--", bench_name)
        if not art_dirty:  # artifact is committed: verify freshness
            art_commit = _git("log", "-1", "--format=%H", "--", bench_name)
            code_commit = _git("log", "-1", "--format=%H", "--",
                               *BENCH_INPUTS)
            if art_commit and code_commit and art_commit == code_commit:
                # a single commit carrying BOTH the artifact and an
                # engine change cannot prove the timings were taken at
                # that code state (the artifact may predate the edit)
                # — commit bench artifacts on their own, after the
                # final code commit (r11 review)
                errs.append(
                    f"R3 {bench_name} and bench inputs share commit "
                    f"{art_commit[:9]} — freshness is unprovable; "
                    "commit the artifact separately after the final "
                    "code commit")
            elif art_commit and code_commit:
                # fresh iff the code commit is an ancestor of the
                # artifact commit — i.e. nothing changed after the
                # timings were taken
                anc = subprocess.run(
                    ["git", "-C", REPO, "merge-base", "--is-ancestor",
                     code_commit, art_commit]).returncode
                if anc != 0:
                    errs.append(
                        f"R3 {bench_name} committed at {art_commit[:9]} "
                        f"but bench inputs changed later at "
                        f"{code_commit[:9]} — re-run bench at HEAD "
                        "(the r10 near-miss)")
    return errs


def main() -> int:
    n = current_round()
    errs = check_round(n)
    if errs:
        print(f"round_check r{n}: NOT READY")
        for e in errs:
            print(f"  {e}")
        return 1
    print(f"round_check r{n}: OK — artifacts present, fresh at HEAD")
    return 0


if __name__ == "__main__":
    sys.exit(main())
