"""Single source of truth for "which round is this?" for the
end-of-round artifact gate (tools/round_check.py).

Inferring the round as ``max(CORRECTNESS_r*.json) + 1`` misbehaves in
the inter-round state (VERDICT r11, What's wrong #1/#3): the moment
round N's (still-untracked) CORRECTNESS file lands, "+1" jumps
to N+1 even though the bench artifacts still belong to round N, and a
gate re-run demands artifacts for a round nobody had started.  The
missing concept is the POST-ROUND state, detectable from git alone:

  post-round  = the newest CORRECTNESS artifact landed and NO engine
                input (bench.py, __spark_entry__.py, the package,
                tools/) has changed since — committed or uncommitted.
                The live round is N (just finished).
  mid-round   = engine work exists after the newest artifact (the
                builder has started round N+1).

``round_state()`` returns (newest_recorded, post_round, round): the
``round`` field is what every consumer should use — N in post-round
state, N+1 in mid-round state.
"""

from __future__ import annotations

import os
import re
import subprocess
from dataclasses import dataclass

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_INPUTS = ["bench.py", "__spark_entry__.py",
                 "university_data_lakehouse_spark", "tools"]


@dataclass(frozen=True)
class RoundState:
    newest_recorded: int   # max N over CORRECTNESS_rN.json (0 if none)
    post_round: bool       # artifact landed, zero engine work since
    round: int             # the live round: N post-round, N+1 mid-round


def _git(repo: str, *args: str) -> str:
    try:
        return subprocess.run(
            ["git", "-C", repo, *args], check=True,
            capture_output=True, text=True).stdout.strip()
    except (subprocess.CalledProcessError, FileNotFoundError):
        return ""


def correctness_files(repo: str = REPO) -> dict[int, str]:
    """Round number -> CORRECTNESS filename, from the working tree.

    Working-tree listing (not git ls-files) is deliberate: a
    just-landed untracked file is exactly the signal that flips
    ``post_round`` — hiding it would report mid-round for a round
    that already finished."""
    out: dict[int, str] = {}
    for name in os.listdir(repo):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", name)
        if m:
            out[int(m.group(1))] = name
    return out


def round_state(repo: str = REPO) -> RoundState:
    files = correctness_files(repo)
    if not files:
        return RoundState(0, False, 1)
    n = max(files)

    # uncommitted engine edits: the next round's work has started —
    # mid-round, whatever the artifact's git state
    if _git(repo, "status", "--porcelain", "--", *ENGINE_INPUTS):
        return RoundState(n, False, n + 1)

    # newest artifact untracked/modified: the driver just wrote it and
    # no engine work has followed — the canonical post-round state
    if _git(repo, "status", "--porcelain", "--", files[n]):
        return RoundState(n, True, n)

    art_commit = _git(repo, "log", "-1", "--format=%H", "--", files[n])
    eng_commit = _git(repo, "log", "-1", "--format=%H", "--",
                      *ENGINE_INPUTS)
    if not art_commit or not eng_commit or art_commit == eng_commit:
        # unknowable or a shared commit (engine changed at-or-after
        # the artifact): treat as mid-round, the strict reading
        return RoundState(n, False, n + 1)
    post = subprocess.run(
        ["git", "-C", repo, "merge-base", "--is-ancestor",
         eng_commit, art_commit],
        capture_output=True).returncode == 0
    return RoundState(n, post, n if post else n + 1)
