"""bench.emit contract: the stdout line must always survive the
driver's bounded output tail, and the sidecar must be byte-complete.

The driver keeps the last ~2000 chars of bench output and parses the
JSON line from that tail; the full result outgrew it at r6 and every
driver BENCH_r{6..10}.json recorded parsed:null. These tests pin the
r17 fix (VERDICT r16 item 2): one compact line <= 1900 chars for ANY
registry size, and a timed key NEVER silently disappears from the
"queries" dict — the encoder drops extras/precision first, and past
that emits an EMPTY dict plus a queries_in pointer (complete-or-
absent; the r16 trim-the-cheapest path made the driver record timed
keys as dropped_from_bench). Full result intact in bench_full.json.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def _emit(out, tmp_path):
    sidecar = tmp_path / "bench_full.json"
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        bench.emit(out, full_path=str(sidecar))
    lines = buf.getvalue().strip().splitlines()
    assert len(lines) == 1, "emit must print exactly ONE line"
    return json.loads(lines[0]), len(lines[0]), sidecar


def test_small_result_keeps_every_query(tmp_path):
    out = {"metric": "headline_total_runtime", "value": 1.0,
           "core_total": 0.5, "sf": 0.1,
           "queries": {f"q{i}": i / 10 for i in range(10)}}
    d, n, sidecar = _emit(out, tmp_path)
    assert n <= 1800
    assert len(d["queries"]) == 10 and d["n_queries"] == 10
    assert json.loads(sidecar.read_text()) == out


def test_headline_sized_result_keeps_all_keys_2dec(tmp_path):
    # the real r16 shape: 69 keys at ~17-char names overflowed the old
    # encoder, which trimmed the 8 cheapest keys -> driver recorded
    # them dropped. The new encoder must keep EVERY key at 2-decimal
    # precision by shedding extras instead.
    import random
    rng = random.Random(7)
    # 18-char names ≈ the real HEADLINE average (17.3 chars over the
    # r16 69-key line)
    names = [f"module_{i:02d}_operator" for i in range(69)]
    out = {"metric": "headline_total_runtime", "value": 51.38,
           "core_total": 19.563, "sf": 0.1,
           "queries": {k: round(rng.uniform(0.2, 3.3), 3) for k in names},
           "sf1_synth": {"queries": {}, "total": 0.0, "core_total": 67.4}}
    d, n, _ = _emit(out, tmp_path)
    assert n <= 1900
    assert set(d["queries"]) == set(names)
    for k, v in out["queries"].items():
        assert d["queries"][k] == round(v, 2)


def test_oversized_result_is_complete_or_absent(tmp_path):
    # 200 long-named keys cannot fit even at 1 decimal: the line must
    # carry an EMPTY queries dict plus the sidecar pointer — never a
    # silently partial dict (partial reads as dropped queries).
    huge = {"metric": "headline_total_runtime", "value": 1.0,
            "core_total": 0.5, "sf": 0.1,
            "queries": {f"a_very_long_operator_name_{i:04d}": float(i)
                        for i in range(200)}}
    # 60 keys that fit only in the last shrink tier: 1-decimal
    # medians with every extra dropped except the "full" pointer
    tight = {"metric": "headline_total_runtime", "value": 1.0,
             "core_total": 0.5, "sf": 0.1,
             "queries": {"q" * 19 + f"{i:03d}": i + 0.25
                         for i in range(60)}}
    for out in (huge, tight):
        d, n, sidecar = _emit(out, tmp_path)
        assert n <= 1900
        # every line points at the sidecar, whichever tier emitted it
        assert "bench_full.json" in (d.get("full"), d.get("queries_in"))
        # the byte-complete artifact still has every key
        assert json.loads(sidecar.read_text())["queries"] == out["queries"]
        if out is huge:
            assert d["queries"] == {} and d["n_queries"] == 200
            assert d["queries_in"] == "bench_full.json"
        else:
            assert d["queries"] == {k: round(v, 1)
                                    for k, v in out["queries"].items()}
            assert d["full"] == "bench_full.json"
            assert "n_queries" not in d and "core_total" not in d


def test_line_parses_out_of_a_2000_char_tail(tmp_path):
    out = {"metric": "headline_total_runtime", "value": 1.0,
           "core_total": 0.5, "sf": 0.1,
           "queries": {f"query_{i:03d}": float(i) for i in range(80)},
           "sf1_synth": {"queries": {}, "total": 0.0, "core_total": 9.9}}
    d, n, _ = _emit(out, tmp_path)
    line = json.dumps(d, separators=(",", ":"))
    tail = ("# stderr noise line\n" * 50 + line + "\n")[-2000:]
    parsed = None
    for ln in tail.splitlines():
        try:
            parsed = json.loads(ln)
            break
        except json.JSONDecodeError:
            continue
    assert parsed and parsed["metric"] == "headline_total_runtime"
    assert parsed["sf1_core_total"] == 9.9
