"""SCALING.md is a rendering of scaling_history.jsonl
(tools/scale_probe.py::render), so the committed table must be exactly
what the committed history renders to, and the merge rules (per-cell
min over the last 2 same-layout sessions, holes, the growth flag) are
pinned on a synthetic history. No Spark session."""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import scale_probe  # noqa: E402
from bench import HEADLINERS, LONG_TAIL  # noqa: E402


def test_committed_scaling_md_renders_from_history(tmp_path):
    out = tmp_path / "SCALING.md"
    scale_probe.render(HEADLINERS + LONG_TAIL, scale_probe.HISTORY, str(out))
    with open(os.path.join(ROOT, "SCALING.md"), "rb") as fh:
        assert out.read_bytes() == fh.read()


def test_render_merges_last_two_same_layout_sessions(tmp_path):
    two, three = ["sf0.001", "sf0.01"], ["sf0.001", "sf0.01", "sf0.1"]
    timer = scale_probe.TIMER
    history = [
        {"sfs": three, "timer": timer,   # third-last of its layout: dropped
         "queries": {"q_min": [0.01] * 3, "q_hole": [0.01] * 3}},
        {"sfs": three, "timer": timer,
         "queries": {"q_min": [0.5, 5.0, 9.0], "q_hole": [None, 3.0, 4.0],
                     "q_flat": [1.0, 1.0, 1.0], "q_tail": [0.1, 1.3, None]}},
        {"sfs": two, "timer": timer, "queries": {"q_min": [9.0, 9.0]}},
        {"sfs": three, "queries": {"q_min": [0.001] * 3}},  # other timer
        {"sfs": three, "timer": timer,
         "queries": {"q_min": [0.4, 6.0, 60.0], "q_hole": [None, 2.0, 5.0],
                     "q_flag": [0.1, 0.25, 3.0]}},
    ]
    hist = tmp_path / "history.jsonl"
    hist.write_text("".join(json.dumps(h) + "\n" for h in history))
    out = tmp_path / "SCALING.md"
    scale_probe.render(["q_flag", "q_min", "q_hole", "q_flat", "q_tail", "q_absent"],
                       str(hist), str(out))
    text = out.read_text()
    rows = [ln for ln in text.splitlines() if ln.startswith("| q_")]
    assert scale_probe.FLAG_RATIO == 12.0
    assert rows == [
        "| q_flag | 0.100 | 0.250 | 3.000 | 2.5× | 12.0× ⚠ |",  # exactly FLAG_RATIO
        "| q_min | 0.400 | 5.000 | 9.000 | 12.5× | 1.8× |",    # per-cell min of the last 2
        "| q_hole | — | 2.000 | 4.000 | — | 2.0× |",
        "| q_flat | 1.000 | 1.000 | 1.000 | 1.0× | 1.0× |",
        "| q_tail | 0.100 | 1.300 | — | 13.0× | — ⚠ |",       # last measured step flags
    ]
    assert ("| query | sf0.001 s | sf0.01 s | sf0.1 s | ×(0.001→0.01) | ×(0.01→0.1) |"
            in text)
    assert f"Timer: {scale_probe.TIMERS[timer]}." in text
