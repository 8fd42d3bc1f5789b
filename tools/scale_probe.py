"""Generate SCALING.md: per-query wall time across scale factors.

The 100 TB question is not "how fast at sf0.1" but "how does time
grow with data". This probe profiles every benched query
(``query_profile.profile``: a warm pass, then 2 timed rounds, noop
sink) at sf0.001 / sf0.01 / sf0.1, plus the locally derived sf1 and
sf10 when they exist (``python tools/gen_local.py sf1``, then
``sf10``; the read-only test data tops out at sf0.1). A cell
is the min over the 2 rounds of ``build_s + exec_s``. Each session's
cells append to scaling_history.jsonl, tagged ``"timer": "profile"``
and ``"cpus"`` (the session's ``defaultParallelism``), and SCALING.md
shows the per-cell min over the last 2 sessions with the same SF
layout, timer and core count, with the per-decade growth ratios.
Rows without a ``timer`` come from the hand-timed loop this replaced
(event log off, warm runs at sf0.001 and sf10 only); rows without
``cpus`` were drawn on the 32-core host. Sessions that differ in any
of the three are never merged.
Linear work should show ratios well under 10 locally (fixed
per-query overhead dominates small SFs); anything approaching or
exceeding ~10 on the last measured step is flagged for review. A
query that raises at an SF leaves a hole (—).

Usage: python tools/scale_probe.py [--rebuild]
(--rebuild re-renders SCALING.md from the history without measuring)
"""

from __future__ import annotations

import json
import os
import sys

from query_profile import ROOT, profile

HISTORY = os.path.join(ROOT, "scaling_history.jsonl")
SCALING = os.path.join(ROOT, "SCALING.md")
MERGE_SESSIONS = 2  # SCALING.md cells = min over the last N sessions

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
LOCAL = [os.path.join(ROOT, ".localdata", n) for n in ("sf1", "sf10")]
FLAG_RATIO = 12.0  # growth on the final 10× step that warrants review
TIMER = "profile"  # history tag: cells timed by query_profile.profile
UNTAGGED_CPUS = 32  # history rows without "cpus" were drawn on local[32]
# SCALING.md header line per history timer tag (None = untagged rows)
TIMERS = {
    None: "hand-timed loop, event log off, warm runs at sf0.001 and sf10 only",
    TIMER: "query_profile.profile, event log on, warm pass at every SF",
}

# durable analysis that must survive regeneration (appended verbatim):
# per-row draws are single-session min-of-2 — read outliers against
# these standing notes before treating a flag as a regression
STANDING_NOTES = [
    "Standing notes (tools/scale_probe.py::STANDING_NOTES):",
    "",
    "- r12: the tpch_q21 / text_quality cells PREDATE the r12",
    "  rewrites (one-corpus-exchange q21; single-evaluation +",
    "  translate-count text_quality) — same-session isolated A/Bs",
    "  measured q21 sf10 10.7→5.7 s and text_quality sf10",
    "  23.3→2.6 s, sf1 3.12→1.88 s (PERF.md round-12; row identity",
    "  asserted). text_quality's 10.1× sf1→sf10 step was the regex",
    "  class-count passes over the long-document tail, now gone.",
    "  The r12 full-probe session was cut short by wall-clock (host",
    "  ~2× degraded); the next probe session refreshes these cells.",
    "- r11: the sf10 column is FULL-WIDTH (every benched row) — the",
    "  full 62-query probe session carries heavier per-session load",
    "  than the r10 18-row sessions, so single-session sf10 cells",
    "  sit higher in the host noise band; the min-merge discipline",
    "  (per-cell min over the last 2 same-layout sessions) is what",
    "  makes the table comparable. decontaminate_fuzzy's sf10 cell",
    "  drew 11.5/15.6/16.3 s across three same-day draws (noise",
    "  band); its best-draw decade step is 3.6x — the bipartite",
    "  LSH candidate growth tracks dup mass, same law as",
    "  dedup_minhash. span_dedup's 6.5 s cell reflects the r11",
    "  invariant-5 fix (was 9.3 s at r10; solo warm draws 7.1 s).",
    "- tpch_q3 at sf10 crosses the designed broadcast→shuffle-join",
    "  transition: the date-filtered orders side (~7M rows) outgrows",
    "  the broadcast threshold, so lineitem⋈orders becomes a",
    "  SortMergeJoin (customer stays broadcast). This is the plan",
    "  the 100 TB design EXPECTS (facts shuffle, dims broadcast);",
    "  the mixed shape is pinned by tests/test_plans.py::",
    "  test_q3_sf10_transition_shape_smj_facts_broadcast_dims. Since",
    "  r10 the sf10 column is measured min-of-2 AFTER an untimed",
    "  warm execution, so one-time cold costs (page-cache fill, SMJ",
    "  JIT — the r9 probe's 17.5 s draw) no longer land in the",
    "  table.",
    "- ann_topk and text_quality-family rows are declared outliers:",
    "  ann_topk is the brute-force ground-truth baseline (product",
    "  surface = LSH/IVF paths), and the token-bound linear scans",
    "  are data-linear by design.",
    "- THIRD-decade spot rows (sf30 tiling — documents ×3 +",
    "  embeddings ×3, tools/gen_local.py sf30; min-of-2 after warm, r10):",
    "  ngram_novelty 15.4 s (sf10→sf30 2.7× on 3× data — linear",
    "  token work); dedup_clusters 46.6 s (2.8× on 3×; edges",
    "  2.88M → 9.48M = ×3.3 with the CC stage ×2.1 — sublinear in",
    "  edges, counted in PERF.md's round-10 dedup_clusters table);",
    "  semantic_clusters 12.6 s (2.6× on 3× vectors);",
    "  ivf_topk_shuffle 8.7 s (2.0× on 3× — candidate pairs grow",
    "  ×9 under fixed cells, absorbed by the bucket-grouped Arrow",
    "  kernel); ann_lsh_topk_shuffle 2.4 s (1.3×). Text-dedup",
    "  family sf10→sf30 steps (same-session pairs, so the ratios",
    "  are noise-consistent even when a draw's absolutes sit high",
    "  in the host band): dedup_minhash 3.5×, minhash_lsh_topk",
    "  2.5×, span_dedup 2.3×, source_overlap 2.7×,",
    "  quality_repetition 1.2× — every step ≤ 3.5× on 3× data.",
    "  Oracle spot-checks at sf30: doc_fingerprint,",
    "  quality_repetition, ngram_novelty — 3/3 hash-green at 1.5M",
    "  docs — plus ann_lsh_topk_shuffle (24,000 rows) and",
    "  semantic_clusters (61,080 rows) at 96k vectors — 5/5, three",
    "  decades above the gate SF.",
    "- At sf30 the capped-probe broadcast entries (ivf_topk,",
    "  ann_lsh_topk: corpus/50 = 1920 probes > max_probes=1024)",
    "  FAIL LOUDLY by design — the probe contract's documented",
    "  regime transition to the _shuffle variants, which the sf30",
    "  rows above measure.",
]

def main() -> None:
    from bench import HEADLINERS, LONG_TAIL
    order = HEADLINERS + LONG_TAIL

    sfs = list(SFS)
    for d in LOCAL:  # sf10 only on top of sf1
        if not os.path.isdir(d):
            print(f"# {d} absent: python tools/gen_local.py "
                  f"{os.path.basename(d)} adds that decade", file=sys.stderr)
            break
        sfs.append(d)

    best: dict[tuple[str, str], float] = {}
    rows = profile(sfs, order, 2)
    cpus = next((r["cpus"] for r in rows if "cpus" in r), None)
    for r in rows:
        key = (r["query"], r["sf"])
        if "error" in r:
            print(f"# {r['query']} @ {os.path.basename(r['sf'])}: RAISED "
                  f"{r['error']}", file=sys.stderr)
            continue
        t = r["build_s"] + r["exec_s"]
        best[key] = min(best.get(key, t), t)
    entry = {"sfs": [os.path.basename(p) for p in sfs], "timer": TIMER, "cpus": cpus, "queries": {
        q: [round(best[q, sf], 3) if (q, sf) in best else None for sf in sfs]
        for q in order
    }}
    with open(HISTORY, "a") as fh:
        fh.write(json.dumps(entry) + "\n")
    render(order)


def render(order: list[str], history_path: str = HISTORY,
           out_path: str = SCALING) -> None:
    """Compose SCALING.md from the last MERGE_SESSIONS history
    entries with the newest entry's SF layout, timer and core count
    (per-cell min)."""
    history = []
    if os.path.exists(history_path):
        with open(history_path) as fh:
            history = [json.loads(ln) for ln in fh if ln.strip()]
    if not history:
        raise SystemExit(f"scale_probe: no history in {history_path} to render")
    def layout(h):
        return h["sfs"], h.get("timer"), h.get("cpus", UNTAGGED_CPUS)

    sf_names, timer, cpus = layout(history[-1])
    sessions = [h for h in history if layout(h) == layout(history[-1])][-MERGE_SESSIONS:]
    merged: dict[str, list] = {}
    for h in sessions:
        for name, times in h["queries"].items():
            cur = merged.setdefault(name, times)
            merged[name] = [b if a is None else a if b is None else min(a, b)
                            for a, b in zip(cur, times)]

    rows = []
    for name in order:
        if name not in merged:
            continue
        times = merged[name]
        ratios = [b / a if a and b is not None else None
                  for a, b in zip(times, times[1:])]
        last = next((r for r in reversed(ratios) if r is not None), 0)
        flag = " ⚠" if last >= FLAG_RATIO else ""
        cells = " | ".join("—" if t is None else f"{t:.3f}" for t in times)
        rcells = " | ".join("—" if r is None else f"{r:.1f}×" for r in ratios)
        rows.append(f"| {name} | {cells} | {rcells}{flag} |")

    sf_heads = " | ".join(f"{n} s" for n in sf_names)
    ratio_heads = " | ".join(
        f"×({sf_names[i][2:]}→{sf_names[i+1][2:]})"
        for i in range(len(sf_names) - 1)
    )
    lines = [
        "# SCALING — per-query wall time vs scale factor",
        "(auto-generated by tools/scale_probe.py; noop sink, build +",
        "exec seconds, min-of-2 per session, per-cell min over the last",
        f"{len(sessions)} probe session(s) — cross-session noise discipline,",
        f"raw draws in scaling_history.jsonl; warm session; local[{cpus}])",
        f"Timer: {TIMERS[timer]}.",
        "Sessions timed another way or on another core count are never",
        "merged into these cells.",
        "",
        "Each SF step is 10× the data (sf1 and sf10 are the locally",
        "tiled decade-up sets from tools/gen_local.py — key-shifted copies,",
        "preserved join selectivities and dup rates). Ratios well",
        "under 10× mean fixed overhead still dominates (good",
        "headroom); ratios near or above ~10× mean the query is",
        f"data-bound locally — flagged (⚠) at {FLAG_RATIO}× or above on",
        "the last measured step.",
        "",
        f"| query | {sf_heads} | {ratio_heads} |",
        "|---" * (1 + len(sf_names) + len(sf_names) - 1) + "|",
        *rows,
        "",
        *STANDING_NOTES,
    ]
    with open(out_path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out_path} ({len(rows)} queries, "
          f"min over {len(sessions)} session(s))")


if __name__ == "__main__":
    if "--rebuild" in sys.argv:
        from bench import HEADLINERS, LONG_TAIL
        render(HEADLINERS + LONG_TAIL)
    else:
        main()
