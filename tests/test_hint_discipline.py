"""Broadcast-hint discipline gate (the round-8 sf10-probe lesson).

Spark honors ``broadcast()`` hints unconditionally — it will happily
ship a vocab-sized LM table or a corpus-sized doc-length table to
every executor and spill (measured: a 2 GB+ broadcast in the trigram
LM at the 100x probe, BASELINE.md round 8). Policy: a hint is allowed
ONLY on a frame whose size is bounded BY CONSTRUCTION — a 1-row
scalar/model artifact, a fixed dim (nation/region/taxonomy), a probe
set, a k-row centroid/representative table. Anything that grows with
the data (vocab tables, count tables, doc stats, pair tables) must be
left to AQE, which broadcasts while small and degrades to a hash join
beyond.

This gate snapshots the per-file count of ``broadcast(`` call sites in
the engine source. Adding a hint anywhere forces a conscious diff
here: before bumping a count, argue (in the commit) why the new
broadcast side cannot grow with the corpus — then re-run the sf10
probe on the affected query if in doubt.
"""

from __future__ import annotations

import os
import re
from collections import Counter

PKG = os.path.join(os.path.dirname(os.path.abspath(__file__)), os.pardir,
                   "appeals_data_spark")

# (file, expected broadcast-call-site count) — audited round 8: every
# remaining site is a by-construction bounded frame (1-row scalars and
# model artifacts, k-row centroid/codebook/probe/dim sides). The
# data-sized hints the sf10 probe caught (LM vocab tables, BM25 doc
# lengths) were removed the same round.
EXPECTED = {
    "ml/glm.py": 1,
    "ml/unigram_lm.py": 1,
    "operators/bpe.py": 1,
    "operators/delta_dedup.py": 2,
    "operators/graph.py": 3,
    "operators/pit.py": 1,
    # +3 in round 8b: SQ8 — the bounds row (1 row, 2·dim doubles by
    # construction) broadcast at encode and at query-side bake-in,
    # plus the 8-row probe set in sq_adc_topk.
    # +1 in round 9: mips_topk's query-set broadcast (tiny by
    # construction — the brute_force_topk pattern).
    # -1 in round 10: assign_to_centroids' one-row centroid-array
    # crossJoin broadcast disappeared (the Arrow assigner collects the
    # broadcast-small centroid table driver-side instead).
    "operators/similarity.py": 10,
    "queries/aggregates.py": 5,
    "queries/composite_q.py": 1,
    "queries/dedup_q.py": 1,
    # +1 in round 8b: x4_markov_stationary's 1-row state-count scalar.
    "queries/events_q.py": 4,
    # +1 in round 11: x1_rr_hearing_postrem's 25-row nation dim.
    "queries/joins.py": 8,
    # +2 in round 8b: pipe_dsir_importance (1-row totals scalar, 256-row
    # fixed-B log-ratio model). Round 10 factored the portable/prod
    # twins onto one shared _dsir_report body, so those two sites are
    # counted once. +1 in round 12: pipe_decontam_bloom's 1-row
    # hit-doc-total scalar (sum over the <=11-row checkpointed decile
    # table — bounded by construction at any corpus size).
    "queries/pipeline_q.py": 10,
    "queries/setops.py": 1,
    "queries/skew_q.py": 1,
    "queries/sources_q.py": 1,
    # round 10: merge_into — the updates side is repair-sized by
    # contract (the reference scripts loop over dozens of keys): the
    # affected-partition filter, the moved-row old-partition lookup
    # semi-join, and the key anti-joins on both the partitioned and
    # unpartitioned arms.
    "sources/merge.py": 4,
    "queries/survival_q.py": 3,
    "queries/textops_q.py": 5,
    # -1 in round 12: dedup_semantic_clusters' centroid-array
    # crossJoin(broadcast(...)) went away with the Arrow assignment
    # pass (the rep-scoring broadcast join remains).
    "queries/vector_q.py": 6,
    # +1 in round 8b: w15's <=nparts-row partition-offset table.
    # round 10: w15's offset broadcast moved into the shared
    # two-phase-rank helper (<=nparts-row partition-offset table)
    "operators/rank.py": 1,
    
    "streaming/doc_stream.py": 1,
    "streaming/vec_stream.py": 1,
    # -2: the end-state classifier is a generated CASE, not a
    # broadcast dim; the fused clickstream branch keeps its customer
    # BUILDING-segment hint.
    "views/events.py": 2,
}

_CALL = re.compile(r"\bbroadcast\(")


def _count_sites() -> Counter:
    got: Counter = Counter()
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            for line in open(path, encoding="utf-8"):
                stripped = line.strip()
                if (
                    stripped.startswith("#")
                    or stripped.startswith("def ")
                    or "import" in stripped
                ):
                    continue
                got[rel] += len(_CALL.findall(line))
    return got


def test_broadcast_hint_sites_are_frozen():
    got = {f: n for f, n in _count_sites().items() if n}
    assert got == EXPECTED, {
        f: (got.get(f), EXPECTED.get(f))
        for f in set(got) | set(EXPECTED)
        if got.get(f) != EXPECTED.get(f)
    }
