"""The benchmark's fixed query lists and ingest plan.

Why each list holds what it holds is written out in README.md; the
short form sits beside each entry. Lists are fixed: the seed changes
the inputs and the query order, never the membership.
"""

from __future__ import annotations

APPEALS_REPORTS = [
    "a1_pricing_summary",  # aggregates: exact-decimal money sums
    "j8_argmax_latest_order",  # joins: argmax-per-key join
    "p4_range_in_between",  # filters: range / IN / BETWEEN predicates
    "w11_rolling_mean",  # windows: rolling frame
    "r2_pivot_event_matrix",  # reshape: pivot
    "u5_event_where_hook",  # setops + views.events: filtered event-log union
    "x4_transition_matrix",  # events_q: derived event log transitions
    "comp_docket_projection",  # composite_q: multi-stage report
    "surv_km_counts",  # survival: Kaplan-Meier risk sets
    "surv_cuminc",  # survival: competing risks
    "x3_linreg_closed_form",  # ml.glm: closed-form regression
    "x6_logistic_glmm",  # GLMM: logistic mixed model (PQL)
    "x3_linear_svm_eval",  # ml.svm: linear SVM
    "pref_bradley_terry",  # ml.bt: Bradley-Terry
    "closure_components",  # operators.closure: transitive closure
    "graph_pagerank_handoff",  # operators.graph: PageRank
]

CORPUS_CURATION = [
    "dedup_minhash_portable",  # operators.dedup: minhash LSH, persist
    "dedup_embedding_cosine",  # operators.similarity: pair enumeration
    "mm_decode_image",  # operators.multimodal: Arrow mapInPandas
    "text_bpe_vocab",  # operators.bpe: tokenizer vocabulary
    "dedup_incremental_delta",  # operators.delta_dedup
    "text_unigram_logprob",  # ml.unigram_lm, functions.text
    "vec_brute_force_topk",  # functions.vectors
    "pipe_source_caps",  # pipeline_q: per-source quota
]

# ingest_refresh: the variant's events are split by time into a
# bootstrap file and ARRIVALS arrival files; each pass starts from a
# fresh live directory holding the bootstrap events and a copy of
# orders partitioned by o_orderstatus, lands the arrivals one by one,
# drains each through the stream into the sink, and after the arrivals
# listed in MERGE_AFTER merges one seeded repair batch into orders.
# READS run after every commit (each drain and each merge).
ARRIVALS = 2
BOOTSTRAP_SHARE = 0.7
MERGE_AFTER = (1,)
REPAIR_UPDATES = 40
REPAIR_INSERTS = 10
READS = [
    "stream_tumbling_counts",  # reads events; every arrival changes it
    "w1_lead_lag_gaps",  # reads events
    "a2_conditional_agg_flags",  # reads orders; every merge changes it
    "a12_monthly_rollup",  # reads orders
]

WORKLOADS = {
    "appeals_reports": APPEALS_REPORTS,
    "corpus_curation": CORPUS_CURATION,
    "ingest_refresh": READS,
}


def commit_plan() -> list[tuple[str, int]]:
    """The commits of one ingest pass, in order: ("arrival", i) lands
    and drains arrival i; ("merge", j) applies repair batch j."""
    plan: list[tuple[str, int]] = []
    merges = 0
    for i in range(1, ARRIVALS + 1):
        plan.append(("arrival", i))
        if i in MERGE_AFTER:
            merges += 1
            plan.append(("merge", merges))
    return plan
