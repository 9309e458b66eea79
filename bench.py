"""Benchmark harness and the one timed query run.

``python bench.py`` times the headline (bench-flagged) queries and a
secondary suite at one scale, two runs per query, and prints ONE final
JSON line:
  {"metric": "headline_suite_seconds", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "secondary": {...}, "sf": <scale factor>}
The full record, with per-query build seconds and generated-class
compile counts, goes to an earlier ``BENCH_DETAIL`` line and to
``bench_detail.json``.

``warm``, ``timed_run`` and ``cpu_sample`` are the timing primitives
``tools/ab.py`` shares.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default all cores).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from appeals_data_spark.registry import all_queries  # noqa: E402
from appeals_data_spark.session import get_spark  # noqa: E402

# Secondary timing suite: operator families outside the frozen headline
# 16 (kept frozen so the series stays comparable) that need a timing
# series of their own: compressed-domain ANN, tokenizer training,
# corpus scoring, substring dedup, sliding windows, the iterative model
# fits. Reported under the "secondary" key with the same two-run/min
# discipline; the headline "value" does not include them.
SECONDARY = [
    "a21_sliding_mau",
    "a25_countmin_bound",
    "a26_hll_setops_bound",
    "closure_components",
    "dedup_canonical_corpus",
    "pipe_dsir_importance_prod",
    "dedup_incremental_delta",
    "dedup_fuzzy_entity_names",
    "dedup_paragraph_retention",
    "dedup_semantic_clusters",
    "dedup_substring_coverage",
    "graph_pagerank_handoff",
    "j22_binned_range_join",
    "mm_decode_audio",
    "mm_audio_fingerprint_dedup",
    "mm_phash_near_dedup",
    "mm_video_shingle_dedup",
    "pipe_classifier_filter",
    "pipe_decontam_bloom",
    "pipe_dsir_importance",
    "pipe_diverse_cluster_quota",
    "pipe_perplexity_buckets",
    "pipe_pii_blocklist_scrub",
    "pipe_source_caps",
    "s6_claims_ingest_report",
    "pref_bradley_terry",
    "stream_centroid_occupancy",
    "text_bigram_interp_logprob",
    "text_trigram_backoff_logprob",
    "text_bm25_topk",
    "text_bpe_merges",
    "text_cdc_chunks",
    "text_cdc_cross_source",
    "text_zipf_fit",
    "text_kgram_novelty",
    "text_hybrid_rrf_topk",
    "vec_ann_recall_report",
    "vec_mips_topk",
    "vec_mmr_diversified_topk",
    "vec_pq_recall_report",
    "vec_ivfpq_topk",
    "vec_pq_adc_topk",
    "vec_pq_rerank_topk",
    "vec_sq8_topk",
    "x3_linear_svm_eval",
    "x3_mann_whitney",
    "x4_markov_stationary",
    "x6_holt_linear",
    "x6_logistic_glmm",
]

# A steal burst during the headline window inflates the number the
# series is judged on: above this steal share the headline suite runs
# once more (see main).
HEADLINE_STEAL_MAX = 0.5


def cpu_sample():
    """One /proc/stat reading: (total jiffies, steal jiffies, context
    switches, wall time), or None where it is missing or malformed; the
    fields derived from it are then null."""
    try:
        with open("/proc/stat") as f:
            stat = {p[0]: p[1:] for p in map(str.split, f) if p}
        cpu = [int(x) for x in stat["cpu"]]
        return sum(cpu), (cpu[7] if len(cpu) > 7 else 0), int(stat["ctxt"][0]), time.time()
    except (OSError, ValueError, IndexError, KeyError):
        return None


def env_sample(before, after):
    """Steal share and context-switch rate between two ``cpu_sample``s,
    so a reader can tell a busy host from a slow engine without
    re-measuring (dismissibility rule in BASELINE.md)."""
    if before is None or after is None:
        return {"steal_pct": None, "ctxt_per_s": None}
    dt_total = after[0] - before[0]
    dt_wall = after[3] - before[3]
    return {
        "steal_pct": round(100.0 * (after[1] - before[1]) / dt_total, 2)
        if dt_total > 0
        else None,
        "ctxt_per_s": round((after[2] - before[2]) / dt_wall)
        if dt_wall > 0
        else None,
    }


def warm(spark, queries, sf_dir):
    """Run each query once on ``sf_dir``, untimed, after one parquet read
    and one mapInPandas pass. Codegen compiles each generated class
    once per JVM while it stays in the generated-class cache (sized by
    ``session.CODEGEN_CACHE_ENTRIES``), and the Arrow worker pool starts
    once; without this the first timed run of a query bills seconds of
    that to itself. Drops the blocks the queries persisted."""
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    spark.range(64).repartition(8).mapInPandas(lambda b: b, schema="id long").count()
    for q in queries:
        try:
            q.builder(spark, sf_dir).collect()
        except Exception:
            pass  # warm-up must never fail the run; the timed run reports it
    spark.catalog.clearCache()


def compile_count(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM so far
    (``CodegenMetrics``); a generated-class cache hit compiles nothing
    and is not counted."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def timed_run(spark, q, sf_dir):
    """Build and collect one query: (build seconds, total seconds, rows,
    compiles).

    Build is the builder call: catalog reads, planning and any eager job
    inside the builder. Total adds the collect. Compiles counts the
    generated classes the run compiled, read outside the clock. The
    blocks the query persisted are dropped after the clock stops, so
    every run starts from the same storage state."""
    c0 = compile_count(spark)
    t0 = time.perf_counter()
    df = q.builder(spark, sf_dir)
    t1 = time.perf_counter()
    rows = df.collect()
    t2 = time.perf_counter()
    compiles = compile_count(spark) - c0
    spark.catalog.clearCache()
    return t1 - t0, t2 - t0, rows, compiles


def _time_suite(spark, qs, sf_dir):
    """Two timed runs per query: per-query minimum total, first-run
    total, minimum build seconds and (first-run, minimum) compiles. The
    minimum is the steady-state figure: one run on a shared JVM can
    catch a multi-second GC stall."""
    best, first, build, compiles = {}, {}, {}, {}
    for name, q in sorted(qs.items()):
        runs = [timed_run(spark, q, sf_dir) for _ in range(2)]
        first[name] = round(runs[0][1], 3)
        best[name] = round(min(r[1] for r in runs), 3)
        build[name] = round(min(r[0] for r in runs), 3)
        compiles[name] = [runs[0][3], min(r[3] for r in runs)]
    return best, first, build, compiles


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    qs_all = all_queries()
    # fail loudly on a typo'd or renamed SECONDARY entry: a silent drop
    # would shrink the timing series without anyone noticing
    unknown = [n for n in SECONDARY if n not in qs_all]
    if unknown:
        raise SystemExit(f"bench.py: unknown SECONDARY queries: {unknown}")
    qs = {name: q for name, q in qs_all.items() if q.bench}
    sec_qs = {n: qs_all[n] for n in SECONDARY}

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    # Compile cost does not depend on data size: warm on the smoke
    # layout next to sf_dir when there is one.
    smoke_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    warm(spark, [*qs.values(), *sec_qs.values()], smoke_dir if os.path.isdir(smoke_dir) else sf_dir)

    # When the headline region's steal exceeds HEADLINE_STEAL_MAX, run
    # the headline suite once more; each query keeps its faster attempt
    # and every attempt's window is recorded, so a reader can
    # adjudicate without re-measuring.
    stat0 = cpu_sample()
    timings, firsts, builds, compiles = _time_suite(spark, qs, sf_dir)
    stat_mid = cpu_sample()
    attempts = [{"value": round(sum(timings.values()), 3), **env_sample(stat0, stat_mid)}]
    if attempts[0]["steal_pct"] is not None and attempts[0]["steal_pct"] > HEADLINE_STEAL_MAX:
        stat_r0 = cpu_sample()
        timings2, _, builds2, compiles2 = _time_suite(spark, qs, sf_dir)
        stat_mid = cpu_sample()
        attempts.append({"value": round(sum(timings2.values()), 3), **env_sample(stat_r0, stat_mid)})
        timings = {n: min(timings[n], timings2[n]) for n in timings}
        builds = {n: min(builds[n], builds2[n]) for n in builds}
        compiles = {n: [compiles[n][0], min(compiles[n][1], compiles2[n][1])] for n in compiles}
    sec_timings, sec_firsts, sec_builds, sec_compiles = _time_suite(spark, sec_qs, sf_dir)
    stat1 = cpu_sample()
    try:
        load_avg = round(os.getloadavg()[0], 2)
    except OSError:
        load_avg = None
    # Stop Spark before printing: the record must be the last line of
    # output, after any executor-shutdown noise. Guarded: a shutdown
    # error must not lose the record the run already paid for.
    try:
        spark.stop()
    except Exception:
        pass
    # Top-level steal/ctxt report the cleanest headline attempt, the one
    # whose conditions the per-query minima mostly reflect.
    env_head = min(attempts, key=lambda a: a["steal_pct"] or 0.0)
    env_sec = env_sample(stat_mid, stat1)
    detail = {
        "metric": "headline_suite_seconds",
        "load_avg_1m": load_avg,
        "steal_pct": env_head["steal_pct"],
        "ctxt_per_s": env_head["ctxt_per_s"],
        "headline_attempts": attempts,
        "value": round(sum(timings.values()), 3),
        "runs_per_query": 2,
        "agg": "min",
        "unit": "sec",
        "queries": timings,
        "first_run_value": round(sum(firsts.values()), 3),
        "first_run_queries": firsts,
        "build_s": builds,
        "compiles": compiles,
        "secondary": {
            "value": round(sum(sec_timings.values()), 3),
            "steal_pct": env_sec["steal_pct"],
            "ctxt_per_s": env_sec["ctxt_per_s"],
            "queries": sec_timings,
            "first_run_value": round(sum(sec_firsts.values()), 3),
            "first_run_queries": sec_firsts,
            "build_s": sec_builds,
            "compiles": sec_compiles,
        },
        "sf": sf,
    }
    with open(os.path.join(ROOT, "bench_detail.json"), "w") as f:
        json.dump(detail, f, indent=1)
    print("BENCH_DETAIL " + json.dumps(detail))
    # The final line stays under 1.5 KB so a ~2.2 KB tail capture of the
    # output keeps it whole; the per-query detail is above and on disk.
    compact = {
        k: v for k, v in detail.items() if k not in ("first_run_queries", "build_s", "compiles")
    }
    compact["secondary"] = {
        k: detail["secondary"][k] for k in ("value", "first_run_value", "steal_pct", "ctxt_per_s")
    }
    line = json.dumps(compact)
    if len(line) > 1500:
        del compact["queries"]
        line = json.dumps(compact)
    print(line)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
