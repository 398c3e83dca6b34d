"""Benchmark harness: every registered query at $SPARK_GRAFT_SF_DIR.

Times the headline tier (reference-parity scan/filter, TPC-H-shaped
joins and aggregates, windows, streaming-shaped queries and the
pipeline operators), the hand-listed extended tier and the computed
core tier (every other registered query), plus the headline queries
again at the 10x scale in $SPARK_GRAFT_SF1_DIR when that directory
exists. Each query runs into the noop sink, so the time is build, scan
and compute, not driver transfer.

The run is ``SPARK_GRAFT_BENCH_PASSES`` (default 3) sequential passes,
each a child process with its own JVM on a ``perfbench.harness``
session: a ``mkdtemp`` work directory that holds its spill, warehouse
and temp files and is removed with the pass, ``local[n]`` on the n
CPUs of the process's affinity (use ``taskset`` to run on fewer), the
session's scan and Python-worker warm-ups, and a stream warm-up. The
headline and sf1 tiers run in every pass; the breadth tiers (extended
and core) in ``BREADTH_PASSES`` of them. If a pass carrying them fails,
a later pass takes its slot, and if none succeeds one bounded
extended+core retry runs. A tier no pass measured reports ``null``.
The orchestrator samples perfbench's ``Health`` rule (CPU steal, start
load) around each pass and stores it in the pass's ``passes`` record,
with exit status, duration, the child's peak RSS and, on failure, its
stderr tail. Passes never overlap: concurrent JVMs contaminate each
other's timings.

Output: the full record first (also written to ``bench_last.json``:
per-query median maps, ``*_spread`` max-min maps and per-pass totals),
then a compact last line of at most 1900 characters, because recorded
artifacts keep a bounded output tail::

    {"metric": "headline_total_runtime", "value": <sum of headline
     medians>, "unit": "sec", "median_of": 3, "healthy": true, ...,
     "queries": {name: [median, spread]}, "extended_total": ...,
     "core_total": ..., "sf1_queries": {name: [median, spread]}, "sf": 0.1}

``sf1_slice`` labels how the line was shortened to fit (see
``compact_line``). ``tools/sf1_regression_gate.py`` reads the medians.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from perfbench.harness import Health, Session, median  # noqa: E402

TABLES = ("region", "lineitem", "orders", "customer", "documents",
          "embeddings", "events")
# passes that carry the extended and core tiers: two give a median and
# a spread; more would double the bench's long tail
BREADTH_PASSES = 2
# once a pass has spent this long on the sf1 tier, the remaining sf1
# queries are skipped and named in "sf1_skipped"
SF1_BUDGET_S = 480
COMPACT_MAX_CHARS = 1900


# the headline subset: representative, covers every operator family,
# and completes in minutes at sf0.1
BENCH_QUERIES = [
    # reference-parity scan+filter (huge_simple shape: id % 2 = 0)
    "ref_scan_filter_project",
    "ref_int_division",
    "ref_comparison_ops",
    # joins / aggregation
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q14_promo_revenue",
    "tpch_q18_large_orders",
    "join_inner_agg",
    "group_having",
    "order_by_limit_topk",
    # window / sets
    "window_rank_topn",
    "set_union_all",
    # streaming-shaped
    "events_tumbling_window",
    "events_user_activity",
    "events_sessionization",
    # stats
    "percentile_stats",
    # pipeline operators
    "text_quality_score",
    "text_fingerprint",
    "text_lang_id",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "embedding_cosine_topk",
    "embedding_ann_lsh",
    "multimodal_decode_features",
]

# round-3 additions, timed separately so ``value`` (the headline total)
# stays directly comparable with earlier rounds' BENCH_r{N}.json
EXTENDED_QUERIES = [
    "tpch_q2_min_cost_supplier",
    "tpch_q8_market_share",
    "tpch_q11_important_stock",
    "pipeline_clean_corpus",
    "pipeline_hash_split",
    "text_top_bigrams",
    "salted_skew_join",
    # includes the one-time bucketed-table write (that upfront cost IS
    # the bucketing trade: pay one write, every later join shuffles zero)
    "bucketed_colocated_join",
    "pipeline_contamination_check",
    "text_repetition_score",
    "pipeline_stratified_sample",
    # round-4/5 additions: table maintenance, corpus prep, PQ ANN,
    # segment dedup — appended (never reordered) so earlier per-query
    # rows stay comparable across BENCH_r{N}.json
    "merge_upsert_orders",
    "scd2_user_event_history",
    "pipeline_pack_sequences",
    "pipeline_doc_chunks",
    "pipeline_segment_dedup",
    "embedding_pq_topk",
    "embedding_ivfpq_topk",
    "ivm_incremental_rollup",
    "window_rank_family",
    "zorder_layout_scan",
    # round-6 additions: the round-5 registry tail (so regression
    # detection covers everything registered) + the new k-means
    # training path and query-service-era queries
    "snapshot_time_travel",
    "data_quality_report",
    "udaf_grouped_median",
    "stream_source_replay_agg",
    "embedding_ann_rerank",
    "events_cohort_retention",
    "kmeans_train_assign",
    "pq_train_codebooks",
    "embedding_ivf_lloyd_topk",
    # round-6 operator additions: SQ ANN tier, BPE training iteration,
    # bloom semi-join reduction, streaming watermark dedup
    "embedding_sq_topk",
    "bpe_pair_counts",
    "bloom_prefilter_join",
    "stream_dedup_watermark",
    "unpivot_measures",
    "set_except_intersect_all",
    "cms_heavy_hitters",
    "dedup_incremental_batch",
    "cardinality_sketch",
    "pipeline_weighted_sample",
    "lateral_topn_per_key",
    "events_resample_gapfill",
    "pipeline_length_buckets",
    "manifest_pruned_scan",
    # late-round-6 additions: HLL cardinality, unigram-LM quality,
    # ANN recall audit, SemDeDup semantic dedup
    "hll_cardinality",
    "text_unigram_quality",
    "ann_recall_eval",
    "dedup_semantic_semdedup",
    "recursive_cte_hierarchy",
    "bpe_apply_merge",
    "pipeline_mixing_weights",
    "quantile_sketch_hist",
    "pagerank_supplier_graph",
    "events_funnel_stages",
    "snapshot_cdc_diff",
    "manifest_bloom_scan",
    "hll_grouped_cardinality",
    "kmeans_sampled_train_assign",
    # round-7 additions
    "embedding_ivf_sq_topk",
    "bpe_train_loop",
    "dedup_substring_passages",
    "pipeline_temperature_weights",
    "pipeline_epoch_shuffle",
    "bpe_encode_corpus_stats",
    "text_bigram_quality",
    "pipeline_quality_lang_filter",
    "text_gopher_rules",
    "events_windowed_topk",
    "multimodal_audio_chunks",
    "events_anomaly_zscore",
    "ref_manifest_pruned_query",
    "hll_set_algebra",
    "graph_triangle_count",
    "events_transition_matrix",
    "dedup_substring_rewrite",
    "dedup_sparse_tf_cosine",
    "stats_iqr_outliers",
    "analyze_table_stats",
    "audit_referential_integrity",
    "timeseries_mom_growth",
    "events_dau_stickiness",
    "orders_fulfillment_latency",
    "embedding_norm_audit",
    "corpus_composition_report",
]


def core_tier(all_names: list[str]) -> list[str]:
    """Third tier: every registered query not already in the headline or
    extended lists, in registry order. Computed (not hand-listed) so a
    newly registered query can never silently escape timing — the r6
    verdict found 84 queries with zero bench history, which made a
    regression there invisible. Reported under ``"core"`` so the
    headline/extended series stay comparable across rounds.
    """
    timed = set(BENCH_QUERIES) | set(EXTENDED_QUERIES)
    return [n for n in all_names if n not in timed]


def warm_scans(session: Session, sf_dir: str) -> None:
    session.warm_scans(sf_dir, tuple(
        t for t in TABLES if os.path.exists(f"{sf_dir}/{t}.parquet")
    ))


def warm_session(work: str, sf_dir: str, event_log: bool = False) -> Session:
    """A perfbench session in ``work`` whose first timed query pays no
    first-touch cost: every table of ``sf_dir`` read once (JIT of the
    Parquet reader, file listing, page cache) and one Python worker per
    core forked with numpy and pandas imported."""
    session = Session(work, event_log=event_log)
    warm_scans(session, sf_dir)
    session.warm_python_workers()
    return session


def time_query(spark, build, sf_dir: str) -> float:
    """Seconds to build one query and run it into the noop sink. The
    timer stops before the query's scope releases what it persisted."""
    from chapterhouseqe_spark.session import released

    with released():
        t0 = time.time()
        build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)


def _warm_streams(spark) -> None:
    """The first stream of a JVM pays 6-10 s once (micro-batch engine
    classes, state-store provider, the Python state-protocol worker).
    One 5-row stateful stream pays it before the first stream_* query."""
    from pyspark.sql import functions as F

    from chapterhouseqe_spark.session import released
    from chapterhouseqe_spark.sources.synthetic import register_synthetic_source
    from chapterhouseqe_spark.streaming.recurrence import streaming_ewma
    from chapterhouseqe_spark.streaming.windows import run_stream

    register_synthetic_source(spark)
    events = (
        spark.readStream.format("chqe_synthetic")
        .option("batch_rows", 5)
        .option("max_rows", 5)
        .load()
        .select(
            F.col("label").alias("event_type"),
            F.timestamp_seconds(F.col("id")).alias("ts"),
            F.col("id").alias("event_id"),
            "value",
        )
    )
    with released():
        run_stream(streaming_ewma(events, alpha=0.25), "warm_stream")


def run_single(tiers: set[str]) -> dict:
    """One pass in this process's fresh JVM over the requested tiers;
    returns the per-tier maps of query seconds."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.0
    work = tempfile.mkdtemp(prefix="chqe_bench_")
    try:
        session = warm_session(work, sf_dir)
        try:
            out = _run_tiers(session, tiers, sf_dir)
            out["peak_rss_mb"] = round(session.peak_rss_mb(), 1)
        finally:
            session.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out["sf"] = sf
    return out


def _run_tiers(session: Session, tiers: set[str], sf_dir: str) -> dict:
    from chapterhouseqe_spark.queries.registry import get_queries

    spark = session.spark
    queries = get_queries()
    if tiers & {"extended", "core"}:
        _warm_streams(spark)

    def run_tier(tier: str, names: list[str]) -> dict[str, float]:
        if tier not in tiers:
            return {}
        return {n: time_query(spark, queries[n], sf_dir) for n in names}

    out = {
        "queries": run_tier("headline", BENCH_QUERIES),
        "extended": run_tier("extended", EXTENDED_QUERIES),
        "core": run_tier("core", core_tier(list(queries))),
        "sf1": {},
        "sf1_skipped": [],
    }
    # the headline queries again at 10x, on locally generated data
    # (tools/gen_sf_data.py); skipped when the directory is absent
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", os.path.join(REPO, "testdata_sf1"))
    if "sf1" in tiers and os.path.isdir(sf1_dir):
        warm_scans(session, sf1_dir)
        tier_start = time.time()
        for name in BENCH_QUERIES:
            if time.time() - tier_start > SF1_BUDGET_S:
                out["sf1_skipped"].append(name)
            else:
                out["sf1"][name] = time_query(spark, queries[name], sf1_dir)
    return out


def _merge(passes: list[dict[str, float]]) -> tuple[
    dict[str, float], dict[str, float]
]:
    """Per-query median + spread (max−min) across the passes a query
    actually appeared in (a time-budgeted sf1 pass may skip the tail)."""
    names: list[str] = []
    for p in passes:
        for n in p:
            if n not in names:
                names.append(n)
    med, spread = {}, {}
    for n in names:
        vals = [p[n] for p in passes if n in p]
        med[n] = round(median(vals), 3)
        spread[n] = round(max(vals) - min(vals), 3)
    return med, spread


def _tier_total(tier: dict | None) -> float | None:
    # null, never 0, for a tier no pass measured
    return round(sum(tier.values()), 3) if tier else None


def run_pass(label: str, tiers: str) -> tuple[dict | None, dict]:
    """Run one pass as a child process; returns its result (None if it
    failed) and its ``passes`` record, with the box health sampled
    around it."""
    with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as tf:
        out_path = tf.name
    err_path = out_path + ".stderr"
    env = dict(
        os.environ,
        SPARK_GRAFT_BENCH_CHILD="1",
        SPARK_GRAFT_BENCH_TIERS=tiers,
        SPARK_GRAFT_BENCH_OUT=out_path,
    )
    health = Health()
    t0 = time.time()
    with open(err_path, "w") as errf:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            stdout=subprocess.DEVNULL,
            stderr=errf,
        )
    meta = {
        "pass": label,
        "tiers": tiers,
        "rc": proc.returncode,
        "dur_s": round(time.time() - t0, 1),
        "health": health.finish(),
        "ok": False,
    }
    result = None
    try:
        with open(out_path) as fh:
            result = json.load(fh)
        meta["ok"] = True
        meta["peak_rss_mb"] = result.pop("peak_rss_mb", None)
    except (OSError, json.JSONDecodeError):
        with open(err_path) as fh:
            meta["stderr_tail"] = fh.read()[-1500:]
        print(
            f"bench: pass {label} failed (rc={proc.returncode}, "
            f"{meta['dur_s']}s) — continuing with the passes that "
            "succeeded",
            file=sys.stderr,
            flush=True,
        )
    finally:
        for p in (out_path, err_path):
            os.unlink(p)
    return result, meta


def full_record(pass_results: list[dict], pass_meta: list[dict]) -> dict:
    head, ext_passes, core_passes, sf1_passes = (
        [p[k] for p in pass_results if p.get(k)]
        for k in ("queries", "extended", "core", "sf1")
    )
    timings, timings_spread = _merge(head)
    sf1, sf1_spread = _merge(sf1_passes)
    extended, extended_spread = (
        _merge(ext_passes) if ext_passes else (None, None)
    )
    core, core_spread = _merge(core_passes) if core_passes else (None, None)

    def totals(maps: list[dict[str, float]]) -> list[float]:
        return [round(sum(m.values()), 3) for m in maps]

    return {
        "metric": "headline_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "median_of": len(head),
        "healthy": all(m["health"]["healthy"] for m in pass_meta),
        "passes": pass_meta,
        "queries": timings,
        "queries_spread": timings_spread,
        "headline_pass_totals": totals(head),
        "extended": extended,
        "extended_spread": extended_spread,
        "extended_median_of": len(ext_passes),
        "extended_pass_totals": totals(ext_passes),
        "extended_total": _tier_total(extended),
        "core": core,
        "core_spread": core_spread,
        "core_median_of": len(core_passes),
        "core_pass_totals": totals(core_passes),
        "core_total": _tier_total(core),
        "sf1": sf1,
        "sf1_spread": sf1_spread,
        "sf1_pass_totals": totals(sf1_passes),
        "sf1_total": _tier_total(sf1),
        "sf1_skipped": sorted(
            set().union(*(p.get("sf1_skipped", []) for p in pass_results))
        ),
        "sf": pass_results[0].get("sf", 0.0),
    }


def _pairs(med: dict[str, float], spread: dict[str, float]) -> dict:
    return {n: [v, spread.get(n, 0.0)] for n, v in med.items()}


def _compact(full: dict, variant: str, floor: float = 0.25) -> str:
    q, q_spread = full["queries"], full["queries_spread"]
    sf1, sf1_spread = full["sf1"], full["sf1_spread"]
    body = {
        "metric": full["metric"],
        "value": full["value"],
        "unit": "sec",
        "median_of": full["median_of"],
        "passes_ok": sum(1 for m in full["passes"] if m["ok"]),
        "passes_run": len(full["passes"]),
        "healthy": full["healthy"],
        "extended_total": full["extended_total"],
        "core_total": full["core_total"],
        "sf1_total": full["sf1_total"],
        "sf1_slice": variant,
        "sf1_n_skipped": len(full["sf1_skipped"]),
        "detail": "bench_last.json",
        "sf": full["sf"],
        "queries": _pairs(q, q_spread),
        "sf1_queries": _pairs(sf1, sf1_spread),
    }
    if variant == "flat":
        body["sf1_slice"] = f"flat_ge_{floor}"
        del body["detail"]
        body["queries"] = {n: round(v, 2) for n, v in q.items()}
        body["sf1_queries"] = {n: round(v, 2) for n, v in sf1.items()}
        body["spread_ge"] = {
            n: round(s, 2) for n, s in q_spread.items() if s >= floor
        }
        body["sf1_spread_ge"] = {
            n: round(s, 2) for n, s in sf1_spread.items() if s >= floor
        }
    elif variant == "top10_slowest":
        top10 = sorted(sf1, key=sf1.get, reverse=True)[:10]
        body["sf1_queries"] = {n: [sf1[n], sf1_spread.get(n, 0.0)] for n in top10}
    return json.dumps(body, separators=(",", ":"))


def compact_line(full: dict) -> str:
    """The first of these that fits, each labeled in ``sf1_slice``:
    ``full`` (both maps as [median, spread] pairs); ``flat_ge_X``
    (both maps as flat medians, plus only the spreads >= X, with X
    raised from 0.25 to 2.0 until the line fits; X = 0.25 sits under
    the gate's 0.5 s floor); else ``top10_slowest`` (the ten slowest
    sf1 queries as pairs). bench_last.json keeps every spread."""
    lines = [_compact(full, "full")] + [
        _compact(full, "flat", floor) for floor in (0.25, 0.5, 1.0, 2.0)
    ]
    return next(
        (line for line in lines if len(line) <= COMPACT_MAX_CHARS),
        _compact(full, "top10_slowest"),
    )


def main() -> None:
    if os.environ.get("SPARK_GRAFT_BENCH_CHILD"):
        tiers = set(
            os.environ.get(
                "SPARK_GRAFT_BENCH_TIERS", "headline,extended,core,sf1"
            ).split(",")
        )
        res = run_single(tiers)
        with open(os.environ["SPARK_GRAFT_BENCH_OUT"], "w") as fh:
            json.dump(res, fh)
        return

    n_passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3")))
    breadth_target = min(n_passes, BREADTH_PASSES)
    pass_results: list[dict] = []
    pass_meta: list[dict] = []
    breadth_done = 0

    def run(label: str, tiers: str) -> None:
        nonlocal breadth_done
        result, meta = run_pass(label, tiers)
        pass_meta.append(meta)
        if result is not None:
            pass_results.append(result)
            if "extended" in tiers:
                breadth_done += 1

    for i in range(n_passes):
        # a pass whose breadth tiers failed leaves its slot to the next
        run(
            str(i + 1),
            "headline,extended,core,sf1"
            if breadth_done < breadth_target
            else "headline,sf1",
        )
    if not breadth_done:
        run("breadth-retry", "extended,core")
    if not pass_results:
        print("bench: every pass failed", file=sys.stderr)
        print(json.dumps({"passes": pass_meta}), file=sys.stderr)
        sys.exit(1)

    record = full_record(pass_results, pass_meta)
    full = json.dumps(record)
    print(full, flush=True)
    with open(os.path.join(REPO, "bench_last.json"), "w") as f:
        f.write(full + "\n")
    compact = compact_line(record)
    print(compact, flush=True)
    print(compact, file=sys.stderr, flush=True)


if __name__ == "__main__":
    main()
