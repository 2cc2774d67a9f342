"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Runs each headline query end-to-end and forces full materialization
through Spark's noop sink (no driver-side collect — the plan executes
exactly as it would writing to a real sink). Every query runs TWICE:
the first (cold) time includes per-query codegen/JIT (~0.3–0.6 s) and
is what rounds r1–r4 recorded; the second (warm) time measures the
steady-state plan — the number that tracks plan changes rather than
JVM compilation. Prints ONE JSON line:

    {"metric": "total_runtime", "value": N, "unit": "sec",
     "queries": {"q01_pricing_summary": sec, ...},
     "queries_warm": {...}, "total_warm": N, "sf": 0.1}

`value`/`queries` stay the cold numbers so the series is comparable
with BENCH_r01–r04.

Environment: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: headline set: the queries a user of the reference would actually run
#: at scale, spanning scan-agg, joins, windows, sessions, dedup,
#: similarity and text analysis.
#:
#: SELECTION RULE (round-7 curation — the r6 verdict's sustainability
#: ask): one bench entry per operator FAMILY, chosen as the entry that
#: exercises the family's PRODUCTION path end-to-end; an entry is
#: dropped (stays registry-gated, just not re-timed every round) when
#: it is a twin of a kept entry under one of these definitions:
#:   (a) declared-baseline twin — same output as a kept production
#:       path, deliberately naive (q32 is q172's quadratic baseline;
#:       q191 re-runs q35-class brute force next to q179-class IVF by
#:       definition of recall@k);
#:   (b) audit-mode twin — same pipeline, cross-engine hash mode
#:       (q33 poly; the bench keeps q33x, the xxhash64 production
#:       path a 100 TB run would use);
#:   (c) same-loop-class twin — iterative graph ops keep one entry
#:       per PHYSICAL loop class: generation-persist (q123 pagerank,
#:       drops q155 HITS), monotone peeling (q192 k-core, drops q189
#:       LPA relabeling), early-exit frontier (q210 BFS, drops q135
#:       pointer-doubling closure); q145 triangles (multi-self-join,
#:       non-iterative) is covered by the postings self-joins (q217);
#:   (d) contained-composition twin — a pipeline whose stages are all
#:       separately benched or which runs inside a kept capstone
#:       (q62 ⊂ q105/q161; q94's rule chain runs inside q87; q193's
#:       GD training runs inside q200; q201 = q172 + CC + split;
#:       q105_persist twin — q161_persist keeps measuring the
#:       stage-pinned strategy on the bigger DAG);
#:   (e) plan-shape twin — q47's one-sided band join is the special
#:       case of q213's two-sided banded overlap; q100's BMP decode
#:       shares the mapInPandas decode plumbing measured by the
#:       strictly heavier q109 JPEG (q99 keeps the audio shape).
#: Every SURVEY §2 family and LLM-pipeline op family keeps at least
#: one entry; q211 (stream-stream join) stays unbenched because the
#: noop-sink lane would mismeasure its landing rewrite + memory-sink
#: drain.
HEADLINE = [
    "q01_pricing_summary",      # ANCHOR — first, ratios normalize to it
    "q02_top_revenue_orders",
    "q03_region_nation_revenue",
    "q05_newer_than_watermark",
    "q06_topk_orders_per_customer",
    "q09_forward_fill",
    "q11_sessionize",
    "q12_horizontal_sum",
    "q26_feature_widening",
    "q29_tumbling_window",
    "q31_dedup_exact",
    "q35_embedding_topk",
    "q37_text_profile",
    "q50_distinct_aggs",
    "q52_salted_join",
    "q65_sequence_packing",
    "q68_tfidf_topterms",
    "q78_ohlc_resample",
    "q85_pipeline_wasde",   # end-to-end WASDE sheet extraction
    "q87_pipeline_site",    # end-to-end site scoring (classify→score)
    "q99_audio_features",   # real WAV decode through mapInPandas (r3)
    "q103_line_dedup",      # C4-style within-doc line dedup (r4)
    "q104_token_budget_mix",  # token-budget corpus mixing (r4)
    "q105_curation_dag",    # whole profile→filter→dedup→chunk DAG (r4)
    "q108_excel_lake",      # distributed workbook-lake parse (r4)
    "q109_jpeg_stats",      # from-scratch baseline JPEG decode (r4)
    "q118_media_probe",     # header-only MP4/MP3/WAV/GIF metadata probe (r4)
    "q120_bigram_logprob",  # interpolated bigram LM quality filter (r4)
    "q123_pagerank",        # iterative link-graph ranking (r4)
    "q124_unicode_clean",   # NFC pandas_udf + native cleanup (r4)
    "q126_contamination_score",  # graded shingle decontamination (r4)
    "q128_importance_resampling",  # DSIR LM-ratio selection (r4)
    "q131_sentence_boilerplate",   # sentence-level shared-text pass (r4)
    "q136_scd2_history",        # SCD2 dimension history build (r5 add)
    "q138_zorder_layout",       # Morton-key two-dim clustering (r4)
    "q161_curation_dag_v2",     # gopher->decontam->dedup->mix capstone (r4)
    "q164_entity_resolution",   # blocking + levenshtein + CC (r5 add)
    "q171_heavy_hitters",       # MG candidates + exact recount (r5 add)
    "q172_jaccard_prefix",      # PPJoin exact near-dup pairs (r5 add)
    "q174_session_window",      # built-in session windows (r5 add)
    "q175_rollup_revenue",      # one-pass ROLLUP lattice (r5 add)
    "q177_weighted_median",     # RANGE-framed exact weighted median (r5 add)
    "q179_quantized_ivf_ann",   # int8 codes x IVF cells production ANN (r5 add)
    "q181_mmr_selection",       # greedy MMR diverse subset, k-step argmax (r6 add)
    "q182_ewma_value",          # per-key EWMA as one native fold (r6 add)
    "q188_countmin_sketch",     # mergeable CM frequency sketch (r6 add)
    "q190_sorted_neighborhood", # global-rank window linkage (r6 add)
    "q192_kcore",               # iterative k-core peeling (r6 add)
    "q194_model_eval",          # exact AUC/confusion eval kit (r6 add)
    "q195_srp_hamming",         # 512x SRP code compression + popcount rank (r6 add)
    "q197_pareto_frontier",     # distributed skyline via prefix-max (r6 add)
    "q200_ml_curation_capstone",  # train->calibrate->select pipeline (r6 add)
    "q203_ks_drift",  # drift-family representative (r6 add)
    "q207_epoch_repetition",  # integer epoch-mixing plan (r6 add)
    "q208_max_concurrency",   # day-partitioned sweep-line (r6 add)
    "q209_naive_bayes",       # one-groupBy NB train + score (r6 add)
    "q210_shortest_paths",    # frontier BFS, early-exit loop (r6 add)
    "q212_ivfadc_ann",        # IVF cells x PQ-ADC compressed scan (r6 add)
    "q213_interval_overlap",  # two-sided banded overlap join (r6 add)
    "q214_key_skew_profile",  # pre-shuffle skew measurement (r6 add)
    "q215_content_checksum",  # order-free migration checksums (r6 add)
    "q216_acf_daily",         # int64-exact autocorrelation (r6 add)
    "q217_phrase_search",     # postings-join phrase retrieval (r6 add)
    "q218_theil_sen",         # robust pairwise-median trend (r6 add)
    "q219_seasonal_backtest", # naive-forecast MAE/WAPE baseline (r6 add)
    "q220_benford_profile",   # first-digit fabrication screen (r6 add)
    "q221_kmv_distinct",      # k-min-registers distinct sketch (r7 add)
    "q224_k_anonymity",       # cascading-remainder k-anonymous release (r7 add)
    "q225_fs_linkage",        # Fellegi-Sunter integer linkage scoring (r7 add)
    "q226_seasonal_profile",  # int64-moment day-of-week decomposition (r7 add)
    "q227_histogram_quantiles",  # exact fixed-domain histogram quantiles (r7 add)
    "q229_poisson_bootstrap",    # 32-replica deterministic bootstrap (r7 add)
    "q231_cusum_changepoint",    # int64 CUSUM screen, windows over days (r9 add)
    "q233_embedding_covariance", # one-scan exact moment matrix (r9 add)
    "q238_rolling_distinct_kmv", # banded register-table window merge (r9 add)
    "q239_relative_quantiles",   # decimal-bucket DDSketch-style quantiles (r9 add)
    "q240_bloom_decontamination",  # bitmask build + broadcast membership probe (r9 add)
    "q242_kmv_rollup_cube",      # grouping-sets cube from registers alone (r9 add)
    "q243_range_partition_plan", # deterministic range-cut planner + balance (r9 add)
    "q252_ams_f2_selfjoin",      # AMS tug-of-war F2 sketch + exact baseline (r10 add)
    "q253_consistent_sample",    # coordinated bottom-k/threshold key sampling (r10 add)
    "q254_survivorship_golden",  # per-field golden-record merge rules (r10 add)
    "q255_woe_binning",          # exact equi-depth bins + WOE/IV scoring (r10 add)
    "q256_inclusion_profile",    # cross-table FK containment sweep (r10 add)
    "q257_rendezvous_sharding",  # HRW placement + resize-move property (r10 add)
    "q267_join_order_greedy",    # sketch-priced greedy left-deep planner (r11 add)
    "q268_t_closeness_audit",    # ordinal-EMD privacy lattice (r11 add)
    "q270_priority_sample",      # DLT weighted subset-sum sampling (r11 add)
    "q272_superspreaders",       # per-key KMV F0 heavy hitters + recount (r11 add)
    "q274_join_view_delta",      # bilinear IVM delta joins + law check (r11 add)
    "q278_zonemap_executed",     # dual layout write + footer measure (r12 add)
    "q279_zorder_executed",      # 2-D z-order write + footer measure (r12 add)
    "q282_adaptive_skew_join",   # CMS-triggered hot-key salted join (r12 add)
    # q269 (FD g3) stays unbenched under rule (d): one corpus groupBy
    # to a cell table + cell algebra — the q50/q159-class aggregate
    # shapes, all benched.
    # q271 (zone-map advisor) stays unbenched under rule (d): one
    # explode-to-2x corpus aggregate (the q188-class expansion shape)
    # plus KB lattice algebra.
    # q273 (streamed bottom-k sample) is excluded for q247/q248's
    # reason: landing rewrite + per-batch state swaps dominate, which
    # the noop lane would mismeasure; its compute shape (q253-class
    # bottom-k) is benched.
    # q275 (IBLT reconciliation) stays unbenched under rule (d): one
    # q188-class signed explode + map-side-combined groupBy to m
    # cells, then a driver-side peel over KB state — the corpus
    # shape is benched, the peel is sub-millisecond.
    # q244 (quantile rollup) stays unbenched under rule (d): its cost
    # is q239's bucket build (the benched rq shape) plus q242-class
    # tiny per-level re-aggregations of the bucket table.
    # q241 (CMS join-size) stays unbenched under rule (d): its cost is
    # two q188-class counter builds (the benched shape) plus a
    # depth×width-bounded dot product — nothing new to time.
    # q245 (CMS CDC forget) stays unbenched under rule (d): two
    # q188-class builds plus a depth×width-bounded counter fold and
    # two scalar checksums — the builds dominate and are benched.
    # q246 (rq CDC forget) stays unbenched under rule (d) the same
    # way: two q239-class bucket builds plus a bucket-table fold.
    # q247/q248 (streamed sketch state) are excluded for q211/q230's
    # reason: their cost is landing rewrite + per-batch state swaps,
    # which the noop lane would mismeasure; their compute shapes
    # (q221/q188-class builds) are benched.
    # q249 (band-join bounds) stays unbenched under rule (d): two
    # q239-class bucket builds, a geometry-bounded pair product, and
    # the q213-class banded exact baseline — all benched shapes.
    # q250 (weighted quantile sketch) stays unbenched under rule (d):
    # a q239-class weighted bucket build plus a q177-class exact
    # weighted-median baseline — both benched shapes.
    # q228 (mutual information) stays unbenched under rule (e): same
    # presence-explode + map-side-combine + sort-limit plan shape as
    # the benched token-aggregation family (q68/q120/q202-class).
    # q222 (IVFADC+refine) stays unbenched under rule (d): its cost is
    # q212's five quantizer trainings (already benched) plus a
    # sub-second broadcast re-rank of Q×20 rows. q223 (stream-static
    # enrich) is excluded for q211's reason: the landing rewrite +
    # memory-sink drain dominate, which the noop lane would mismeasure.
    # q258 (streamed AMS state) is excluded for q247/q248's reason:
    # landing rewrite + per-batch state swaps dominate, which the
    # noop lane would mismeasure; its compute shape (q252-class
    # builds) is benched.
    # q276 (planner capstone) stays unbenched under rule (d): q267's
    # planner (benched) + q262's Bloom-pushdown execution shape.
    # q277 (join strategy) stays unbenched under rule (d): three
    # q221-class kmv builds (benched) plus trivial byte-sum
    # aggregates and a |dims|-row decision readout.
    # q280 (histogram selectivity) stays unbenched under rule (d): a
    # q239-class bucket build (benched) plus a KB lattice.
    # q281 (correlation advisor) stays unbenched under rule (d):
    # nine q221-class register chains over a tagged union — the
    # benched kmv shape at 9x, nothing structurally new.
    # q283 (streamed rq state) is excluded for q247/q248's reason:
    # landing rewrite + per-batch state swaps dominate; its compute
    # shape (q239-class bucket build) is benched.
    # q291/q292/q293/q294/q295/q296 (TPC-H Q3/Q10/Q18/Q14/Q6/Q13
    # flight) stay unbenched under rule (e): the same broadcast-dim
    # multi-join / two-pass rollup / pushed filter-agg plan shapes
    # as the benched q01/q02/q03/q06 flight.
]


def _extra_entries():
    """Bench-only variants that are not registry queries:

    * the v2 curation DAG's persist_stages production path (same
      results as the lazy q161 entry, physical stage reuse instead of
      re-expansion; the bigger of the two DAGs carries the strategy's
      bench point — rule (d)). Run LAST: its stage caches would
      otherwise be picked up by the lazy variant via the
      CacheManager's plan-equality matching and corrupt its timing.
    * the MinHash-LSH xxhash64 PRODUCTION path: the q33 registry entry
      runs the cross-engine "poly" hash mode (so the DuckDB gate can
      replay it; audit-mode twin, rule (b)) — the bench times the
      xxhash64 pipeline instead (JVM hash intrinsics, what a 100 TB
      run would use), which also keeps the r1–r5 series' comparable
      point.

    Like a registry dispatch, each drains the run scope first, so no
    pin from the previous entry or lane is reused.
    """
    from pyspark.sql import functions as F

    from gpi_etl_spark import runscope
    from gpi_etl_spark.operators import dedup
    from gpi_etl_spark.plans.curation_dags import curation_dag_v2
    from gpi_etl_spark.queries import t

    def minhash_xxhash64(spark, sf):
        runscope.drain()
        docs = t(spark, sf, "documents").filter(F.col("doc_id") % 10 == 0)
        return dedup.minhash_lsh_pairs(
            docs, n=1, num_hashes=64, bands=16, threshold=0.5,
            hash_mode="xxhash64",
        )

    def curation_dag_v2_persist(spark, sf):
        runscope.drain()
        return curation_dag_v2(spark, sf, persist_stages=True)

    return {
        "q33_minhash_xxhash64": minhash_xxhash64,
        "q161_curation_dag_v2_persist": curation_dag_v2_persist,
    }


#: --fast lane (verdict r7 item 7, dev convenience ONLY): the three
#: composition-priced entries are 26 s of the ~130 s cold lane — q212
#: replays five Lloyd chains, q181 runs k sequential argmax steps,
#: q179 trains the coarse quantizer — all audited, all dominated by
#: deliberate iteration counts, none plan-diagnostic for a quick
#: neighborhood check. `python bench.py --fast` skips exactly these
#: and stamps the output metric "total_runtime_fast" so a fast lane
#: can never be mistaken for (or diffed against) the committed record,
#: which is always the full run.
FAST_SKIP = {
    "q212_ivfadc_ann", "q181_mmr_selection", "q179_quantized_ivf_ann",
}

#: committed two-lane detail artifact for the CURRENT round
DETAIL_FILE = "BENCH_local_r13.json"


def main() -> None:
    fast = "--fast" in sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    from gpi_etl_spark import queries as Q
    from gpi_etl_spark.session import get_spark

    spark = get_spark("gpi_bench")
    # warm the JVM (codegen/JIT, parquet reader, shuffle machinery) with
    # one untimed full query so per-query times measure steady state,
    # not first-stage compilation
    Q.REGISTRY["q01_pricing_summary"][0](spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()

    names = [n for n in HEADLINE if not (fast and n in FAST_SKIP)]
    entries = [(n, Q.REGISTRY[n][0]) for n in names]
    entries += list(_extra_entries().items())

    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    for name, fn in entries:
        for lane in (cold, warm):
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            lane[name] = round(time.time() - t0, 3)

    total = round(sum(cold.values()), 3)
    total_warm = round(sum(warm.values()), 3)
    # ANCHOR NORMALIZATION (r6 verdict): absolute per-query times drift
    # 1.5-3x with machine load between runs, UNIFORMLY — the committed
    # record therefore also stores each query's cold time as a ratio to
    # the q01 anchor's cold time, which is stable across hot/quiet
    # boxes and lets round-over-round verdicts diff per-query plans
    # without guessing at drift.
    anchor = cold["q01_pricing_summary"]
    ratio_to_anchor = {
        k: round(v / anchor, 3) for k, v in cold.items()
    }
    # Full two-lane detail goes to a committed file; the stdout line
    # must stay UNDER the driver's 2,000-char tail capture (round 5's
    # 54-entry two-lane line overflowed it and BENCH_r05 recorded
    # `parsed: null`), so it carries totals + per-query COLDS only,
    # values at 2 dp, compact separators.
    detail = {
        "metric": "total_runtime_fast" if fast else "total_runtime",
        "value": total,
        "unit": "sec",
        "anchor_cold": anchor,
        "queries": cold,
        "queries_warm": warm,
        "ratio_to_anchor": ratio_to_anchor,
        "total_warm": total_warm,
        "sf": sf,
        "notes": (
            "cold lane = first run after one untimed q01 JVM warm-up "
            "(includes ~0.3-0.6s/query codegen; the series "
            "BENCH_r01-r04 recorded); warm lane = immediate second "
            "run, steady-state plans. ratio_to_anchor = cold/q01-cold "
            "(drift-immune per-query series; q01's historical quiet-"
            "box band is 1.5-1.7s). Headline set curated to one entry "
            "per operator family in round 7 (selection rule above "
            "HEADLINE; dropped twins stay registry-gated). The "
            "q161_persist twin runs the stage-pinned production path "
            "(identical results; runs last so its caches cannot "
            "pollute the lazy lane); q33x is the xxhash64 production "
            "hash path of the poly-gated q33. Deep-iteration numbers "
            "in docs/PAGERANK_PROBE.md."
        ),
    }
    def short(name: str) -> str:
        """Compact per-entry key for the stdout line (full names live
        in the detail file): the qNNN id, plus 'p' for the persist
        twins and 'x' for the xxhash64 twin so they don't collide
        with their registry siblings."""
        qid = name.split("_")[0]
        if name.endswith("_persist"):
            return qid + "p"
        if "xxhash64" in name:
            return qid + "x"
        return qid

    shorts = [short(k) for k in cold]
    assert len(set(shorts)) == len(shorts), "short bench keys collide"
    line = json.dumps(
        {
            "metric": "total_runtime_fast" if fast else "total_runtime",
            "value": total,
            "unit": "sec",
            "sf": sf,
            "total_warm": total_warm,
            "anchor_cold": anchor,
            "n_queries": len(cold),
            "detail": DETAIL_FILE if not fast else None,
            "queries": {short(k): round(v, 2) for k, v in cold.items()},
        },
        separators=(",", ":"),
    )
    assert len(line) < 1900, (
        f"bench stdout line is {len(line)} chars — would overflow the "
        "driver's 2,000-char tail capture; trim the headline set or "
        "the per-entry payload"
    )
    # detail file written only AFTER the line passes the length assert
    # (review find: writing first let a failed/off-scale run clobber
    # the committed round artifact with nothing valid on stdout); a
    # --fast run never writes the committed artifact
    if not fast:
        detail_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), DETAIL_FILE
        )
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1)
            fh.write("\n")
    print(line)


if __name__ == "__main__":
    main()
