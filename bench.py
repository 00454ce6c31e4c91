"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is total steady-state wall time across the headline query set.
Each query is built and fully materialized (Arrow ``toPandas``) FOUR
times: the first, untimed pass absorbs one-time per-plan-shape costs
(Janino whole-stage-codegen compilation, C2 JIT of the generated
classes, parquet footer caches) that a long-lived cluster pays once per
query shape, not per execution; the reported per-query timing is the
MEDIAN of the next three passes — this host shows occasional +5-10s
contention spikes on individual queries, and a median-of-3 makes
round-over-round regressions attributable to code, not noise. The
per-query min/max spread ships under ``spread`` and the first-pass total
under ``cold_value`` for transparency.

Output is two JSON lines: the full record (queries + spread maps) first,
then a compact ``headline_summary`` line LAST — the driver's bench record
stores only the final 2000 chars of stdout, so the last line is sized to
always survive whole (VERDICT r14 ask #4).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q21_waiting_supplier",
    "agg_distinct_parts",
    "rollup_order_stats",
    "json_extract_events",
    "window_topk_orders_per_customer",
    "sessionize_events",
    "text_token_stats",
    "dedup_exact_documents",
    "dedup_minhash_documents",
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "asof_click_purchase",
    "text_winnow_sketch",
    # round-2 operator families (pagerank stays catalog-only: its
    # iterative rounds add ~2s of driver-synchronous latency that would
    # eat the headline's round-over-round comparison margin)
    "cdc_current_orders",
    "ann_ivfpq_topk",
    "text_pii_scrub",
    "pack_documents_budget",
    # round-5: Bloom fact-side join pruning and segment-level dedup —
    # the two new shuffle-volume stories, benched for per-round drift.
    "bloom_prune_brand_revenue",
    "dedup_segments_documents",
    # round-5 fourth session: iterative clustering (driver-synced Lloyd
    # rounds) and two-leg fused retrieval — the widest new plan shapes.
    "kmeans_lloyd_embeddings",
    "hybrid_search_rrf",
    # round-6: the deterministic epoch shuffle — a pure global-
    # permutation pipeline (range-repartition + broadcast offsets),
    # the training-order materialization shape.
    "shuffle_epoch_documents",
    # round-7: SemDeDup — iterative clustering feeding an intra-cluster
    # pairwise prune (the cluster-bounded O(sum c_i^2) join shape).
    "dedup_semantic_clusters",
    # round-8: repeated-window (ExactSubstr) dedup — the token-scale
    # window-hash multiset shape — and the token-budget mixture over
    # the grouped two-phase prefix sum.
    "dedup_exact_substring",
    "sample_token_budget_mixture",
    # round-8 late session: the Pareto grid walk (aggregate + grid
    # window + broadcast join) and CCNet perplexity tertiles (the
    # token-scale surprisal shape). LPA, the bucketed-join layout query
    # and the MinHash-index replay stay catalog-only like pagerank:
    # driver-synchronous rounds / table writes / streaming triggers add
    # seconds of fixed latency that would eat the round-over-round
    # comparison margin (their scale behavior is tracked by the ladder).
    "skyline_parts_pareto",
    "sample_perplexity_buckets",
    # round-10: URL canonicalization (pure codegen'd map algebra + one
    # key groupBy — the crawl-normalization shape) and the chained
    # clean->gate->dedup->sample->pack governance plan. The persisted/
    # incremental IVF queries stay catalog-only like the bucketed-join
    # layout query: their index writes add fixed table-IO latency that
    # would eat the comparison margin (ladder tracks their scaling).
    "url_canonical_dedup",
    "training_data_prep_e2e",
    # round-11: all three additions stay catalog-only by the standing
    # rule — ann_ivf_delete_topk writes an index table (fixed table-IO
    # latency) and the two late-data replays run streaming triggers;
    # their scale behavior is tracked by the ladder (all sublinear).
    # round-12: metadata-filtered ANN (broadcast semi-join ahead of
    # assignment), the cross-split gram-join decontamination shape, and
    # the decontamination-gated governance chain. The other four
    # additions stay catalog-only: compaction planning re-rides the
    # already-benched prefix sum, and calibration bins / DP counts /
    # episode construction are sub-second single-shuffle shapes the
    # ladder tracks.
    "ann_filtered_topk",
    "split_decontamination_stats",
    "training_data_prep_decontam_e2e",
    # round-13: the r13 additions stayed catalog-only by the standing
    # rules (gram-index replay writes index tables; FFD/allocation/
    # planning/kappa are single-shuffle shapes the ladder tracks).
    # round-14: packing loss accounting (the corpus-scale FFD shuffle +
    # narrow aggregates — the trainer-facing read of the packed
    # layout). dedup_images_phash stays catalog-only: its 120-image
    # slice is fixed-size, so a bench series would track Python/JVM
    # fixed costs, not data-scale behavior (the ladder pins it flat).
    "pack_attention_boundary_stats",
    # round-14 batch 2: preference-pair assembly (the shared-exchange
    # two-window + groupBy shape over the full corpus) and embedding-
    # space decontamination (broadcast-benchmark x corpus scan — the
    # widest new per-row compute). The other five stay catalog-only by
    # the standing rules: mmr/retrieval are k-bounded eval shapes,
    # sft masking / crawl frontier / doremi are single-shuffle
    # sub-second shapes the ladder tracks.
    "preference_pair_construction",
    "semantic_decontam_stats",
    # round-15: all four additions stay catalog-only by the standing
    # rules — crawl_ingest_e2e writes index tables (fixed table-IO
    # latency), ann_mmr_ivf_topk is a k-bounded eval shape like the
    # exact-pool MMR it composes, dedup_audio_fingerprint's 120-clip
    # slice is fixed-size (a series would track Python/JVM fixed
    # costs, not data scale), and semantic_decontam_shortlist_stats
    # is the contract twin of the already-benched decontam scan.
    # Their scale behavior is tracked by the ladder.
]

# The pre-round-5 headline set: emitted as `value_22q` so round-over-
# round totals stay comparable after headline additions.
_COMPARABLE_22 = HEADLINE[:22]


def cpu_probe() -> float:
    """Single-thread CPU probe: fixed 2e7-iteration integer loop,
    seconds (lower = faster host window). Emitted as ``cpu_probe_sec``
    with every bench line so round-over-round comparisons can be
    normalized for this host's day-scale performance drift (the
    r10/r12 noisy-window studies: identical code moved 1.3-1.8x with
    the VM idle) instead of re-adjudicating it from prose each round.
    Runs BEFORE Spark starts so JVM threads don't perturb it. The
    standardized body ships from round 13 on; earlier rounds' probes
    were ad-hoc prose records and are not unit-comparable."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(20_000_000):
        acc += i * i
    assert acc > 0
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    probe = cpu_probe()  # before Spark init — see docstring

    from etl_ml_pipeline_spark.session import cores, get_spark
    from etl_ml_pipeline_spark.queries import all_queries

    spark = get_spark(app_name="bench")

    queries = all_queries()
    names = [n for n in HEADLINE if n in queries]

    # Session warm-up: first JVM action + parquet reader init.
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).collect()

    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    total = 0.0
    cold_total = 0.0
    for name in names:
        # Pass 1 (untimed): absorbs per-plan-shape codegen/JIT one-time
        # cost. Passes 2-4 (timed): steady-state execution, full plan
        # build + materialization via Arrow (toPandas — same bytes off
        # the executors as collect(), without Python Row-object
        # overhead); median reported, min/max kept as the spread.
        t0 = time.perf_counter()
        n_rows = len(queries[name](spark, sf_dir).toPandas())
        cold = time.perf_counter() - t0
        passes = []
        for _ in range(3):
            t0 = time.perf_counter()
            len(queries[name](spark, sf_dir).toPandas())
            passes.append(time.perf_counter() - t0)
        dt = statistics.median(passes)
        timings[name] = round(dt, 3)
        spreads[name] = [round(min(passes), 3), round(max(passes), 3)]
        total += dt
        cold_total += cold
        print(
            f"# {name}: {dt:.3f}s median (spread {min(passes):.3f}-{max(passes):.3f}) "
            f"/ {cold:.3f}s cold ({n_rows} rows)",
            file=sys.stderr,
        )

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    v22 = sum(t for n, t in timings.items() if n in _COMPARABLE_22)
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_time",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "value_22q": round(v22, 3),
                "spread": spreads,
                "cold_value": round(cold_total, 3),
                "cpu_probe_sec": probe,
                # VERDICT r13 ask #8: probe-normalized headline total —
                # value_22q divided by the pre-Spark single-thread probe
                # time, so a round-over-round verdict can separate host
                # drift (probe moves with the total) from code drift
                # (ratio moves) without an 8-session study. Unitless;
                # only comparable across rounds with the standardized
                # probe body (r13+).
                "value_22q_per_probe": round(v22 / probe, 3),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    # VERDICT r14 ask #4: the driver's bench record keeps only the LAST
    # 2000 chars of stdout, and the full line above (queries + spread
    # maps over 39 names) exceeds that — every BENCH_r*.json so far has
    # parsed:null and a tail that starts mid-JSON. Emit a compact,
    # self-describing summary as the FINAL line (~500 chars, well under
    # the tail window) so the driver record always ends with one whole
    # parseable object. Series semantics are spelled out inline:
    # ``value_22q`` sums the 22-name membership frozen pre-round-5
    # (HEADLINE[:22], never grows), so it is the round-over-round
    # comparable series; ``value`` spans the full current headline set
    # (``headline_n`` names, grows with the catalog) and is only
    # comparable between rounds with equal headline_n.
    # VERDICT r15 ask #2: the compact summary line fixed the headline
    # parse, but the driver's PERF per-query map (and the c8/c32
    # scaling map) still came back empty because the per-query medians
    # only existed in the full record line, whose spread maps push it
    # far past the 2000-char tail. Emit the per-query MEDIANS ONLY as
    # their own compact line (tight separators, 3-decimal, no spread)
    # immediately before the summary line so BOTH fit inside the final
    # 2000 chars (~1350 + ~330 chars for 40 names; checked by
    # tests/test_cli.py::test_bench_tail_fits_2000_chars against the
    # live headline list). Additions-only: the full record line and the
    # timed region above are byte-identical to r15.
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    n_cores = cores()
    perq_line = json.dumps(
        {"metric": "headline_per_query", "queries": timings, "sf": sf_val, "cores": n_cores},
        separators=(",", ":"),
    )
    summary_line = json.dumps(
        {
            "metric": "headline_summary",
            "value": round(total, 3),
            "unit": "sec",
            "headline_n": len(names),
            "value_22q": round(v22, 3),
            "value_22q_members": "HEADLINE[:22] frozen pre-round-5",
            "cold_value": round(cold_total, 3),
            "cpu_probe_sec": probe,
            "value_22q_per_probe": round(v22 / probe, 3),
            "sf": sf_val,
            "cores": n_cores,
        },
        separators=(",", ":"),
    )
    if len(perq_line) + len(summary_line) + 2 > 2000:
        # fall back to the frozen 22-name subset rather than risk the
        # tail truncating mid-JSON again
        perq_line = json.dumps(
            {
                "metric": "headline_per_query",
                "queries": {
                    n: v for n, v in timings.items() if n in _COMPARABLE_22
                },
                "note": "22q subset; full map exceeded the 2000-char tail",
                "sf": sf_val,
                "cores": n_cores,
            },
            separators=(",", ":"),
        )
    print(perq_line)
    print(summary_line)


if __name__ == "__main__":
    main()
