#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Execution is forced through the noop sink (full pipeline runs on
executors, nothing funnels to the driver) — the same shape a cluster
write has, so the timings reflect distributed cost, not collect().
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: one representative per operator family (SURVEY.md §2) — the queries a
#: user of the reference would actually run continuously, plus the [ext]
#: LLM-pipeline workload.
HEADLINE = [
    "cdc_current_state",       # A1/K2: LWW materialization
    "cdc_state_enriched",      # §3.2 whole-pipeline flagship
    "tpch_q1_pricing_summary", # scan+agg throughput
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",  # multi-way broadcast star join
    "tpch_q4_order_priority",  # EXISTS → left-semi join
    "tpch_q13_customer_distribution",  # outer join + double aggregation
    "tpch_q18_large_orders",   # HAVING group-filter + join-back
    "agg_basic",               # groupBy agg catalog
    "window_tumbling",         # A5 windowed agg
    "window_session",          # A7 session windows
    "join_interval",           # J2 interval join
    "window_rank_frames",      # W2 analytic windows
    "scalar_json",             # §2.7 JSON family on events
    "dedup_exact",             # ext: hash dedup
    "dedup_minhash_lsh",       # ext: banded LSH near-dup
    "ann_topk_bruteforce",     # ext: broadcast k-NN
    "text_tfidf_top_terms",    # ext: text analysis
    "corpus_pipeline",         # ext: composed quality→dedup→split flow
    "tpch_q21_waiting_suppliers",  # exists/not-exists decorrelated to windows
    "text_rolling_fingerprint",    # ext: zero-shuffle rolling-hash sketch
    "embedding_quantize_sq8",      # ext: int8 vector quantization
    # round-10 promotions (VERDICT r9 item 6): one representative of
    # each r9 group-pair contract family joins the headline so the
    # round-over-round trend line covers the 100 TB-shaped emitters.
    # BASELINE.md is re-baselined with a same-run load receipt — the
    # 22-query "operative baseline" median is NOT comparable to this
    # 24-query roster.
    "dedup_minhash_groups",    # ext: group-pair contract (MinHash family)
    "timeseries_paa_groups",   # ext: group-pair contract (PAA family)
]

# Second tier, timed by default since r6 (VERDICT r5 item 6: an
# untracked tier makes regressions invisible). Kept OUT of the headline
# roster so "value" stays comparable round-over-round; its numbers ride
# inside the same single JSON line under "extended". Set
# SPARK_GRAFT_BENCH_EXTENDED=0 to skip the extra pass.
EXTENDED = [
    "agg_distinct_hll",        # sketch cardinality (partial-agg registers)
    "agg_heavy_hitters_cms",   # count-min frequency sketch
    "graph_triangle_count",    # degree-oriented triangles, checkpointed edges
    "text_boilerplate_removal",  # cross-doc segment dedup
    "join_bloom_prune",        # runtime-filter semi-join reduction
    "cdc_table_checksum",      # zero-shuffle content digest
    "embedding_pq_codes",      # product quantization encode
    "agg_percentiles_exact",   # rank-bracket exact quantiles
    "events_gap_islands",      # interval merge (gaps-and-islands)
    "layout_zorder",           # Morton bucketing report
    # round-5 operator families
    "ann_topk_ivf",            # Lloyd-trained coarse quantizer (inline centroids)
    "corpus_dedup_apply",      # applied near-dedup (pairs → CC → keep-first)
    "embedding_knn_graph",     # all-vector kNN via sign-bucket self-join
    "text_perplexity_filter",  # bigram-LM quality gate
    "agg_quantile_sketch",     # mergeable bucket-count quantiles
    "cdc_join_view_maintenance",  # delta-algebra join-view refresh
    "join_band_bucketed",      # band join as bucketed equi-join
    "dedup_simhash",           # int-signature popcount hamming (r5 6.7x fix)
    # round-6 operator families
    "ann_topk_ivfpq",          # IVF cell + PQ ADC shortlist + exact refine
    "cdc_multi_table_routing", # filter.table array demux (P1 array form)
    # late round-6 additions
    "timeseries_resample_interpolate",  # grid synth + IGNORE NULLS fill
    "events_attribution_last_touch",    # per-key window attribution
    "dedup_fuzzy_levenshtein",          # blocked edit-distance near-dup
    # round-7 additions
    "ann_topk_ivfpq_serve",    # persisted-index serve (sample 1 may build;
                               # the median keeps the serve-only cost)
    "cdc_interval_decode",     # P5 interval wire decode + ISO-8601 render
    "ann_topk_ivf_nprobe",     # multi-probe IVF (2 cells per query)
    "ann_topk_lsh_bands",      # multi-band sign-LSH candidate union
    "dedup_minhash_estimate",  # signature-vs-exact Jaccard calibration
    # round-8 additions
    "dedup_simhash_topk",      # bounded-output (≤3N rows) simhash variant
    "dedup_fuzzy_topk",        # bounded-output edit-distance variant
    "timeseries_paa_topk",     # bounded-output 2-D-grid PAA kNN
    "ann_topk_ivfpq_serve_nprobe",  # multi-probe serve (recall dial,
                                    # zero rebuild, shared artifact)
    # round-9 additions (dedup_minhash_groups and timeseries_paa_groups
    # promoted to HEADLINE in r10 — VERDICT r9 item 6)
    "dedup_minhash_topk",      # bounded-output MinHash variant (twin-collapsed)
    "dedup_fuzzy_groups",      # group-pair contract for the fuzzy emitter
    "cdc_state_compaction",    # real state-store merge×2 + tombstone GC
    # round-10 additions: contract-matrix completion cells
    "dedup_simhash_groups",    # group-pair contract (SimHash family)
    "dedup_embedding_cosine_topk",    # bounded-output embedding near-dup
    "dedup_embedding_cosine_groups",  # group-pair contract (embedding family)
    # round-11 addition: multi-key blocking composition with recall
    # provenance (the EXT-scale-shot named-cause answer)
    "dedup_fuzzy_multiblock",
    # round-12 additions: the fuzzy and simhash families' APPLY cells
    # (pairs -> CC -> keep-first corpus), mirroring corpus_dedup_apply
    "dedup_fuzzy_apply",
    "dedup_simhash_apply",
    # round-13 additions (VERDICT r12 item 6): the two pre-tier apply
    # gates join so the WHOLE apply matrix has round-over-round timing
    "corpus_dedup_keep_longest",
    "dedup_semantic_apply",
    # round-13: the direct differential certificate for the CC engine
    # (SNM user graph, 132k edges at sf0.1 — exercises the driver
    # union-find cutover; tests/probes force the distributed arms)
    "graph_connected_components",
    # round-14 additions: the seeded shuffle-shard assignment and the
    # exact 5-gram decontamination join, timed from their first round
    "corpus_shuffle_shards",
    "corpus_decontaminate_ngram",
]


#: sha256-over-1-GiB seconds on THIS container when idle — the divisor
#: that turns a run's measured calib_sec into a load scale. Source:
#: the r11 idle close-run measured 0.687/0.691 and r10's driver run
#: (loadavg 2-3) 0.702/0.716; 0.69 is the idle floor of that series.
#: Re-measure if the container generation changes.
CALIB_IDLE_REF = 0.69


def _calibration_sec() -> float:
    """Fixed-work single-thread CPU probe (VERDICT r7 item 3): sha256
    over 1 GiB of zeros (~0.7 s idle — long enough that scheduler
    jitter on a loaded box shows up, short enough to run twice per
    bench) — identical work every invocation, so the
    measured seconds track ambient machine load, not the code under
    test. BENCH artifacts carry it as load evidence (r7's driver run
    was uniformly ~1.5× an idle run of the SAME plans; nothing in the
    artifact could prove it was load), and scripts/bench_compare.py
    uses the previous artifact's value to tell a plan regression from
    a loaded run."""
    import hashlib

    block = b"\x00" * (1 << 20)
    h = hashlib.sha256()
    t0 = time.perf_counter()
    for _ in range(1024):
        h.update(block)
    return round(time.perf_counter() - t0, 4)


#: In-artifact canary set (VERDICT r13 item 1): the r13 driver artifact
#: inflated ~20% raw AND normalized on UNTOUCHED trivial plans while the
#: bracketing MT probe read quiet — bracketing probes sample two
#: instants, but contention is episodic and lands MID-schedule. These
#: five headline gates are trivial (sub-second, single-scan, stable
#: plans untouched since ≤r10), so their normalized medians move ONLY
#: with ambient conditions; being interleaved through the same
#: median-of-3 schedule as every other query, they measure the ambient
#: the run actually experienced, not the ambient at its edges. Each
#: artifact self-reports canary_scale = Σ(normalized canary medians) /
#: CANARY_REF_NORM_SUM and a comparable bit — cross-round normalized
#: comparisons are trustworthy iff both runs' bits are true.
CANARIES = (
    "scalar_json",
    "dedup_exact",
    "text_rolling_fingerprint",
    "embedding_quantize_sq8",
    "ann_topk_bruteforce",
)

#: reference for the canary sum in NORMALIZED seconds: the three driver
#: artifacts' normalized canary sums — r11 1.589, r12 1.086, r13 1.501
#: (raw medians from BENCH_r{11,12,13}.json tails ÷ their load_scale)
#: — mean 1.39. The series itself shows the ambient swing the canary
#: exists to expose: r12's run was a fast outlier (0.78× the mean) and
#: r13 an ordinary one (1.08×), which is why "r12→r13 inflated 20%"
#: was ambient, not plans (BASELINE.md r13 A/B receipt). Band below is
#: ±25%, just past that observed swing.
CANARY_REF_NORM_SUM = 1.39
CANARY_BAND = (0.75, 1.25)

#: the driver keeps the last 2000 chars of stdout; past this many chars
#: the extq2 + summary trailer lines leave under 100 chars of slack
TRAILER_WARN_CHARS = 1900

#: EXTENDED-tier canary trio (r14, from the canary's first live test):
#: the headline canaries ran quiet (scale 1.25) while the extended tier
#: of the same run inflated 1.5-3.2× — the two tiers run MINUTES apart,
#: and episodic load that arrives after the headline block is invisible
#: to a headline-only canary (the same-session worktree A/B exonerated
#: every >2.5× row: untouched gates read 0.88-0.94× solo). These three
#: extended gates are trivial + frozen-plan (single scan / one narrow
#: shuffle, untouched since ≤r11), so the extended block gets its own
#: in-schedule ambient verdict; ``comparable`` requires BOTH tiers'
#: scales in band.
EXT_CANARIES = (
    "layout_zorder",
    "agg_quantile_sketch",
    "events_gap_islands",
)

#: normalized extended-canary sums from the driver artifacts:
#: r11 1.262, r12 0.997, r13 0.934 (raw medians ÷ load_scale;
#: r11's elevation is its known ±25% calib-spread round) — mean 1.06.
EXT_CANARY_REF_NORM_SUM = 1.06

#: MT probe thread count (ADVICE r12): sized from the box, capped at 8
#: so the reading stays comparable to the r12 series on this 32-core
#: container while never self-oversubscribing a smaller one (threads >
#: cores reads high even idle, which breaks the "degrades only under
#: contention" interpretation).
CALIB_MT_THREADS = min(os.cpu_count() or 8, 8)

#: 8-thread probe seconds on THIS container when idle (measured r13:
#: 0.24-0.26 across repeats at 1-thread calib ~0.86 — each thread
#: hashes 256 MiB, so free cores finish in ~1/4 the 1 GiB 1-thread
#: wall). Only meaningful when CALIB_MT_THREADS == 8; the contention
#: flag is suppressed otherwise.
CALIB_MT_IDLE_REF = 0.25


def _calibration_mt_sec(threads: int = CALIB_MT_THREADS) -> float:
    """Multi-thread variant of the probe (r12): the 1-thread calib
    cannot see PARALLEL contention — two verify benches at identical
    1-thread calib (0.816 vs 0.817) read 25.9 vs 35.5 s headline on a
    box whose other tenants were parallel-saturating the cores.
    ``threads`` sha256 workers × 256 MiB each (hashlib releases the
    GIL on large updates) measure the wall of fixed PARALLEL work;
    idle this container reads ~0.25 s (free cores — 256 MiB at the
    1-thread hash rate), and it degrades with core contention the
    1-thread probe misses. Evidence only — normalization stays on the
    1-thread probe so the normalized unit's definition doesn't shift
    mid-series."""
    import hashlib
    import threading

    block = b"\x00" * (1 << 20)

    def work() -> None:
        h = hashlib.sha256()
        for _ in range(256):
            h.update(block)

    ts = [threading.Thread(target=work) for _ in range(threads)]
    t0 = time.perf_counter()
    for th in ts:
        th.start()
    for th in ts:
        th.join()
    return round(time.perf_counter() - t0, 4)


def main() -> int:
    import re

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)$", os.path.basename(sf_dir.rstrip("/")))
    sf = float(m.group(1)) if m else 0.0
    from olr_cdc_oracle_no_dbz_spark.session import get_spark
    from olr_cdc_oracle_no_dbz_spark.workload import queries

    spark = get_spark("bench")

    # tpch_q3/q10's post-limit rank windows are unpartitioned over ≤20
    # rows BY DESIGN (pinned: tests/test_plans.py::
    # test_unpartitioned_windows_only_after_tight_limit), so WindowExec's
    # "No Partition Defined" warning is noise here — raise its level.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )

    qs = queries()
    extended = os.environ.get("SPARK_GRAFT_BENCH_EXTENDED", "1") != "0"

    # JVM/codegen warmup on the smallest table so q1 isn't taxed for it
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    # Median-of-3 (VERDICT r3 item 8): the ±10-15% shared-container load
    # variance dominates single-run round-over-round deltas. Rounds are
    # interleaved (run 1 of every query, then run 2, ...) so a transient
    # load spike lands on ONE sample of many queries — which the
    # per-query median then discards — rather than on all samples of one.
    #
    # ADVICE r4: the extended tier runs as a SEPARATE timing pass AFTER
    # all headline runs complete, so extended-tier cache/GC pressure
    # cannot shift headline medians — headline samples are collected
    # under the identical schedule whether or not EXTENDED=1.
    runs = 3

    def measure(roster: list[str]) -> dict[str, float]:
        names = [n for n in roster if n in qs]
        samples: dict[str, list[float]] = {n: [] for n in names}
        for _ in range(runs):
            for name in names:
                t0 = time.time()
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                samples[name].append(time.time() - t0)
        return {n: round(sorted(ts)[runs // 2], 3) for n, ts in samples.items()}

    load_before = os.getloadavg()[0]
    calib_before = _calibration_sec()
    calib_mt_before = _calibration_mt_sec()

    def _tier_scale(
        medians: dict[str, float],
        canaries: tuple[str, ...],
        ref: float,
        calib_pair: tuple[float, float],
    ) -> float:
        """Provisional in-schedule ambient scale for ONE tier, computed
        right after the tier finishes from the calib probes bracketing
        it — the retry decision (VERDICT r14 item 1b) cannot wait for
        the end-of-run calib the final canary block uses."""
        scale = max(sum(calib_pair) / 2.0 / CALIB_IDLE_REF, 1e-9)
        s = sum(medians.get(c, 0.0) for c in canaries) / scale
        return round(s / ref, 4)

    # bounded canary retry (VERDICT r14 item 1b): r13 AND r14 driver
    # runs were both uncertifiable because a mid-schedule ambient
    # episode pushed the canaries out of band — with zero retries the
    # round-over-round per-query series dies with them. One re-run of
    # the out-of-band tier gives two chances to land in-band; the
    # first attempt's medians are KEPT in the artifact (canary_retry)
    # so nothing is hidden. Methodology per timed sample is unchanged
    # (same measure(), same roster, same median-of-3).
    canary_retry: dict[str, dict] = {}

    # PAA warm/cold split (ADVICE r10): the three PAA gates share a
    # memoized events→daily→dense-vector upstream, so after sample 1
    # every timed sample is warm — which silently confounded the
    # r9↔r10 per-query comparison. Run ONE explicit cold invocation of
    # the headline PAA gate first and receipt it separately (the serve
    # gates' discipline): every timed sample below is then a pure WARM
    # median, and the cold number keeps round-over-round attribution
    # honest.
    paa_cold = None
    if "timeseries_paa_groups" in qs:
        t0 = time.time()
        qs["timeseries_paa_groups"](spark, sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()
        paa_cold = round(time.time() - t0, 3)

    head = measure(HEADLINE)
    calib_h = _calibration_sec()
    prov = _tier_scale(
        head, CANARIES, CANARY_REF_NORM_SUM, (calib_before, calib_h)
    )
    if not (CANARY_BAND[0] <= prov <= CANARY_BAND[1]):
        canary_retry["headline"] = {
            "first_scale": prov,
            "first_total": round(sum(head.values()), 3),
            "first_queries": head,
        }
        head = measure(HEADLINE)
    total = round(sum(head.values()), 3)
    out = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": head,
        "sf": sf,
        "runs": runs,
    }
    if extended:
        # a second timing pass AFTER all headline runs complete (ADVICE
        # r4), embedded in the SAME single JSON line so the driver's
        # one-line contract holds while the tier is tracked per round.
        # Warm/cold split (VERDICT r9 item 7): the persisted-index
        # serve gates build their artifact on first invocation, so run
        # each once UNTIMED first — every timed sample below is then a
        # WARM serve and regression detection stops aliasing build
        # cost (build is receipted separately under "ann_index").
        for name in ("ann_topk_ivfpq_serve", "ann_topk_ivfpq_serve_nprobe"):
            if name in qs:
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
        ext = measure(EXTENDED)
        calib_e = _calibration_sec()
        prov_e = _tier_scale(
            ext,
            EXT_CANARIES,
            EXT_CANARY_REF_NORM_SUM,
            (calib_h, calib_e),
        )
        if not (CANARY_BAND[0] <= prov_e <= CANARY_BAND[1]):
            canary_retry["extended"] = {
                "first_scale": prov_e,
                "first_total": round(sum(ext.values()), 3),
                "first_queries": ext,
            }
            ext = measure(EXTENDED)
        out["extended"] = {
            "value": round(sum(ext.values()), 3),
            "queries": ext,
        }
        # train-once/serve-many receipt (VERDICT r6 item 2): build the
        # persisted ANN index once, then answer top-k from it — serve
        # must come out well under both the build and the inline
        # ann_topk_ivfpq row above (which re-trains per invocation)
        import shutil
        import tempfile

        from olr_cdc_oracle_no_dbz_spark.workload import ann_index as ai

        build_dir = tempfile.mkdtemp(prefix="bench_ann_index_")
        t0 = time.time()
        ai.build_ann_index(spark, sf_dir, build_dir)
        build_s = time.time() - t0
        serve_samples = []
        for _ in range(runs):
            t0 = time.time()
            ai.serve_topk(spark, sf_dir, build_dir, 120, 140).write.format(
                "noop"
            ).mode("overwrite").save()
            serve_samples.append(time.time() - t0)
        shutil.rmtree(build_dir, ignore_errors=True)
        out["ann_index"] = {
            "build": round(build_s, 3),
            "serve": round(sorted(serve_samples)[runs // 2], 3),
        }
    # ambient-load evidence (VERDICT r7 item 3): calibration before AND
    # after bracket the whole timed region, loadavg shows what else the
    # container was doing
    calib_after = _calibration_sec()
    calib_mt_after = _calibration_mt_sec()
    out["load"] = {
        "calib_sec": [calib_before, calib_after],
        "calib_mt_sec": [calib_mt_before, calib_mt_after],
        "mt_threads": CALIB_MT_THREADS,
        "loadavg_1m": [round(load_before, 2), round(os.getloadavg()[0], 2)],
        # ADVICE r13: recorded so bench_compare judges this artifact's
        # loadavg against the box that PRODUCED it, not the comparer's
        "cpu_count": os.cpu_count(),
    }
    # contention flag (VERDICT r12 item 5): the 1-thread scale divides
    # the normalized block, but parallel contention is INVISIBLE to it
    # — so the artifact states explicitly when its normalized numbers
    # are trustworthy. mt_scale is the MT probe's own idle-referenced
    # load scale; when it exceeds the 1-thread scale by >30% the box
    # was parallel-contended beyond what normalization corrects, and
    # cross-round normalized comparisons from this run are suspect
    # (comparison rules: BASELINE.md "Which unit to compare").
    if CALIB_MT_THREADS == 8:
        st_scale = (calib_before + calib_after) / 2.0 / CALIB_IDLE_REF
        mt_scale = (
            (calib_mt_before + calib_mt_after) / 2.0 / CALIB_MT_IDLE_REF
        )
        # threshold 1.3 → 1.15 (VERDICT r13 item 1): the one measured
        # real-contention window read MT calib 0.35 vs the 0.25 idle
        # ref (mt_scale 1.4) at near-idle 1-thread probes (BASELINE.md
        # r13 apply-gate note) — mt/st ≈ 1.2-1.4, which the 1.3× gate
        # could miss; measured quiet runs sit at mt/st 0.7-1.0, so
        # 1.15 separates the classes with margin on both sides.
        out["load"]["contention"] = {
            "mt_idle_ref": CALIB_MT_IDLE_REF,
            "mt_scale": round(mt_scale, 4),
            "st_scale": round(st_scale, 4),
            "flagged": bool(mt_scale > 1.15 * st_scale),
        }
    # calib-normalized map (VERDICT r11 item 3): round-over-round
    # deltas were dominated by container load (r11's ±25% calib spread
    # exceeded most real plan deltas), so each artifact now ALSO
    # carries every timing divided by the run's load scale
    # (mean measured calib / idle reference) — an idle-equivalent
    # ESTIMATE under the approximation that wall time scales with the
    # single-thread CPU slowdown. BASELINE.md states which unit each
    # comparison uses; raw stays the gate unit.
    scale = max(
        (calib_before + calib_after) / 2.0 / CALIB_IDLE_REF, 1e-9
    )
    out["normalized"] = {
        "calib_idle_ref": CALIB_IDLE_REF,
        "load_scale": round(scale, 4),
        "value": round(total / scale, 3),
        "queries": {n: round(v / scale, 3) for n, v in head.items()},
    }
    if extended:
        out["normalized"]["extended"] = {
            "value": round(out["extended"]["value"] / scale, 3),
            "queries": {
                n: round(v / scale, 3)
                for n, v in out["extended"]["queries"].items()
            },
        }
    if paa_cold is not None:
        out["paa_upstream"] = {
            "cold_first_run_sec": paa_cold,
            "warm_median_sec": head.get("timeseries_paa_groups"),
        }
    # in-artifact canary verdict (VERDICT r13 item 1): canary_scale is
    # the run's in-schedule ambient relative to the r11-r13 driver
    # series; "comparable" certifies the normalized block for
    # cross-round per-query comparison (rules: BASELINE.md r14).
    canary_sum = sum(
        out["normalized"]["queries"].get(c, 0.0) for c in CANARIES
    )
    canary_scale = round(canary_sum / CANARY_REF_NORM_SUM, 4)
    mt_flagged = (out["load"].get("contention") or {}).get("flagged")
    # extended-tier verdict (r14): the tiers run minutes apart, so each
    # gets its own in-schedule ambient scale; an extended-only load
    # episode (the canary's first live test) must not certify the
    # extended normalized block.
    ext_norm_q = (
        out["normalized"].get("extended", {}).get("queries", {})
        if extended
        else {}
    )
    ext_sum = sum(ext_norm_q.get(c, 0.0) for c in EXT_CANARIES)
    ext_scale = (
        round(ext_sum / EXT_CANARY_REF_NORM_SUM, 4) if ext_norm_q else None
    )
    ext_in_band = (
        ext_scale is None
        or CANARY_BAND[0] <= ext_scale <= CANARY_BAND[1]
    )
    out["canary"] = {
        "queries": list(CANARIES),
        "norm_sum": round(canary_sum, 3),
        "ref_norm_sum": CANARY_REF_NORM_SUM,
        "scale": canary_scale,
        "band": list(CANARY_BAND),
        "ext_queries": list(EXT_CANARIES),
        "ext_norm_sum": round(ext_sum, 3) if ext_norm_q else None,
        "ext_ref_norm_sum": EXT_CANARY_REF_NORM_SUM,
        "ext_scale": ext_scale,
        "comparable": bool(
            CANARY_BAND[0] <= canary_scale <= CANARY_BAND[1]
            and ext_in_band
            and not mt_flagged
        ),
    }
    if canary_retry:
        out["canary_retry"] = canary_retry
    print(json.dumps(out))
    # truncation-proof tail lines (VERDICT r10 item 5 + r14 item 1a):
    # the driver captures only the LAST 2000 chars of stdout, which in
    # r13/r14 clipped every per-query map out of the BENCH artifact
    # (PERF per_query came back empty). The full artifact line above
    # stays unchanged; these compact trailer lines re-emit the raw
    # per-query medians (3-decimal, compact separators) sized so the
    # summary + headline map (~930 chars) ALWAYS survive intact and
    # the extended map rides as two individually-parseable lines just
    # ahead of them (the first may lose its head to the 2000-char
    # window; the second and everything after are safe by arithmetic:
    # ~645 + ~645 + ~930 ≈ 2200).
    trailer = []
    if extended:
        ext_q = out["extended"]["queries"]
        ext_names = list(ext_q)
        half = (len(ext_names) + 1) // 2
        for key, chunk in (
            ("extq1", ext_names[:half]),
            ("extq2", ext_names[half:]),
        ):
            trailer.append(
                json.dumps(
                    {key: {n: round(ext_q[n], 3) for n in chunk}},
                    separators=(",", ":"),
                )
            )
    trailer.append(
        json.dumps(
            {
                "headline_sec": total,
                "extended_sec": out.get("extended", {}).get("value"),
                "calib_sec": out["load"]["calib_sec"],
                "headline_norm_sec": out["normalized"]["value"],
                "load_scale": out["normalized"]["load_scale"],
                "contention_flagged": out["load"]
                .get("contention", {})
                .get("flagged"),
                "canary_scale": out["canary"]["scale"],
                "ext_canary_scale": out["canary"]["ext_scale"],
                "comparable": out["canary"]["comparable"],
                "canary_retried": sorted(canary_retry) or None,
                "n_headline": len(head),
                "queries": {n: round(v, 3) for n, v in head.items()},
            },
            separators=(",", ":"),
        )
    )
    # ADVICE r15: the "always inside the 2000-char window" arithmetic
    # above erodes as the extended roster grows; say so at emit time
    # (stderr, so stdout stays byte-compatible) before it silently breaks
    tail = sum(len(line) + 1 for line in trailer[-2:])
    if tail > TRAILER_WARN_CHARS:
        print(
            f"bench: warning: trailer tail is {tail} chars (> "
            f"{TRAILER_WARN_CHARS}); the extq2 line may be clipped from "
            "the last 2000 chars of stdout",
            file=sys.stderr,
        )
    for line in trailer:
        print(line)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
