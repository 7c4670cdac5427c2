"""Encode SCALE.md's sf1 scaling argument as assertions (r7 verdict
#5): the claim "blocked operators stay sub-quadratic, map-only stays
~input-linear, the star joins' broadcast→shuffle transition at sf1 is
the correct plan" was prose; this test reads the standing
PLANMETRICS.json artifact (bench.py emits deterministic per-query
input/shuffle record counts at sf0.1 plus an sf1 tail) and asserts the
ratio CLASS of every sf1-tail query.

Classes (every sf1-tail query MUST be classified — adding a query to
bench.py's SF1_TAIL without classifying it here fails loudly):

- LINEAR: shuffle records grow ~with input (digest/doc-keyed exchanges:
  exact dedup, map-only text ops whose one exchange is result
  delivery).
- BLOCKED: band/bucket-blocked pair joins, gated on DETERMINISTIC
  candidate-pair volume (evidence.py), not shuffle records — AQE
  join-strategy flips move the shuffle metric ~7× on identical
  data/results (r13 verdict #1). Candidate growth must be matched by
  blocked-row growth or verified-output growth; unmatched growth means
  the blocking collapsed. Raw shuffle records remain recorded as
  telemetry, and the shuffle-fallback leg's cost model is pinned in
  tests/test_fallback_cost.py.
- CONSTANT: result-bounded exchanges (top-k similarity ships k rows
  per query regardless of corpus size; the corpus never shuffles).
- PLAN_TRANSITION: star joins whose small side outgrows the broadcast
  threshold at sf1 — AQE correctly switches to a shuffle join, so
  shuffle records jump from ~result-size to ~input-size. The invariant
  that survives the transition: the exchange carries at most O(input),
  never O(input²) — record ratios must be read against the plan, not
  scalar-gated (SCALE.md "sf1 scaling evidence").

Runs only when the artifact carries an sf1 section (bench.py --sf1 or
a driver round); otherwise skips — correctness gates don't produce it.
"""

from __future__ import annotations

import json
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARTIFACT = os.environ.get(
    "PLANMETRICS_PATH", os.path.join(ROOT, "PLANMETRICS.json"))

LINEAR = {
    "dedup_exact", "text_quality",
    # r8 wave 2. perplexity: token-keyed counts + doc-keyed NLL agg,
    # both ~input. pmi: gram-keyed counts — observed SUB-linear (2.35×
    # shuffle on 10× input: the distinct-gram vocabulary saturates).
    # hybrid_rrf: the only data-scaled exchange is util.spread()'s
    # parallelism-floor repartition inside the BM25 leg (observed 8.6×
    # on 10× input) — linear by definition, and a no-op on a real
    # cluster where the scan already has enough partitions; the
    # algorithmic exchanges (stats row, 2×pool fusion) are constant.
    "text_perplexity_buckets", "corpus_pmi_top_pairs",
    "retrieval_hybrid_rrf",
    # r9: overlap matrix (full + incremental). The dominant exchange is
    # the (group, shingle) distinct's map-side shuffle of the shingle
    # stream (~input-scaled; measured 9.3-9.4× on 10× input); the
    # shingle-keyed pair join after the distinct is bounded per key by
    # the GROUP count, so it can never go quadratic in the corpus.
    "corpus_overlap_matrix", "corpus_overlap_incremental",
    # Gopher duplicated-n-gram stats: per-document NumPy kernel behind
    # util.spread()'s parallelism-floor repartition (~input) and the
    # result delivery — no pair or gram exchange
    "text_dup_ngram_stats",
}
# BLOCKED gate (rewritten r14, r13 verdict #1): the gate used to ratio
# raw shuffle_write_records, a PLAN property — AQE's broadcast-vs-
# shuffle choice for the verify joins flips it ~7× on bit-identical
# inputs and outputs (r13 measured 84,294 / 84,294 / 124,596 for the
# same minhash query; the round driver recorded 607,172 — all four runs
# produced the identical 256 pairs). The gate now ratios the
# DETERMINISTIC candidate-pair volume the operators themselves record
# (coolplaydruid_spark/evidence.py, emitted by bench.py into
# PLANMETRICS `candidate_pairs`/`blocked_rows`/`output_rows`):
#
#     pair_ratio <= cap × max(blocked_rows ratio, output_rows ratio)
#
# Candidate volume may legitimately grow with INPUT (more buckets) or
# with VERIFIED-duplicate density (the sf1 synthesizer duplicates texts
# ~10×, squaring dup-group sizes — e.g. image dHash candidates grow
# ~100× on 10× input *because the verified pair set grows ~49×*: those
# are real near-duplicates banding is SUPPOSED to surface). What it
# must never do is grow past BOTH — false candidates from a collapsed
# bucket multiply the pair stream without any matching verified-output
# or input growth, and that is exactly what this ratio catches while
# shuffle-record telemetry (still recorded) cannot distinguish from an
# AQE plan flip. The shuffle-fallback leg itself is cost-model-pinned
# separately in tests/test_fallback_cost.py (r13 verdict #2).
#
# Caps = measured r14 excess (pair_ratio / max(row, out) at sf0.1→sf1)
# with ≥2× headroom, far below an unmatched-candidate blow-up:
BLOCKED = {
    # measured 29.9× pairs on 10.0× rows, 1.0× output (the duplicated
    # variants band-collide but fail exact-Jaccard 0.5) → excess 2.99
    "dedup_minhash_lsh": 6.0,
    # cap=2 bounds candidates almost flat: 1.47× pairs (excess 0.15)
    "dedup_minhash_capped": 6.0,
    # banded Hamming families: pairs track verified near-dup density
    # (100.2×/98.4× pairs vs 48.7×/95.2× outputs → excess 2.1/1.0)
    "dedup_image_phash": 5.0,
    "dedup_audio_fingerprint": 5.0,
    "dedup_image_phash_incremental": 5.0,
    "dedup_audio_fingerprint_incremental": 5.0,
    # co-frame Jaccard: 64.9× pairs vs 10.2× verified output — the
    # candidate set carries sub-threshold co-frame pairs (intros/shared
    # frames) that verification prunes; excess 6.3, cap 13
    "dedup_video_framehash": 13.0,
    "dedup_image_phash_from_store": 5.0,
    # 28.8× pairs on 10.0× rows, flat output — same shape as the
    # self-join minhash (excess 2.88)
    "dedup_minhash_incremental_from_store": 6.0,
    # group-pair blocking: 6.7× pairs on 2.6× rows (the distinct
    # group-shingle vocabulary saturates; excess 2.55)
    "corpus_overlap_from_store": 6.0,
    # composed media pipeline: its pairing stage IS dedup_image_phash's
    # banded join (same candidates, gated with precision above); the
    # composite's own output is the kept-doc set (7.7×), so the excess
    # vs max(rows, output) is 10.0 — cap 15 bounds further degradation,
    # the blocking-precision claim rides on the standalone entry
    "pipeline_media_dedup": 15.0,
    "dedup_video_framehash_incremental": 13.0,
    # semantic family: corpus-scaled fitted cells keep co-cell
    # candidates ~linear (10.0×/12.5× pairs; excess ≤ 1.25)
    "dedup_embedding_semantic_fit": 4.0,
    "dedup_embedding_semantic_incremental_scaled": 4.0,
    "dedup_embedding_semantic_from_store_scaled": 4.0,
    "streaming_semantic_replay": 4.0,
    # composed corpus build: minhash bands + hot-cell cap keep the
    # summed candidate stream SUB-linear (1.9× pairs on 9.7× rows)
    "pipeline_llm_corpus_packed": 4.0,
}
CONSTANT = {"similarity_topk_brute"}
PLAN_TRANSITION = {"sql_join_top_customers", "sql_join_region_revenue"}


def _load():
    if not os.path.exists(ARTIFACT):
        pytest.skip(f"no {ARTIFACT}")
    d = json.load(open(ARTIFACT))
    base, sf1 = d.get("plan_metrics") or {}, d.get("sf1_plan_metrics") or {}
    if not sf1:
        pytest.skip("artifact has no sf1 section (run bench.py with the "
                    "sf1 tail enabled)")
    return base, sf1, bool(d.get("sf1_carried_from_previous_run"))


def test_every_sf1_query_is_classified():
    """Sync against bench.py's SOURCE list, not the artifact: dropping
    a query from SF1_TAIL while it stays classified here (or adding one
    without a class) fails loudly even before the next bench run."""
    import bench

    classified = LINEAR | set(BLOCKED) | CONSTANT | PLAN_TRANSITION
    tail = set(bench.SF1_TAIL)
    assert classified == tail, (
        f"unclassified sf1-tail queries: {sorted(tail - classified)}; "
        f"classified-but-dropped: {sorted(classified - tail)} — keep "
        "tests/test_scale_records.py and bench.py SF1_TAIL in sync")
    _, sf1, _ = _load()
    assert set(sf1) <= tail, (
        f"artifact sf1 section has queries outside SF1_TAIL: "
        f"{sorted(set(sf1) - tail)}")


def _ratios(base, sf1, name, carried):
    a, b = base.get(name), sf1.get(name)
    if a is None or b is None:
        # A classified query may legitimately be absent only when the
        # artifact's sf1 sections were CARRIED FORWARD from a previous
        # run (bench.py marks that) — the query was added to the tail
        # and the carried sections predate it. A FRESH artifact missing
        # a classified query means bench dropped it silently: fail.
        if carried:
            pytest.skip(f"{name} not in the carried-forward sf1 "
                        "sections (pending a successful sf1 bench run)")
        raise AssertionError(
            f"{name} is classified and in SF1_TAIL but missing from a "
            f"FRESH artifact (base={a is not None}, sf1={b is not None})"
            " — bench.py dropped it without marking carry-forward")
    in_ratio = b["input_records"] / max(a["input_records"], 1)
    sh_ratio = (b["shuffle_write_records"]
                / max(a["shuffle_write_records"], 1))
    return in_ratio, sh_ratio, a, b


@pytest.mark.parametrize("name", sorted(LINEAR))
def test_linear_operators_scale_with_input(name):
    base, sf1, carried = _load()
    in_ratio, sh_ratio, _, _ = _ratios(base, sf1, name, carried)
    assert 5 <= in_ratio <= 15, (name, in_ratio)
    # shuffle growth within 1.5× of input growth either way
    assert sh_ratio <= in_ratio * 1.5, (
        f"{name}: shuffle grew {sh_ratio:.1f}× on {in_ratio:.1f}× input "
        "— a linear-class operator regressed")


@pytest.mark.parametrize("name", sorted(BLOCKED))
def test_blocked_joins_stay_subquadratic(name):
    base, sf1, carried = _load()
    cap = BLOCKED[name]
    a, b = base.get(name), sf1.get(name)
    if a is None or b is None:
        if carried:
            pytest.skip(f"{name} not in the carried-forward sf1 sections")
        raise AssertionError(f"{name} missing from a fresh artifact")
    if "candidate_pairs" not in a or "candidate_pairs" not in b:
        # pre-r14 artifact (no candidate evidence yet): fall back to the
        # legacy shuffle-ratio gate, which is plan-sensitive — a fresh
        # bench run replaces it with the deterministic form
        if carried:
            in_ratio, sh_ratio, _, _ = _ratios(base, sf1, name, carried)
            assert sh_ratio <= in_ratio * 5.0, (name, sh_ratio, in_ratio)
            return
        raise AssertionError(
            f"{name}: fresh artifact lacks candidate_pairs — bench.py's "
            "CANDIDATE_EVIDENCE emission was skipped or failed "
            f"({a.get('candidate_error') or b.get('candidate_error')})")
    pair_ratio = b["candidate_pairs"] / max(a["candidate_pairs"], 1)
    row_ratio = b["blocked_rows"] / max(a["blocked_rows"], 1)
    out_ratio = (b["output_rows"] / max(a["output_rows"], 1)
                 if "output_rows" in a and "output_rows" in b else 0.0)
    bound = cap * max(row_ratio, out_ratio)
    assert pair_ratio <= bound, (
        f"{name}: candidate pairs grew {pair_ratio:.1f}× while blocked "
        f"rows grew {row_ratio:.1f}× and verified output grew "
        f"{out_ratio:.1f}× (cap {cap}×) — the blocking is emitting "
        "candidates unmatched by input or verified-duplicate growth")


def test_candidate_evidence_list_matches_blocked_class():
    """bench.CANDIDATE_EVIDENCE must be exactly the BLOCKED class: an
    entry gated here without bench emitting its candidate metrics would
    hard-fail on every fresh artifact; an emitted-but-ungated entry is
    dead evidence."""
    import bench

    assert set(bench.CANDIDATE_EVIDENCE) == set(BLOCKED), (
        sorted(set(bench.CANDIDATE_EVIDENCE) ^ set(BLOCKED)))


@pytest.mark.parametrize("name", sorted(CONSTANT))
def test_result_bounded_exchanges_stay_flat(name):
    base, sf1, carried = _load()
    _, sh_ratio, a, b = _ratios(base, sf1, name, carried)
    assert sh_ratio <= 1.5 and b["shuffle_write_records"] <= 10_000, (
        f"{name}: exchange records {a['shuffle_write_records']} → "
        f"{b['shuffle_write_records']} — the corpus is shuffling")


@pytest.mark.parametrize("name", sorted(PLAN_TRANSITION))
def test_plan_transition_joins_bounded_by_input(name):
    base, sf1, carried = _load()
    _, _, _, b = _ratios(base, sf1, name, carried)
    # Post-transition the fact side crosses the exchange ~once; allow
    # 2× for multi-stage shuffles (join + agg), reject anything near
    # input². The sf0.1 side is intentionally unconstrained — broadcast
    # plans ship only result rows there.
    assert b["shuffle_write_records"] <= 2 * b["input_records"], (
        f"{name}: sf1 shuffle {b['shuffle_write_records']} exceeds 2× "
        f"input {b['input_records']} — more than a plan transition")


def test_anchor_subset_is_the_r05_headline_set():
    """bench.ANCHOR_SUBSET must stay exactly BENCH_r05's headline query
    set (the cross-round wall anchor) and remain a subset of the current
    headline set, so `anchor_subset_sec` keeps meaning the same
    computation every round."""
    import bench

    assert set(bench.ANCHOR_SUBSET) <= set(bench.BENCH_QUERIES)
    r05 = os.path.join(ROOT, "BENCH_r05.json")
    if not os.path.exists(r05):
        pytest.skip("no BENCH_r05.json")
    parsed = json.load(open(r05)).get("parsed") or {}
    assert set(bench.ANCHOR_SUBSET) == set(parsed.get("queries") or [])


def test_carry_sf1_evidence_on_partial_run():
    """r8 review find: a query-3 crash used to leave a 2-entry sf1
    section in place, clobbering the prior complete evidence and
    turning this gate red — partial runs must carry the previous
    sections forward, marked, with the partial attempt stashed."""
    import bench

    tail = ["q1", "q2", "q3"]
    prev = {"sf1_tail_sec": {"q1": 1.0, "q2": 2.0, "q3": 3.0},
            "sf1_plan_metrics": {q: {"input_records": 1} for q in tail}}
    # partial current run (crashed after q1)
    payload = {"sf1_tail_sec": {"q1": 0.9, "error": "boom"},
               "sf1_plan_metrics": {"q1": {"input_records": 2}}}
    out = bench._carry_sf1_evidence(payload, prev, tail)
    assert out["sf1_carried_from_previous_run"] is True
    assert out["sf1_plan_metrics"] == prev["sf1_plan_metrics"]
    assert out["sf1_partial_attempt"]["sf1_tail_sec"]["error"] == "boom"
    # prev predates sf1_tail_runs_sec: the carry must OMIT the run
    # lists (r13 advice: an empty-but-present list contradicts the
    # carried mins) and say why
    assert "sf1_tail_runs_sec" not in out
    assert "predating" in out["sf1_tail_runs_unavailable"]
    # prev WITH run lists: they carry verbatim beside the mins
    prev_runs = dict(prev, sf1_tail_runs_sec={q: [1.0, 1.1] for q in tail})
    out_r = bench._carry_sf1_evidence(
        {"sf1_tail_sec": {"q1": 0.9, "error": "boom"},
         "sf1_plan_metrics": {"q1": {"input_records": 2}}}, prev_runs, tail)
    assert out_r["sf1_tail_runs_sec"] == prev_runs["sf1_tail_runs_sec"]
    assert "sf1_tail_runs_unavailable" not in out_r
    # complete current run passes through untouched
    complete = {"sf1_tail_sec": {q: 1.0 for q in tail},
                "sf1_plan_metrics": {q: {"input_records": 2} for q in tail}}
    out2 = bench._carry_sf1_evidence(dict(complete), prev, tail)
    assert "sf1_carried_from_previous_run" not in out2
    assert out2["sf1_plan_metrics"] == complete["sf1_plan_metrics"]
    # partial with NO previous evidence: left as-is (the gate then
    # fails loudly, by design)
    out3 = bench._carry_sf1_evidence(
        {"sf1_tail_sec": {}, "sf1_plan_metrics": {"q1": {}}}, {}, tail)
    assert "sf1_carried_from_previous_run" not in out3
