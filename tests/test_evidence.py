"""coolplaydruid_spark.evidence — the deterministic candidate-volume
capture behind the BLOCKED scale gate (r13 verdict #1). Counting
semantics are load-bearing: the gate's numerators/denominators come
from candidate_stats, so C(n,2) / cross-product math, empty-key global
blocks, sink nesting, and the operators' record points are each pinned
here against hand-computed values."""

import pytest

from coolplaydruid_spark import evidence
from coolplaydruid_spark.operators import dedup


def _df(spark, rows, cols):
    return spark.createDataFrame(rows, cols)


def test_self_join_counts_c_n_2_per_bucket(spark):
    # buckets: k1 → 3 rows (3 pairs), k2 → 2 rows (1 pair), k3 → 1 (0)
    df = _df(spark, [("k1", 1), ("k1", 2), ("k1", 3),
                     ("k2", 4), ("k2", 5), ("k3", 6)], ["k", "id"])
    with evidence.capture() as sink:
        evidence.record_blocking("t", df, ["k"])
    st = evidence.candidate_stats(sink)
    assert st["candidate_pairs"] == 4
    assert st["blocked_rows"] == 6
    assert st["blocks"] == [
        {"label": "t", "candidate_pairs": 4, "blocked_rows": 6}]


def test_cross_join_counts_nl_times_nr_per_bucket(spark):
    left = _df(spark, [("a", 1), ("a", 2), ("b", 3)], ["k", "id"])
    right = _df(spark, [("a", 10), ("a", 11), ("a", 12), ("c", 13)],
                ["k", "id"])
    with evidence.capture() as sink:
        evidence.record_blocking("x", left, ["k"], right=right)
    st = evidence.candidate_stats(sink)
    # only bucket 'a' co-occurs: 2 × 3 = 6; rows = 3 left + 4 right
    assert st["candidate_pairs"] == 6
    assert st["blocked_rows"] == 7


def test_weight_counts_the_items_a_row_stands_for(spark):
    # two representative rows standing for 3 + 1 items in one bucket
    # count as the 4 items per-item blocking would see: C(4, 2) = 6
    df = _df(spark, [("a", 1, 3), ("a", 2, 1), ("b", 3, 1)],
             ["k", "id", "w"])
    with evidence.capture() as sink:
        evidence.record_blocking("w", df, ["k"], weight="w")
    st = evidence.candidate_stats(sink)
    assert st["candidate_pairs"] == 6 and st["blocked_rows"] == 5


def test_empty_keys_is_one_global_block(spark):
    df = _df(spark, [(i,) for i in range(5)], ["id"])
    with evidence.capture() as sink:
        evidence.record_blocking("g", df, [])
        evidence.record_blocking("gx", df, [], right=df.limit(2))
    st = evidence.candidate_stats(sink)
    # C(5,2)=10 self + 5×2=10 cross
    assert [b["candidate_pairs"] for b in st["blocks"]] == [10, 10]
    assert st["candidate_pairs"] == 20


def test_sink_inactive_by_default_and_nested_captures_isolate(spark):
    df = _df(spark, [("k", 1), ("k", 2)], ["k", "id"])
    evidence.record_blocking("noop", df, ["k"])  # no active capture
    with evidence.capture() as outer:
        evidence.record_blocking("outer", df, ["k"])
        with evidence.capture() as inner:
            evidence.record_blocking("inner", df, ["k"])
        evidence.record_blocking("outer2", df, ["k"])
    assert [s["label"] for s in inner] == ["inner"]
    assert [s["label"] for s in outer] == ["outer", "outer2"]
    # sink restored after exit
    evidence.record_blocking("noop2", df, ["k"])
    assert len(outer) == 2


def test_recording_is_eager_snapshot_of_mutable_state(spark, tmp_path):
    """The streaming accept loop records blockings against store state
    that a later batch OVERWRITES — the counts must be taken at record
    time, not deferred (r14 find: a lazy sink held DataFrames whose
    underlying store files were gone by aggregation time)."""
    p = str(tmp_path / "mut.parquet")
    _df(spark, [("k", i) for i in range(4)], ["k", "id"]) \
        .write.mode("overwrite").parquet(p)
    with evidence.capture() as sink:
        evidence.record_blocking("snap", spark.read.parquet(p), ["k"])
        # mutate the store AFTER recording: the recorded count must
        # reflect the 4-row snapshot, not fail or see the new state
        _df(spark, [("k", 0)], ["k", "id"]) \
            .write.mode("overwrite").parquet(p)
    st = evidence.candidate_stats(sink)
    assert st["blocked_rows"] == 4 and st["candidate_pairs"] == 6


def test_minhash_records_post_cap_banded_table(spark):
    docs = _df(spark, [(i, f"alpha beta gamma delta {i % 3}")
                       for i in range(12)], ["doc_id", "text"])
    with evidence.capture() as sink:
        dedup.minhash_lsh_dedup(docs, threshold=0.5)
    assert [s["label"] for s in sink] == ["minhash_lsh_bands"]
    uncapped = evidence.candidate_stats(sink)["candidate_pairs"]
    with evidence.capture() as sink2:
        dedup.minhash_lsh_dedup(docs, threshold=0.5, max_band_bucket=2)
    capped = evidence.candidate_stats(sink2)["candidate_pairs"]
    # the near-identical texts land in hot buckets; the cap must shrink
    # the recorded candidate volume (it records POST-cap tables)
    assert capped < uncapped, (capped, uncapped)


def test_incremental_minhash_records_cross_blocking(spark):
    docs = _df(spark, [(i, f"one two three four five {i % 2}")
                       for i in range(8)], ["doc_id", "text"])
    corpus = docs.where("doc_id < 6")
    batch = docs.where("doc_id >= 6")
    with evidence.capture() as sink:
        dedup.minhash_lsh_dedup_incremental(batch, corpus)
    (rec,), = (sink,)
    assert rec["label"] == "minhash_lsh_bands_incremental"
    st = evidence.candidate_stats(sink)
    assert st["candidate_pairs"] > 0
    # cross rows = corpus banded + batch banded (4 bands × docs/side),
    # never pairs-scale
    assert st["blocked_rows"] == 6 * 4 + 2 * 4


def test_banded_hamming_cap_is_conservative_subset(spark):
    """max_band_bucket on the banded-Hamming family (r14): capped pairs
    must be a SUBSET of the uncapped result (the cap only removes
    candidate work, never invents pairs) and the recorded candidate
    volume must shrink. Six identical texts make every one of their
    simhash bands a 6-row hot bucket; cap=3 drops them all, so the
    identical group emits no pairs (conservative keep — exact dups are
    the upstream digest-dedup stage's job) while the near-dup pairs
    that also collide in cool buckets survive."""
    from coolplaydruid_spark.operators.dedup import simhash_dedup

    rows = [(i, "the exact same boilerplate text") for i in range(6)]
    rows += [(10, "a rather different document body"),
             (11, "a rather different document bodY")]
    docs = _df(spark, rows, ["doc_id", "text"])
    with evidence.capture() as s_unc:
        unc = {(r["doc_a"], r["doc_b"])
               for r in simhash_dedup(docs, max_hamming=3).collect()}
    with evidence.capture() as s_cap:
        cap = {(r["doc_a"], r["doc_b"])
               for r in simhash_dedup(docs, max_hamming=3,
                                      max_band_bucket=3).collect()}
    assert cap <= unc
    assert (10, 11) in cap  # cool-bucket near-dups survive the cap
    assert all(a >= 6 or b >= 6 for a, b in cap)  # hot group emits none
    assert (evidence.candidate_stats(s_cap)["candidate_pairs"]
            < evidence.candidate_stats(s_unc)["candidate_pairs"])


def test_candidate_stats_empty_sink():
    st = evidence.candidate_stats([])
    assert st == {"candidate_pairs": 0, "blocked_rows": 0, "blocks": []}


@pytest.mark.parametrize("threshold", [0.3])
def test_capture_does_not_change_results(spark, threshold):
    docs = _df(spark, [(i, f"shared text body variant {i % 4} tail")
                       for i in range(10)], ["doc_id", "text"])
    plain = sorted(map(tuple, dedup.minhash_lsh_dedup(
        docs, threshold=threshold).collect()))
    with evidence.capture():
        captured = sorted(map(tuple, dedup.minhash_lsh_dedup(
            docs, threshold=threshold).collect()))
    assert plain == captured
