"""Hot-key skew robustness (r6 verdict #7): the span join already has a
skew test (test_spans.py); these cover the other two corpus-scaled
pairing paths — the exact-theta level-1 aggregation (groupBy over
(keys, value)) and topN over a heavily-skewed dimension.

The mechanism that bounds task-time spread for BOTH is map-side partial
aggregation: a 90%-one-key input is absorbed into per-partition partial
states before the exchange, so the shuffle carries |distinct groups|
(theta level 1: |distinct (group, value)| pairs) instead of |rows|, and
no single reducer inherits 90% of the data. The tests assert the
results stay exact AND the plan shape that guarantees the absorption —
a partial HashAggregate strictly below the shuffle exchange."""

from datetime import datetime, timedelta

import pytest

from coolplaydruid_spark.catalog import Catalog
from coolplaydruid_spark.engine import DruidEngine

IV = ["2024-01-01T00:00:00/2024-02-01T00:00:00"]
N_HOT = 18_000  # 90% of rows carry one dimension value
N_COLD = 2_000


@pytest.fixture(scope="module")
def skew_engine(spark):
    t0 = datetime(2024, 1, 1)
    rows = [
        (i, t0 + timedelta(seconds=i % 86_400), "hot", i % 50, float(i % 7))
        for i in range(N_HOT)
    ] + [
        (N_HOT + i, t0 + timedelta(seconds=i % 86_400),
         f"cold{i % 4}", 1_000 + (i // 4) % 20, float(i % 5))
        for i in range(N_COLD)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, "
              "user_id long, value double",
    )
    catalog = Catalog(spark)
    catalog.register("skewed", df=df, time_column="ts", as_view=False)
    return DruidEngine(spark, catalog)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_partial_agg_below_exchange(plan: str) -> None:
    """The absorption guarantee: at least one HashAggregate appears
    BELOW the first shuffle exchange in the printed tree (map side),
    i.e. raw skewed rows never cross the wire un-combined."""
    ex = plan.find("Exchange hashpartitioning")
    assert ex != -1, plan
    below = plan[ex:]
    assert "HashAggregate" in below, plan


def test_theta_level1_absorbs_hot_key(skew_engine):
    """90% of rows share event_type='hot': the exact-theta level-1
    groupBy(keys, user_id) must partial-aggregate map-side — the
    exchange then carries at most |distinct (type, user)| = 130 pairs,
    not 20k rows — and the distinct counts stay exact."""
    df = skew_engine.plan({
        "queryType": "groupBy", "dataSource": "skewed",
        "granularity": "all", "dimensions": ["event_type"],
        "intervals": IV,
        "aggregations": [
            {"type": "count", "name": "n"},
            {"type": "thetaSketch", "name": "users", "fieldName": "user_id"},
        ],
    })
    got = {r["event_type"]: (r["n"], r["users"]) for r in df.collect()}
    assert got["hot"] == (N_HOT, 50)
    for i in range(4):
        assert got[f"cold{i}"] == (N_COLD / 4, 20)
    _assert_partial_agg_below_exchange(_plan(df))


def test_topn_absorbs_hot_key(skew_engine):
    """topN over the skewed dimension: partial_sum/partial_count run
    before the exchange (5 aggregate rows shuffle, not 20k), and the
    ranking stays exact."""
    df = skew_engine.plan({
        "queryType": "topN", "dataSource": "skewed",
        "granularity": "all", "dimension": "event_type",
        "metric": "total", "threshold": 3, "intervals": IV,
        "aggregations": [
            {"type": "doubleSum", "name": "total", "fieldName": "value"},
            {"type": "count", "name": "n"},
        ],
    })
    rows = df.collect()
    assert [r["event_type"] for r in rows][0] == "hot"
    assert rows[0]["n"] == N_HOT
    # hot: sum of i%7 over 18000 rows
    assert rows[0]["total"] == pytest.approx(
        sum(float(i % 7) for i in range(N_HOT)))
    plan = _plan(df)
    _assert_partial_agg_below_exchange(plan)
    assert "partial" in plan.lower(), plan


def test_groupby_high_cardinality_with_hot_group(skew_engine):
    """groupBy (event_type, user_id) — the hot group contributes 50
    distinct (type, user) pairs to the exchange regardless of its 18k
    row share; totals per pair stay exact."""
    df = skew_engine.plan({
        "queryType": "groupBy", "dataSource": "skewed",
        "granularity": "all", "dimensions": ["event_type", "user_id"],
        "intervals": IV,
        "aggregations": [{"type": "count", "name": "n"}],
    })
    rows = df.collect()
    hot = [r for r in rows if r["event_type"] == "hot"]
    assert len(hot) == 50 and all(r["n"] == N_HOT / 50 for r in hot)
    assert len(rows) == 50 + 4 * 20
    _assert_partial_agg_below_exchange(_plan(df))


def test_minhash_band_bucket_cap_bounds_hot_bucket(spark):
    """A mass-duplicated corpus (three identical-text cohorts of ~67
    docs) makes every LSH band bucket corpus-hot — the degenerate shape
    where the banded self-join would emit O(cohort²) pairs per band.
    max_band_bucket drops those buckets before the join, hard-bounding
    the candidate set; the identical docs are exactly what the upstream
    exact-dedup stage owns."""
    from pyspark.sql import functions as F

    from coolplaydruid_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog " * 5
    docs = spark.createDataFrame(
        [(i, base + f"tail{i % 3}") for i in range(200)],
        "doc_id long, text string",
    )
    sh = dedup.shingles(docs, k=3, as_hash=True)
    sig = dedup.minhash_signatures(sh, hashed=True)
    banded = dedup.band_hashes(sig)
    hottest = (
        banded.groupBy("band", "bh").count().agg(F.max("count")).collect()[0][0]
    )
    assert hottest > 50, "fixture failed to produce a hot bucket"
    capped = dedup._blocked_pairs("minhash_lsh_bands", banded, ["band", "bh"],
                                  "doc_id", cap=50).left
    capped_max = (
        capped.groupBy("band", "bh").count().agg(F.max("count")).collect()[0][0]
    )
    assert capped_max is None or capped_max <= 50
    # End to end: the capped run emits no quadratic candidate blow-up
    # (every bucket was hot), the uncapped run pairs each cohort fully.
    uncapped_pairs = dedup.minhash_lsh_dedup(docs, threshold=0.5).count()
    assert uncapped_pairs > 3 * (50 * 49) // 2
    assert dedup.minhash_lsh_dedup(docs, threshold=0.5,
                                   max_band_bucket=50).count() == 0


def test_minhash_band_bucket_cap_no_op_on_healthy_corpus(spark):
    """On a heterogeneous corpus no bucket reaches the cap, so the
    capped result is IDENTICAL to the uncapped one — the cap is a
    pathology guard, not an approximation on healthy data."""
    from coolplaydruid_spark.operators import dedup

    rows = [
        (i, f"document {i} discusses topic {i * 7 % 13} in depth and "
            f"mentions subject {i * 3 % 11} alongside item {i % 5}")
        for i in range(60)
    ]
    # a few engineered near-dup pairs so the result set is non-empty
    rows += [(100 + i, rows[i][1] + " with a small suffix") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    plain = {(r["doc_a"], r["doc_b"], r["jaccard"])
             for r in dedup.minhash_lsh_dedup(docs, threshold=0.3).collect()}
    capped = {(r["doc_a"], r["doc_b"], r["jaccard"])
              for r in dedup.minhash_lsh_dedup(
                  docs, threshold=0.3, max_band_bucket=20).collect()}
    assert plain, "fixture produced no near-dup pairs"
    assert capped == plain


def test_incremental_minhash_cap_drops_hot_corpus_bucket(spark):
    """Incremental form: only the CORPUS side is capped (the new batch
    is ingest-bounded). A hot corpus bucket stops contributing pairs;
    healthy corpus docs still pair with the batch."""
    from coolplaydruid_spark.operators import dedup

    boiler = "identical boilerplate text repeated across the corpus " * 4
    corpus = spark.createDataFrame(
        [(i, boiler) for i in range(80)]
        + [(200, "a unique corpus document about differential testing rigs")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(500, boiler),
         (501, "a unique corpus document about differential testing rigs too")],
        "doc_id long, text string",
    )
    uncapped = dedup.minhash_lsh_dedup_incremental(
        new, corpus_df=corpus, threshold=0.3).collect()
    assert sum(1 for r in uncapped if r["doc_b"] == 500) == 80
    capped = dedup.minhash_lsh_dedup_incremental(
        new, corpus_df=corpus, threshold=0.3, max_band_bucket=40).collect()
    assert sum(1 for r in capped if r["doc_b"] == 500) == 0
    assert any(r["doc_a"] == 200 and r["doc_b"] == 501 for r in capped)


def test_band_cache_pin_is_bounded(spark):
    """r8 advice: the band-table persist behind max_band_bucket used to
    pin a cache per call with no release path — many capped dedup
    batches in one session accumulated pinned InMemoryRelations. The
    FIFO keeps at most _PIN_MAX pins; release_caches() drops them all."""
    from coolplaydruid_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"some text body {i} with shared phrasing") for i in range(20)],
        "doc_id long, text string",
    )
    dedup.release_caches()
    for _ in range(dedup._PIN_MAX + 3):
        dedup.minhash_lsh_dedup(docs, threshold=0.9,
                                max_band_bucket=5).count()
    # r9 advice: the FIFO is now keyed per SparkSession under a lock —
    # this session's FIFO is bounded, and no other session's pins leak
    # into it
    assert len(dedup._PINNED.get(id(spark), [])) <= dedup._PIN_MAX
    assert set(dedup._PINNED) == {id(spark)}
    dedup.release_caches()
    assert not dedup._PINNED
