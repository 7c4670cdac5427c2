"""Corpus-level statistics and cleaning operators for training-data
pipelines: n-gram frequency tables, PII redaction, dataset-mixture
composition reports.

Design rules (same as operators/text.py):
 - built-in Spark SQL expressions only — whole-stage codegen, no Python;
 - deterministic formulas mirrored 1:1 by the DuckDB oracles in
   contract.py;
 - one scan, one shuffle where an aggregation is inherent, none where it
   isn't.

100 TB shapes:
 - ngram_top_k: map-side partial counts collapse the per-partition gram
   stream before the single hash shuffle on the gram; the final top-k is
   a TakeOrdered over the (much smaller) distinct-gram space.
 - pii_redact: map-only projection — the cost is the scan.
 - mixture_report: ONE pass — a single agg shuffle collapses the corpus
   to the group rows; grand totals are a constant-partition window over
   that tiny set, so the corpus is never scanned twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from coolplaydruid_spark.operators.text import tokens
from coolplaydruid_spark.operators.util import spread

# Shared with the DuckDB oracle (RE2-compatible: explicit classes, no
# lookaround, no \d shorthand — identical semantics in Java regex).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONGNUM_RE = r"[0-9]{7,}"
IPV4_RE = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def ngram_top_k(
    df: DataFrame, n: int = 2, k: int = 50, text_col: str = "text"
) -> DataFrame:
    """Top-k word n-grams by corpus frequency (count DESC, gram ASC —
    a total order, so the cut is deterministic).

    Unlike dedup.shingles this keeps EVERY occurrence (frequency
    statistics, not per-doc membership) and documents shorter than n
    tokens contribute nothing. This is the corpus-statistics primitive
    behind BPE-merge candidate mining and boilerplate detection."""
    # Materialize the token array as a named column FIRST: inside the
    # gram-building transform(), a bare tokens(text) expression would be
    # re-evaluated (regex split and all) for every element of the
    # sequence — O(tokens^2) per document. A column reference binds the
    # array once per row (same rule as dedup.shingles).
    from coolplaydruid_spark.operators.text import ngrams

    tok_df = spread(df).select(tokens(F.col(text_col)).alias("__toks"))
    return (
        tok_df.select(F.explode(ngrams(F.col("__toks"), n)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("ngram"))
        .limit(k)
    )


def pii_redact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Scrub emails, IPv4 addresses, and long (>= 7 digit) numbers from
    the text, in that order, counting each as it is removed. Later
    patterns run on the already-redacted text so an email's local part
    or an IP's octets are never double-counted as numbers.

    Returns (id, redacted, n_emails, n_ips, n_long_numbers). Map-only:
    at 100 TB the cost is the scan + regex CPU; no shuffle."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    n_emails = F.size(F.regexp_extract_all(txt, F.lit(EMAIL_RE), 0))
    step1 = F.regexp_replace(txt, EMAIL_RE, "<EMAIL>")
    n_ips = F.size(F.regexp_extract_all(step1, F.lit(IPV4_RE), 0))
    step2 = F.regexp_replace(step1, IPV4_RE, "<IP>")
    n_nums = F.size(F.regexp_extract_all(step2, F.lit(LONGNUM_RE), 0))
    step3 = F.regexp_replace(step2, LONGNUM_RE, "<NUM>")
    return df.select(
        F.col(id_col),
        step3.alias("redacted"),
        n_emails.cast("long").alias("n_emails"),
        n_ips.cast("long").alias("n_ips"),
        n_nums.cast("long").alias("n_long_numbers"),
    )


def mixture_report(
    df: DataFrame,
    group_cols: tuple[str, ...] = ("lang", "source"),
    text_col: str = "text",
) -> DataFrame:
    """Dataset-composition report: per group (e.g. language × source),
    document count, total whitespace tokens, and each group's share of
    corpus documents/tokens — the report every mixture-weighted training
    run starts from.

    Single-pass: ONE scan + one aggregation shuffle collapse the corpus
    to the per-group rows; the grand totals are then a window over that
    already-tiny group set (cardinality = langs × sources, bounded by
    construction), partitioned by a constant so the one-partition step
    only ever sees group rows, never documents."""
    from pyspark.sql import Window

    counted = df.select(
        *[F.col(c) for c in group_cols],
        F.size(tokens(F.col(text_col))).cast("long").alias("__tok"),
    )
    grouped = counted.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__tok").cast("long").alias("total_tokens"),
    )
    # pmod(n_docs, n_docs) is 0 on every row (one partition — the
    # bounded group set) but not constant-foldable, so Spark keeps a
    # partition spec and doesn't emit the "No Partition Defined" warning
    # meant for accidental global windows over raw data.
    w = Window.partitionBy(F.pmod(F.col("n_docs"), F.col("n_docs")))
    return grouped.select(
        *[F.col(c) for c in group_cols],
        F.col("n_docs"),
        F.col("total_tokens"),
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias("doc_share"),
        F.round(
            F.col("total_tokens") / F.sum("total_tokens").over(w), 6
        ).alias("token_share"),
    )


def tfidf_top_terms(
    df: DataFrame,
    group_col: str = "source",
    k: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Per-group distinctive terms by tf-idf, treating each GROUP
    (source / domain / language) as one aggregate document — the
    domain-signature primitive behind "what is this crawl slice about"
    reports and per-source boilerplate discovery.

    tf(g, t) = occurrences of t in group g; idf(t) = ln(G / df(t)) with
    G the group count and df(t) the number of groups containing t;
    score = tf·idf, rounded to 6 decimals BEFORE ranking so the per-group
    top-k cut is deterministic (ties then break on the term). Terms in
    every group score exactly 0 (ln 1) — maximally non-distinctive.

    100 TB shape: the corpus crosses the wire ONCE — the token stream
    collapses map-side into (group, term) partial counts before the one
    data-scaled shuffle. Everything after runs at vocabulary×groups
    scale: df(t) re-aggregates the tf table, the group count is a
    one-row broadcast, and the top-k window partitions that small table
    by group."""
    toks = df.select(
        F.col(group_col).alias("__grp"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    tf = toks.groupBy("__grp", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    # tf is (group, term)-distinct, so df(t) is a row count per term
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("__df")
    )
    n_groups = tf.agg(
        F.countDistinct("__grp").cast("double").alias("__G")
    )
    score = F.round(
        F.col("tf").cast("double") * F.log(F.col("__G") / F.col("__df")), 6
    )
    from pyspark.sql import Window

    w = Window.partitionBy("__grp").orderBy(
        score.desc(), F.col("term").asc()
    )
    return (
        tf.join(dfreq, on="term")
        .crossJoin(F.broadcast(n_groups))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= int(k))
        .select(
            F.col("__grp").alias(group_col),
            F.col("term"),
            F.col("tf"),
            score.alias("tfidf"),
        )
    )


def pmi_top_pairs(
    df: DataFrame, k: int = 50, min_count: int = 5, text_col: str = "text"
) -> DataFrame:
    """Top-k adjacent word pairs by pointwise mutual information — the
    classic collocation/phrase-mining statistic (Church & Hanks 1990)
    behind tokenizer-merge candidates and boilerplate-phrase detection:

        pmi(w1 w2) = log2( (c(pair)/P) / ((c(w1)/T) · (c(w2)/T)) )

    with P = total adjacent pairs and T = total tokens in the corpus.
    Pairs below ``min_count`` are dropped (PMI of rare pairs is noise —
    and the floor also bounds the candidate set). Returns
    (pair, n_pair, pmi) by (pmi DESC, pair ASC), pmi rounded to 6
    decimals before the cut so the ordering is engine-exact.

    100 TB shape: pair and token counts are the two token-scaled
    aggregations, both with map-side combine (executors emit their
    distinct grams once); everything after operates on the count
    tables. The unigram joins are plain token-keyed shuffle joins — a
    web-scale distinct-token table is NOT broadcastable (only the
    single-row P/T totals are); only the k heads cross the wire
    (TakeOrderedAndProject)."""
    from coolplaydruid_spark.operators.text import ngrams

    from coolplaydruid_spark.operators.dedup import _pin_cache

    tok_df = spread(df).select(tokens(F.col(text_col)).alias("__toks"))
    t = F.col("__toks")
    pairs = tok_df.select(F.explode(ngrams(t, 2)).alias("pair"))
    # r14 (guide §2.4/§5): pc feeds TWO consumers (the P total and the
    # min_count-filtered head) and uc THREE (the T total and both
    # unigram join sides) — Catalyst planned each consumer's count
    # subtree independently, so the corpus was re-tokenized and
    # re-aggregated five times per action (plan audit: 28 HashAggregate
    # nodes, zero reuse). Pinning both count tables (vocab-scaled, never
    # corpus-scaled) cuts that to the two unavoidable token passes.
    pc = _pin_cache(
        pairs.groupBy("pair").agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
    )
    ptot = pc.agg(F.sum("n_pair").cast("double").alias("__P"))
    uc = _pin_cache(
        tok_df.select(F.explode(t).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    utot = uc.agg(F.sum("__c").cast("double").alias("__T"))

    w1 = F.substring_index(F.col("pair"), " ", 1)
    w2 = F.substring_index(F.col("pair"), " ", -1)
    c1 = uc.select(F.col("tok").alias("__w1"), F.col("__c").alias("__c1"))
    c2 = uc.select(F.col("tok").alias("__w2"), F.col("__c").alias("__c2"))
    pmi = F.log2(
        (F.col("n_pair").cast("double") / F.col("__P"))
        / (
            (F.col("__c1").cast("double") / F.col("__T"))
            * (F.col("__c2").cast("double") / F.col("__T"))
        )
    )
    return (
        pc.where(F.col("n_pair") >= int(min_count))
        .join(c1, w1 == F.col("__w1"))
        .join(c2, w2 == F.col("__w2"))
        .crossJoin(F.broadcast(ptot))
        .crossJoin(F.broadcast(utot))
        .select("pair", "n_pair", F.round(pmi, 6).alias("pmi"))
        .orderBy(F.col("pmi").desc(), F.col("pair").asc())
        .limit(int(k))
    )


def source_overlap_matrix(
    df: DataFrame,
    group_col: str = "source",
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-subcorpus duplication matrix — which sources/dumps/shards
    overlap, the statistic that PRIORITIZES dedup work between crawl
    snapshots (a pair with high shingle Jaccard dedups first; a
    near-zero pair can skip the cross-join entirely). For every
    unordered pair of groups: the count of shared distinct k-word
    shingles and the shingle-set Jaccard:

        jaccard(a, b) = |S_a ∩ S_b| / (|S_a| + |S_b| − |S_a ∩ S_b|)

    Returns (group_a, group_b, n_shared, jaccard) for pairs with ≥ 1
    shared shingle, group_a < group_b. Short documents contribute
    their whole token sequence as one shingle (dedup.shingles' rule).

    100 TB shape: the corpus reduces to DISTINCT (group, shingle)
    rows — one shingle-keyed aggregation with map-side combine,
    vocabulary × groups, not corpus-scaled. The shingle self-join is
    bounded per shingle by the GROUP count (≤ #groups rows per key
    after the distinct), so the pair stream is ≤ vocab · groups²/2 —
    no stop-shingle cap needed, unlike document-level candidate
    joins."""
    from coolplaydruid_spark.operators.dedup import (
        _blocked_pairs, _pin_cache, shingles)

    # group_col rides through the shingle projection (extra_cols), so
    # no doc-keyed re-join of the shingle stream is needed — the one
    # shuffle is the (group, shingle) distinct (r8 verdict #2).
    sh = shingles(df, k=k, text_col=text_col, id_col=id_col,
                  extra_cols=[group_col])
    # r14 (guide §2.4/§5): grp_sh feeds both self-join sides and the
    # sizes aggregation, and sizes feeds na AND nb — without pins each
    # consumer re-planned the full shingle explode + distinct, so the
    # corpus-wide reduction ran FOUR times per action (plan audit: the
    # scan→Generate→distinct subtree planned at 4 roots, zero reuse).
    # grp_sh is the documented vocab×groups reduction (never
    # corpus-scaled); sizes is one row per group.
    blocks = _blocked_pairs(
        "overlap_shingle_groups",
        sh.select(F.col(group_col).alias("__grp"), "shingle").distinct(),
        ["shingle"], "__grp", pin=True)
    sizes = _pin_cache(
        blocks.left.groupBy("__grp").agg(F.count(F.lit(1)).alias("__n")))
    shared = (
        blocks.join()
        .groupBy(F.col("l.__grp").alias("group_a"),
                 F.col("r.__grp").alias("group_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    na = sizes.select(F.col("__grp").alias("group_a"), F.col("__n").alias("__na"))
    nb = sizes.select(F.col("__grp").alias("group_b"), F.col("__n").alias("__nb"))
    return (
        shared.join(F.broadcast(na), on="group_a")
        .join(F.broadcast(nb), on="group_b")
        .select(
            "group_a", "group_b", "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("__na") + F.col("__nb") - F.col("n_shared")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def source_overlap_incremental(
    batch_df: DataFrame,
    corpus_df: DataFrame | None = None,
    group_col: str = "source",
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus_group_shingles: DataFrame | None = None,
) -> DataFrame:
    """Batch × corpus overlap — the daily-ingest shape of the overlap
    matrix (r8 verdict #4): which groups of an INCOMING shard overlap
    which groups already in the corpus, WITHOUT re-joining corpus ×
    corpus. Returns (group_a = corpus group, group_b = batch group,
    n_shared, jaccard) for pairs sharing ≥ 1 distinct shingle, where
    jaccard is between the corpus group's and the batch group's
    distinct-shingle sets.

    100 TB shape: both sides reduce to DISTINCT (group, shingle) rows
    before they ever meet — the corpus side is vocabulary × groups, not
    corpus-scaled, and in production it is materialized once at accept
    time (pass it as ``corpus_group_shingles``: (group, shingle) rows
    as produced by a prior reduction — then ``corpus_df`` is not
    consulted and the per-batch cost is priced by the BATCH alone,
    mirroring dedup.minhash_lsh_dedup_incremental's contract). The
    shingle-keyed join is bounded per key by group counts on each side
    (≤ corpus_groups × batch_groups rows per shingle), so no stop-cap
    is needed."""
    from coolplaydruid_spark.operators.dedup import _blocked_pairs, shingles

    if corpus_group_shingles is not None:
        # r9 verdict: a non-distinct pre-materialized table silently
        # inflated n_shared and every Jaccard. The distinct here is one
        # cheap shuffle of a vocab-scaled (not corpus-scaled) table, and
        # Spark collapses it to a no-op aggregation when the input is
        # already distinct-by-construction — so the documented contract
        # is now enforced instead of trusted.
        corpus_sh = corpus_group_shingles.select(
            F.col(group_col).alias("__grp"), "shingle").distinct()
    elif corpus_df is not None:
        corpus_sh = (
            shingles(corpus_df, k=k, text_col=text_col, id_col=id_col,
                     extra_cols=[group_col])
            .select(F.col(group_col).alias("__grp"), "shingle")
            .distinct()
        )
    else:
        raise ValueError("need corpus_df or corpus_group_shingles")
    batch_sh = (
        shingles(batch_df, k=k, text_col=text_col, id_col=id_col,
                 extra_cols=[group_col])
        .select(F.col(group_col).alias("__grp"), "shingle")
        .distinct()
    )
    # r14: both sides feed the shared join AND their own size
    # aggregation — pin each (vocab×groups-scaled) so the distinct
    # reductions run once instead of twice per side (same plan audit as
    # source_overlap_matrix).
    blocks = _blocked_pairs("overlap_shingle_cross", corpus_sh, ["shingle"],
                            "__grp", right=batch_sh, pin=True)
    shared = (
        blocks.join()
        .groupBy(F.col("l.__grp").alias("group_a"),
                 F.col("r.__grp").alias("group_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    na = blocks.left.groupBy(F.col("__grp").alias("group_a")).agg(
        F.count(F.lit(1)).alias("__na"))
    nb = blocks.right.groupBy(F.col("__grp").alias("group_b")).agg(
        F.count(F.lit(1)).alias("__nb"))
    return (
        shared.join(F.broadcast(na), on="group_a")
        .join(F.broadcast(nb), on="group_b")
        .select(
            "group_a", "group_b", "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("__na") + F.col("__nb") - F.col("n_shared")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
