"""Stage 3 — the search join (reference J1-J5, W1, T2/T3).

The reference probes a Lucene index once per key value with an OR-of-tokens
query, groups hits per candidate table, and aggregates ``JoinResult`` stats
(``index/IndexManager.searchIndex:290-458``,
``searchjoin/SearchJoin.findJoinsForColumnFast:547-855``,
``model/JoinResult.java:30-70``). Spark-native, that whole per-value loop is
ONE distributed plan:

    query tokens ⋈ postings (on token) → groupBy(query, candidate) → score
    → window top-k

Scoring uses integer matched-token counts plus a full-token-set containment
check — the reference's "exact-equality post-filter after stopword strip"
(``IndexManager.java:413-426``) becomes `matched == n_query_tokens`.

Scale design:
* the query side (distinct mention labels) is orders of magnitude smaller
  than postings, so Spark's planner broadcasts it from its size estimate;
  the probe is then a broadcast hash join with NO shuffle of the posting
  table.
* hot tokens were already df-capped at index build; residual skew is handled
  by AQE skew-join when the query side outgrows broadcast size.
* top-k is `row_number` per query label — the reference's adaptive-deepening
  loop (``IndexManager.java:390-406``) is unnecessary because we never
  truncate before ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mannheimsearchjoinsengine_spark.functions.normalize import norm_tokens


def probe(mentions: DataFrame, postings: DataFrame, top_k: int = 5) -> DataFrame:
    """J1/J3 — for each distinct query label, top-k candidate labels by
    matched-token count. Returns
    (query_norm, cand_norm, matched_tokens, n_query_tokens, is_exact, rank).

    The query ⋈ postings join carries no hint: Spark broadcasts the query
    side when its size estimate fits the session threshold, and otherwise
    shuffles both sides, where AQE's skew join splits a hot token.
    """
    # n_query_tokens rides along the explode (size of the token array) —
    # no separate count-agg + re-join (two exchanges saved vs the naive
    # shape; duplicates count identically on both paths).
    q = (
        mentions.select("subj_norm").distinct()
        .select(F.col("subj_norm").alias("query_norm"), norm_tokens(F.col("subj_norm")).alias("toks"))
        .select(
            "query_norm",
            F.size("toks").alias("n_query_tokens"),
            F.explode("toks").alias("token"),
        )
    )
    cand = postings.select("token", F.col("subj_norm").alias("cand_norm")).distinct()
    hits = (
        q.join(cand, "token")
        .groupBy("query_norm", "n_query_tokens", "cand_norm")
        .agg(F.count("*").alias("matched_tokens"))
        .withColumn(
            "is_exact",
            (F.col("matched_tokens") == F.col("n_query_tokens"))
            & (F.col("query_norm") == F.col("cand_norm")),
        )
    )
    w = Window.partitionBy("query_norm").orderBy(
        F.desc("matched_tokens"), F.asc("cand_norm")
    )
    return hits.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= top_k
    )


def join_results(mentions: DataFrame, facts: DataFrame, top_n: int = 100) -> DataFrame:
    """J5 — JoinResult aggregation per (query label, candidate conversation):
    matched-key count, summed multiplicities, joinSize = Σ multL·multR
    (``SearchJoin.java:762-852``; ``model/JoinResult.java:30-70``), ranked
    and top-N'd (T2, ``SearchJoin.java:230-241``, conf maxMatchedTables=100).

    Left side = mention labels with their multiplicity; right side = fact
    labels per conversation. Exact-label equi-join on subj_norm (the
    reference's post-normalization equality; fuzzy variant in fuzzy.py).
    The join carries no hint: Spark broadcasts the left aggregate (distinct
    labels) while its size estimate fits the session threshold, and
    otherwise shuffles both sides under AQE's skew join.
    """
    left = mentions.groupBy("subj_norm").agg(F.count("*").alias("mult_l"))
    right = facts.groupBy("subj_norm", "conv_id").agg(F.count("*").alias("mult_r"))
    jr = (
        left.join(right, "subj_norm")
        .groupBy("conv_id")
        .agg(
            F.count("*").alias("matched_keys"),
            F.sum("mult_l").alias("sum_mult_l"),
            F.sum("mult_r").alias("sum_mult_r"),
            F.sum(F.col("mult_l") * F.col("mult_r")).alias("join_size"),
        )
    )
    # top-N via orderBy().limit() → TakeOrderedAndProject: every partition
    # computes a partial top-N, the driver merges N·P rows — no global
    # un-partitioned window (which funnels EVERY candidate through one task;
    # that single-reducer sort was the scale tail of this operator). The
    # rank column is then derived on the ≤N-row result, where a global
    # window is O(N) and free.
    order = [F.desc("matched_keys"), F.desc("join_size"), F.asc("conv_id")]
    top = jr.orderBy(*order).limit(top_n)
    w = Window.orderBy(*order)
    return top.withColumn("total_rank", F.row_number().over(w))


def score_join_results(
    mentions: DataFrame, facts: DataFrame, postings: DataFrame
) -> DataFrame:
    """All four ScoreEvaluator ranking modes over JoinResults
    (``scoring/ScoreEvaluator.assessJoinResult``,
    ``scoring/ScoreEvaluator.java:48-105``; mode enum from
    ``searchJoins.conf`` ``ranking.type``).

    The Lucene-score analog per matched key is its IDF mass:
    Σ_tokens ln(n_labels / df(token)) over the key's index tokens — the
    same quantity Lucene's TF-IDF reduces to for our exact one-term-per-doc
    postings. Modes:

    * ``rank_query_cov``    — count·avgScore / leftDistinct (queryTableCoverage)
    * ``rank_entity_cov``   — count·avgScore / rightCardinality (entityTableCoverage)
    * ``rank_query_entity_sum`` — the reference computes the sum THEN
      overwrites it with the entity-coverage term (dead store,
      ``ScoreEvaluator.java:62-66``) — replicated, not fixed.
    * ``rank_normalized``   — myScore/bestScore with the <30%-matched
      penalty (joinPairs := leftCardinality when count < 0.3·leftCard,
      ``ScoreEvaluator.java:89-99``); bestScore = maxScore/maxJoins is the
      reference's cross-result normalizer (W2, ``SearchJoin.java:204-223``)
      — a scalar agg broadcast back, not a global window over rows.
    """
    # both scalar denominators (#labels, #distinct query keys) are 1-row
    # aggregates broadcast back into the plan — no driver-side .count()
    # actions (each was a blocking extra job re-running its subtree); same
    # pattern as the max_score/max_joins scalars below.
    n_labels = postings.agg(F.countDistinct("subj_norm").alias("n_labels"))
    idf = (
        postings.groupBy("token")
        .agg(F.countDistinct("subj_norm").alias("df_labels"))
        .crossJoin(F.broadcast(n_labels))
        .select(
            "token",
            F.log(F.col("n_labels").cast("double") / F.col("df_labels")).alias("idf"),
        )
    )
    key_scores = (
        mentions.select("subj_norm")
        .distinct()
        .select("subj_norm", F.explode(norm_tokens(F.col("subj_norm"))).alias("token"))
        .join(idf, "token")
        .groupBy("subj_norm")
        .agg(F.sum("idf").alias("key_score"))
    )
    left_distinct = mentions.agg(F.countDistinct("subj_norm").alias("left_distinct"))
    right = facts.groupBy("conv_id").agg(F.count("*").alias("right_card"))
    matched = (
        F.broadcast(key_scores)
        .join(facts.select("subj_norm", "conv_id"), "subj_norm")
        .groupBy("conv_id")
        .agg(
            F.countDistinct("subj_norm").alias("matched_keys"),
            F.sum("key_score").alias("total_score"),
        )
        .join(right, "conv_id")
    )
    scalars = matched.agg(
        F.max("total_score").alias("max_score"), F.max("matched_keys").alias("max_joins")
    )
    jr = matched.crossJoin(F.broadcast(scalars)).crossJoin(F.broadcast(left_distinct))
    avg_score = F.col("total_score") / F.col("matched_keys")
    join_pairs = F.when(
        F.col("matched_keys") < 0.3 * F.col("left_distinct"), F.col("left_distinct")
    ).otherwise(F.col("matched_keys"))
    best_score = F.col("max_score") / F.col("max_joins")
    return jr.select(
        "conv_id",
        "matched_keys",
        "right_card",
        F.round("total_score", 4).alias("total_score"),
        F.round(
            F.col("matched_keys") * avg_score / F.col("left_distinct"), 4
        ).alias("rank_query_cov"),
        F.round(F.col("matched_keys") * avg_score / F.col("right_card"), 4).alias(
            "rank_entity_cov"
        ),
        # dead-store replica: final value == entity coverage
        F.round(F.col("matched_keys") * avg_score / F.col("right_card"), 4).alias(
            "rank_query_entity_sum"
        ),
        F.round((F.col("total_score") / join_pairs) / best_score, 4).alias(
            "rank_normalized"
        ),
    )


def evaluate_vs_gold(ranked: DataFrame, gold: DataFrame, key: str = "conv_id") -> DataFrame:
    """Gold-standard evaluation (``statistics/SearchTableResultAnalyzer.
    analyzeResult:236+``, ``getPrecision:139-160``; gold files built by
    ``utils/GoldStandardBuilder.java:70-130``): precision/recall of the
    retrieved candidate set vs the gold set. One-row metrics DataFrame via
    a full outer join — no collect."""
    r = ranked.select(key).distinct().withColumn("in_r", F.lit(1))
    g = gold.select(key).distinct().withColumn("in_g", F.lit(1))
    both = r.join(g, key, "full_outer")
    return both.agg(
        F.sum("in_r").alias("n_retrieved"),
        F.sum("in_g").alias("n_gold"),
        F.sum(F.col("in_r") * F.col("in_g")).alias("n_correct"),
    ).select(
        "n_retrieved",
        "n_gold",
        "n_correct",
        F.round(F.col("n_correct") / F.col("n_retrieved"), 4).alias("precision"),
        F.round(F.col("n_correct") / F.col("n_gold"), 4).alias("recall"),
    )


def best_hit_dedup(hits: DataFrame) -> DataFrame:
    """W1 — best hit per (query label, candidate), ties → shorter candidate
    then lexicographic (``SearchJoin.java:951-1031``: ties prefer the shorter
    value)."""
    w = Window.partitionBy("query_norm").orderBy(
        F.desc("matched_tokens"), F.length("cand_norm").asc(), F.asc("cand_norm")
    )
    return hits.withColumn("best_rank", F.row_number().over(w)).filter(
        F.col("best_rank") == 1
    )
