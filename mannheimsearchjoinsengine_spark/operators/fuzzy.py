"""J4 — fuzzy key set-similarity join (the FastJoin replacement).

The reference shells out to an external FastJoin binary (fuzzy-Jaccard,
δ=0.8, τ=0.5 — ``utils/FastJoinWrapper.match:137-198``,
``searchJoins.conf:56-60``) to consolidate found keys with query keys.
Spark-native there are two pair generators:

* ``token_jaccard_join`` / ``fuzzy_self_pairs`` — the exhaustive token-block
  join, the J4/FastJoin parity surface:

      tokens(left) ⋈ tokens(right) on token → groupBy(pair) → jaccard ≥ τ

  Blocking on shared tokens means a pair is only scored if it shares ≥1
  token — exactly FastJoin's signature-based candidate generation. The
  token explode is O(labels × tokens/label) and hot tokens are the skew
  risk, so callers should df-cap first (index.build_postings).
* ``lsh_verified_pairs`` — the pipeline's fuzzy tier: the MinHash-LSH
  kernel of canonical.py (the one dedup.py uses for documents) over label
  token sets, which bounds candidates per band bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mannheimsearchjoinsengine_spark.functions.normalize import norm_tokens
from mannheimsearchjoinsengine_spark.operators.canonical import label_tokens, minhash_lsh_pairs

TAU_DEFAULT = 0.5  # fastjoin.tau, searchJoins.conf:58


def _label_tokens(labels: DataFrame, col: str, out: str) -> DataFrame:
    return labels.select(
        F.col(col).alias(out),
        F.size(norm_tokens(F.col(col))).alias(f"{out}_ntok"),
        F.explode(norm_tokens(F.col(col))).alias("token"),
    )


def token_jaccard_join(
    left_labels: DataFrame,
    right_labels: DataFrame,
    tau: float = TAU_DEFAULT,
    left_col: str = "subj_norm",
    right_col: str = "subj_norm",
) -> DataFrame:
    """Pairs (left_key, right_key, shared_tokens, jaccard) with jaccard ≥ τ.

    Both inputs are label sets (deduped upstream). Distinct on exploded
    (pair, token) guards against duplicate tokens inside one label.
    """
    lt = _label_tokens(left_labels.select(left_col).distinct(), left_col, "left_key")
    rt = _label_tokens(right_labels.select(right_col).distinct(), right_col, "right_key")
    pairs = (
        lt.join(rt, "token")
        .select("left_key", "left_key_ntok", "right_key", "right_key_ntok", "token")
        .distinct()
        .groupBy("left_key", "left_key_ntok", "right_key", "right_key_ntok")
        .agg(F.count("*").alias("shared_tokens"))
    )
    jac = pairs.withColumn(
        "jaccard",
        F.round(
            F.col("shared_tokens")
            / (F.col("left_key_ntok") + F.col("right_key_ntok") - F.col("shared_tokens")),
            4,
        ),
    )
    return jac.filter(F.col("jaccard") >= tau).select(
        "left_key", "right_key", "shared_tokens", "jaccard"
    )


def fuzzy_self_pairs(labels: DataFrame, tau: float = TAU_DEFAULT, col: str = "subj_norm") -> DataFrame:
    """Self-similarity pairs (undirected, left < right) — the FastJoin
    parity surface (J4). Exact over ALL token-sharing pairs; for the
    pipeline's canonicalization tier prefer lsh_verified_pairs (bounded
    candidates per band bucket — no token-hub quadratics)."""
    pairs = token_jaccard_join(labels, labels, tau, col, col)
    return pairs.filter(F.col("left_key") < F.col("right_key"))


def lsh_verified_pairs(
    labels: DataFrame, tau: float = TAU_DEFAULT, col: str = "subj_norm"
) -> DataFrame:
    """The pipeline's fuzzy-candidate path (north rule): the MinHash-LSH
    kernel (canonical.minhash_lsh_pairs) over the labels' token sets.
    Banding bounds candidate generation per band bucket, then exact
    token-Jaccard verifies — no token-block self-join anywhere, so a token
    shared by k labels never yields k² rows. The refimpl oracle replicates
    the same md5 MinHash, so tests are exact. Returns (left_key, right_key,
    shared_tokens, jaccard), left < right."""
    pairs = minhash_lsh_pairs(label_tokens(labels, col), tau)
    return pairs.select(
        F.col("id1").alias("left_key"),
        F.col("id2").alias("right_key"),
        F.col("shared").alias("shared_tokens"),
        "jaccard",
    )
