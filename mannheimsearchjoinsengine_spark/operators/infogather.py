"""J9 — InfoGather holistic table augmentation (TSP over the table graph).

Reference: ``infogather/QueryProcessor.java:42-317`` drives the published
InfoGather operation (Yakout et al., "InfoGather: Entity Augmentation and
Attribute Discovery By Holistic Matching with Web Tables", SIGMOD 2012):

* Q1 ``GetSeedTables:94-187``: seed tables found by key-overlap against
  the key index (optionally intersected with the attribute index for
  augmentation-by-attribute), scored DMA = overlap /
  min(|query keys|, |table rows|).
* Q2 ``ComputeTSP:205-285``: preference vector β = DMA normalized to sum
  1 (Eq. 6), then TSP(v) = Σ_u β(u)·PPR_u(v) (Theorem 1) — the reference
  reads PRECOMPUTED personalized-PageRank vectors from a GraphChi/
  BerkeleyDB blob that is not part of the repo (the "missing jar"). By
  linearity, Σ_u β(u)·PPR_u is exactly the PageRank vector personalized
  on β itself, so the offline random walks re-express as ONE
  power iteration on the table-similarity graph:
      score_{t+1}(v) = (1-d)·β(v) + d·Σ_u w(u,v)·score_t(u)
  with the row-stochastic edge weights w and damping d (0.85). Each
  iteration is a shuffle of the edge list — the standard distributed
  PageRank shape; k is small (the walk mixes in a few hops).
* Q3 ``AggregateAndSelectValues:295-317``: candidate values for the
  requested attribute are aggregated per query key weighted by the
  holistic TSP score; the best-scoring value wins.

Transcript mapping: web table ≙ conversation, key column ≙ ``subj_norm``,
attribute ≙ ``pred_raw``. The table graph edges are shared-distinct-key
counts between conversations (the reference's offline graph builds edges
from the same key/attribute match evidence, ``infogather/preprocessing``).

Documented divergence: ``GetSeedTables:155-165`` re-creates the per-table
overlap map inside the per-key loop (``overlapCount.put(k, new HashMap)``
unconditionally), clobbering prior counts — every table's "overlap" ends
up 1 regardless of how many keys matched. That makes DMA degenerate to
1/min(...); this implementation computes the paper's overlap (distinct
matched keys) instead of replicating a bug in a subsystem the reference
cannot run (missing PPR blob).

Scale shape: the conversation self-join on ``subj_norm`` materializes
df² pair rows PER KEPT SUBJECT, so the graph build is bounded two ways:
a fractional df-cap (subjects in > ``df_cap`` of all conversations, the
topical-stopword tier) AND an absolute per-key cap ``df_abs_cap`` — a
Zipf-head entity in 1% of 10⁸ conversations passes the fractional cap yet
would alone emit 10¹² self-join edges; capping df ≤ K bounds every key's
contribution to K² and the whole edge list to K·|key rows| (linear in the
corpus for fixed K). Dropped hubs are first-class metrics rows
(:func:`hub_keys` — materialize/log it next to the graph at scale). The
power iteration materializes each score vector (localCheckpoint; stage
ledger on a cluster) so the plan stays k shallow joins instead of an
exponentially nested tree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAMPING = 0.85
ITERATIONS = 4
# absolute per-subject document-frequency cap for the graph build: a kept
# subject contributes df² pair rows, so K bounds the per-key blowup to K²
# and the total edge list to K·Σdf. 1000 keeps every plausibly-topical
# entity (co-occurrence signal saturates well below 1000 tables in the
# InfoGather paper's graphs) while capping a hub's quadratic at 10⁶ rows —
# one shuffle partition's worth, not a job killer.
DF_ABS_CAP = 1000


def conv_key_sets(facts: DataFrame) -> DataFrame:
    """Distinct (conv_id, subj_norm) — the key column of each
    conversation-table."""
    return facts.select("conv_id", "subj_norm").distinct()


def hub_keys(
    keys: DataFrame, df_cap: float | None = 0.5, df_abs_cap: int | None = DF_ABS_CAP
) -> DataFrame:
    """(subj_norm, df) of the subjects the graph build DROPS — the loud
    metrics surface for the hub caps: a deployment materializes this next
    to the graph (one extra agg over the already-shuffled df table) so a
    dropped Zipf-head entity is visible, not silent.

    Two caps, either disabled with ``None``:
    * fractional ``df_cap`` — subjects in more than that share of all
      conversations carry no topical signal (stopword tier; bounded
      ≤ ~1/df_cap keys by coverage-sum).
    * absolute ``df_abs_cap`` — every KEPT subject emits df² self-join pair
      rows, so the fractional cap alone is not a pair bound (a key in 1%
      of 10⁸ conversations passes it and alone emits 10¹² edges); df ≤ K
      bounds each key's blowup to K² and the edge list to K·|key rows|.
    """
    # keys is the conv_key_sets output — DISTINCT (conv_id, subj_norm) rows
    # by contract — so count(*) IS countDistinct(conv_id) here, without the
    # two-phase distinct-aggregate exchange countDistinct plans
    dfreq = keys.groupBy("subj_norm").agg(F.count("*").alias("df"))
    cond = F.lit(False)
    if df_cap is not None:
        n_convs = keys.agg(F.countDistinct("conv_id").alias("n_convs"))
        dfreq = dfreq.crossJoin(F.broadcast(n_convs))
        cond = cond | (F.col("df") > F.floor(F.lit(df_cap) * F.col("n_convs")) + 1)
    if df_abs_cap is not None:
        cond = cond | (F.col("df") > F.lit(int(df_abs_cap)))
    return dfreq.filter(cond).select("subj_norm", "df")


def conv_graph(
    facts: DataFrame,
    df_cap: float | None = 0.5,
    keys: DataFrame | None = None,
    df_abs_cap: int | None = DF_ABS_CAP,
) -> DataFrame:
    """Row-stochastic similarity edges (src, dst, w) between conversations
    sharing subject keys; weight = shared-distinct-key count / out-degree.

    Hub subjects (:func:`hub_keys` — fractional ``df_cap`` OR absolute
    ``df_abs_cap``) are dropped from the pairing: a kept subject emits df²
    pair rows in the self-join below, so the absolute cap is what bounds
    the edge list at web scale (≤ K·|key rows| total, ≤ K² per key).

    The anti-join against the hub list is deliberately NOT broadcast-hinted:
    under the fractional cap alone the list is provably ≤ ~1/df_cap rows,
    but with the absolute cap it is corpus-dependent (≤ |key rows|/K), so
    the hint would be a web-scale OOM bet. The anti-join shuffles ``keys``
    on ``subj_norm`` — the exact partitioning the self-join needs anyway
    (exchange reuse) — and AQE still picks a broadcast anti-join at runtime
    whenever the hub list measures small.

    ``keys``: pass a pre-materialized ``conv_key_sets(facts)`` when the
    caller consumes it elsewhere too (relevant_tsp does) — otherwise the
    extract subtree re-runs per consumer.
    """
    from pyspark.sql import Window

    keys = conv_key_sets(facts) if keys is None else keys
    if df_cap is not None or df_abs_cap is not None:
        hot = hub_keys(keys, df_cap, df_abs_cap).select("subj_norm")
        keys = keys.join(hot, "subj_norm", "left_anti")
    a = keys.select("subj_norm", F.col("conv_id").alias("src"))
    b = keys.select("subj_norm", F.col("conv_id").alias("dst"))
    # ONE exchange for both the pair aggregation and the normalization
    # window (r06): hash-partitioning on src alone satisfies the (src, dst)
    # grouping clustering, so the explicit repartition("src") replaces the
    # planner's exchange-on-(src,dst) AND the window's exchange-on-(src)
    # with a single shuffle — measured 2.37 → 1.21 s for the edge build at
    # sf0.1, values identical (integer counts). Skew exposure is unchanged:
    # the window already partitioned by src, and per-src pair rows are
    # bounded by keys-per-conversation × df_abs_cap either way. (A degree
    # agg + join-back re-shuffled the full edge list a second time — 0.85×,
    # OPTIMIZATION_r06.md; a broadcast of the degree table is a bet that
    # breaks at 10⁸ nodes.)
    shared = (
        a.join(b, "subj_norm")
        .filter(F.col("src") != F.col("dst"))
        .repartition("src")
        .groupBy("src", "dst")
        .agg(F.count("*").alias("shared"))
    )
    out_w = F.sum("shared").over(Window.partitionBy("src"))
    return shared.select("src", "dst", (F.col("shared") / out_w).alias("w"))


def dma_seeds(
    facts: DataFrame,
    query_keys: DataFrame,
    attribute: str | None = None,
    keys: DataFrame | None = None,
    matched: DataFrame | None = None,
) -> DataFrame:
    """Q1: (conv_id, beta) — DMA = |matched distinct query keys| /
    min(|query keys|, |conversation fact rows|), restricted to
    conversations carrying ``attribute`` when given, normalized to sum 1
    (Eq. 6). ``query_keys``: one ``subj_norm`` per row (pre-distinct it
    when the caller reuses it). ``matched``: pass the pre-computed
    ``keys ⋈ distinct(query_keys)`` when the caller also derives the
    relevance set from it (relevant_tsp does) — the join then runs once."""
    qk = query_keys.select("subj_norm").distinct()
    keys = conv_key_sets(facts) if keys is None else keys
    if matched is None:
        matched = keys.join(qk, "subj_norm")
    if attribute is not None:
        with_attr = (
            facts.filter(F.col("pred_raw") == attribute).select("conv_id").distinct()
        )
        matched = matched.join(with_attr, "conv_id", "left_semi")
    overlap = matched.groupBy("conv_id").agg(
        F.countDistinct("subj_norm").alias("overlap")
    )
    conv_rows = facts.groupBy("conv_id").agg(F.count("*").alias("n_rows"))
    n_q = qk.agg(F.count("*").alias("n_q"))
    dma = (
        overlap.join(conv_rows, "conv_id")
        .crossJoin(F.broadcast(n_q))
        .select(
            "conv_id",
            (F.col("overlap") / F.least("n_q", "n_rows")).alias("dma"),
        )
    )
    total = dma.agg(F.sum("dma").alias("total"))
    return dma.crossJoin(F.broadcast(total)).select(
        "conv_id", (F.col("dma") / F.col("total")).alias("beta")
    )


def tsp_scores(
    edges: DataFrame,
    beta: DataFrame,
    damping: float = DAMPING,
    iterations: int = ITERATIONS,
) -> DataFrame:
    """Q2: topic-sensitive PageRank personalized on β, by power iteration —
    returns (conv_id, tsp) for every node of the graph ∪ seed set. Each
    iteration materializes (localCheckpoint) so the lineage stays k
    shallow edge-joins.

    Join shape per iteration: the score vector is one row per NODE while
    the edge list is one row per EDGE (orders of magnitude larger). The
    edge join carries no hint: Spark picks its strategy, and AQE re-plans
    it from the score side's runtime size — correct at any scale,
    identical values.

    Materialization (r06): ``beta`` is checkpointed ONCE up front — it
    feeds the node union AND the base join, and its seed subtree (overlap
    aggregate, per-conversation row counts, two scalar normalizers) was
    re-evaluated by every consumer in the r05 shape (the nodes checkpoint,
    the base checkpoint, and the broadcast(total) subquery each ran it).
    The node set itself is NOT separately checkpointed — ``base`` has the
    same rows (the left join preserves nodes) and is materialized anyway."""
    beta = beta.localCheckpoint()
    nodes = (
        edges.select(F.col("src").alias("conv_id"))
        .union(edges.select(F.col("dst").alias("conv_id")))
        .union(beta.select("conv_id"))
        .distinct()
    )
    base = nodes.join(beta, "conv_id", "left").select(
        "conv_id", F.coalesce("beta", F.lit(0.0)).alias("beta")
    ).localCheckpoint()
    score = base.select("conv_id", F.col("beta").alias("score"))
    for i in range(iterations):
        s = score.withColumnRenamed("conv_id", "src")
        inflow = (
            edges.join(s, "src")
            .groupBy(F.col("dst").alias("conv_id"))
            .agg(F.sum(F.col("w") * F.col("score")).alias("acc"))
        )
        score = base.join(inflow, "conv_id", "left").select(
            "conv_id",
            (
                (1.0 - damping) * F.col("beta")
                + damping * F.coalesce("acc", F.lit(0.0))
            ).alias("score"),
        )
        # Materialize every SECOND iteration (and the last): a 2-deep
        # lineage (two edge-joins + aggs) plans fine, and each skipped
        # materialization saves a whole job — the per-job overhead is the
        # dominant cost of the iteration loop at the small-SF end, and at
        # cluster scale fewer ledger writes of an all-nodes vector.
        if i % 2 == 1 or i == iterations - 1:
            score = score.localCheckpoint()
    return score.select("conv_id", F.col("score").alias("tsp"))


def relevant_tsp(
    facts: DataFrame,
    query_keys: DataFrame,
    attribute: str | None = None,
    damping: float = DAMPING,
    iterations: int = ITERATIONS,
    df_cap: float | None = 0.5,
    df_abs_cap: int | None = DF_ABS_CAP,
) -> DataFrame:
    """Seed → graph → TSP, filtered to the RELEVANT conversations (≥ 1 key
    overlapping the query table, ``GetSeedTables:128-131``) — the only
    ones Q3 can use. Returns (conv_id, tsp).

    Plan shape: the key-set and edge tables feed several consumers (graph
    build, seeding, relevance filter, and every power iteration), so both
    are materialized ONCE (localCheckpoint; stage ledger on a cluster) —
    an all-lazy tree re-ran the extract + self-join subtree per iteration
    (measured 63 s → 13 s at sf0.1; the remainder is the unavoidable
    extract scans for row counts / attribute filtering, which the
    pipeline's ledger would serve from the cells stage). The distinct
    query-key set is also checkpointed once (its extract subtree otherwise
    re-runs for seeding AND relevance), and the relevance filter reuses the
    seeding's ``keys ⋈ qk`` join instead of recomputing it — the relevant
    set is exactly the conversations with ≥ 1 matched key."""
    keys = conv_key_sets(facts).localCheckpoint()
    edges = conv_graph(
        facts, df_cap=df_cap, keys=keys, df_abs_cap=df_abs_cap
    ).localCheckpoint()
    qk = query_keys.select("subj_norm").distinct().localCheckpoint()
    matched = keys.join(qk, "subj_norm")
    beta = dma_seeds(facts, qk, attribute, keys=keys, matched=matched)
    tsp = tsp_scores(edges, beta, damping, iterations)
    relevant = matched.select("conv_id").distinct()
    return tsp.join(relevant, "conv_id", "left_semi")


def augment_by_attribute(
    facts: DataFrame,
    query_keys: DataFrame,
    attribute: str,
    damping: float = DAMPING,
    iterations: int = ITERATIONS,
    df_cap: float | None = 0.5,
    df_abs_cap: int | None = DF_ABS_CAP,
) -> DataFrame:
    """Q3 augmentation-by-attribute: for each query key, candidate values
    of ``attribute`` from the relevant conversations are scored by the
    summed TSP of the conversations asserting them; the best value wins
    (score desc, value asc — deterministic stand-in for the reference's
    fuser ordering). Returns (subj_norm, obj_raw, score)."""
    from pyspark.sql import Window

    # distinct query keys once — consumed by seeding/relevance (inside
    # relevant_tsp) and by the candidate filter below; un-checkpointed, the
    # mention-extract subtree re-ran per consumer
    qk = query_keys.select("subj_norm").distinct().localCheckpoint()
    tsp = relevant_tsp(
        facts, qk, attribute, damping, iterations, df_cap, df_abs_cap
    )
    cand = (
        facts.filter(F.col("pred_raw") == attribute)
        .join(qk, "subj_norm")
        .select("conv_id", "subj_norm", "obj_raw")
        .distinct()
        .join(tsp, "conv_id")
        .groupBy("subj_norm", "obj_raw")
        # rank on the ROUNDED score: two engines summing the same floats in
        # different orders drift in the last bits, and a rank must never
        # hinge on that drift
        .agg(F.round(F.sum("tsp"), 6).alias("score"))
    )
    w = Window.partitionBy("subj_norm").orderBy(F.desc("score"), F.asc("obj_raw"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("subj_norm", "obj_raw", "score")
    )
