"""Stage 5a — surface-form canonicalization (north-rule stage 4).

The reference consolidates keys through the external FastJoin set-similarity
join (``utils/FastJoinWrapper.match:137-198``) and merges matched columns;
our canonicalization is two-tier, per the north rule:

1. EXACT tier — surface variants that normalize to the same key
   (case change / token reorder / asides / noise) collapse by construction
   of `norm_key` (functions/normalize.py). This is a groupBy, no join.
2. FUZZY tier — Jaccard-verified MinHash-LSH pairs (fuzzy.lsh_verified_pairs,
   or the exhaustive token-jaccard join in fuzzy.py) feed an iterative-join
   CONNECTED COMPONENTS (large-star/small-star, Kiveris et al. 2014
   "Connected Components in MapReduce and Beyond" semantics) to cluster
   near-duplicate labels that exact normalization cannot unify.

The MinHash-LSH kernel lives here too, once for every caller: label token
sets (fuzzy.py) and document shingle sets (dedup.py). ``minhash_profiles``
(set, size and md5 signature from one groupBy) → ``band_table`` →
``bucket_pairs`` (hot-bucket cap, band self-join) → ``minhash_lsh_pairs``
(exact ``array_intersect`` Jaccard verify). SimHash pairing (dedup.py)
reuses ``band_table`` and ``bucket_pairs``.

The cluster representative (canonical label) is the lexicographic min of
member display forms — deterministic, oracle-friendly.

Scale notes: CC converges in O(log n) rounds; each round is two self-joins
on the edge list. Label cardinality ≪ turn cardinality (labels are entities,
not occurrences), so even at 10^12 turns the edge list stays modest. MinHash
banding bounds candidate generation per bucket; both star operations hash on
node id → AQE handles stragglers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mannheimsearchjoinsengine_spark.functions.normalize import norm_tokens

_ENTITY_RE = r"&(nbsp|amp|quot|lt|gt);"
_ASIDE_RE = r"\([^)]*\)|\[[^\]]*\]"


def display_form(col):
    """Case-preserving cleaned display of a raw surface (entity unescape,
    strip asides, collapse whitespace) — the triple subject's human form."""
    c = F.regexp_replace(col, _ENTITY_RE, " ")
    c = F.regexp_replace(c, _ASIDE_RE, " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def exact_clusters(facts: DataFrame) -> DataFrame:
    """Tier 1: norm_key → canonical display label (lexicographic min over
    member display forms). Returns (subj_norm, canonical_label, n_surfaces,
    n_occurrences).

    Two-level agg: dedupe to (subj_norm, subj_surface) FIRST (map-side
    partial agg), then run the display regexes on the few-hundred-row
    surface set — not on every occurrence row."""
    per_surface = facts.groupBy("subj_norm", "subj_surface").agg(
        F.count("*").alias("n_occ")
    )
    return per_surface.groupBy("subj_norm").agg(
        F.min(display_form(F.col("subj_surface"))).alias("canonical_label"),
        F.count("*").alias("n_surfaces"),
        F.sum("n_occ").alias("n_occurrences"),
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star: connect every strictly larger neighbor of u to
    m = min(Γ(u) ∪ {u}). Output oriented src > dst, distinct."""
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy("src").agg(F.min("dst").alias("mn")).select(
        "src", F.least("src", "mn").alias("m")
    )
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: orient edges to the smaller endpoint, connect all of u's
    smaller neighbors (and u) to m = min(Γ⁻(u) ∪ {u}). Oriented, distinct."""
    o = (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    mins = o.groupBy("src").agg(F.min("dst").alias("m"))  # all dst < src → m = min
    spokes = (
        o.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    hubs = mins.select("src", F.col("m").alias("dst"))
    return spokes.union(hubs).distinct()


# Edge lists at or under this measured size skip the distributed star
# rounds and run union-find on the driver (same component = min-node
# semantics, pinned equal by tests/test_cc_paths.py). Label graphs are
# entity-scale, not occurrence-scale, so real corpora sit far below this at
# every tested SF — each avoided star round is ~4 driver-scheduled jobs of
# pure overhead. 100k edges collect to a few MB; the distributed loop is
# untouched above the gate (the count that gates it is the convergence
# loop's own count job, so the gate costs nothing).
CC_DRIVER_MAX_EDGES = 100_000


def _cc_driver(pairs: list[tuple[str, str]]) -> dict[str, str]:
    """Union-find with path halving; root relabelled to the component's min
    node id. String comparisons: Python compares code points and Spark
    compares UTF-8 bytes — identical order (UTF-8 preserves code-point
    order), so the min matches the distributed star rounds' F.least."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min keeps the root the smallest id seen so far,
            # so the final find() is the component min directly
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {n: find(n) for n in parent}


def connected_components(
    edges: DataFrame, max_iter: int = 30, driver_max_edges: int | None = None
) -> DataFrame:
    """Connected components over an undirected edge list (columns ``src``,
    ``dst``; string node ids). Returns (node, component) with component =
    min node id of the component — the same semantics as the WITH RECURSIVE
    min-reachability oracles in driver_contract.py.

    Real alternating large-star / small-star (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond"): converges in O(log n)
    rounds regardless of graph DIAMETER — the earlier neighbor-min
    propagation was O(diameter) and silently returned split components on
    long chains (typo chains at web scale) once it hit max_iter. Each round
    is two self-join+groupBy passes over the edge list, hashed on node id;
    AQE handles stragglers. GraphFrames-free on purpose (no jar dependency —
    SURVEY.md §7 step 9).

    Edge lists whose MEASURED size (the count the convergence loop takes
    anyway) is ≤ ``driver_max_edges`` run union-find on the driver instead —
    the r06 job-count optimization, same measured-gate discipline as the
    greedy-marriage fast path (operators/match.py); identical output,
    pinned by tests/test_cc_paths.py. Pass ``driver_max_edges=0`` to force
    the distributed rounds.

    Raises ``RuntimeError`` on non-convergence instead of returning wrong
    clusters: max_iter=30 covers any feasible graph (rounds ~ log² n worst
    case; a 2^15-node pathological chain converges in <15 rounds).
    """
    e = (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    n_edges = e.count()
    if driver_max_edges is None:
        driver_max_edges = CC_DRIVER_MAX_EDGES
    all_string = all(f.dataType.simpleString() == "string" for f in e.schema.fields)
    if 0 < n_edges <= driver_max_edges and all_string:
        import pyarrow as pa

        comp = _cc_driver([(r["src"], r["dst"]) for r in e.collect()])
        nodes = sorted(comp)
        # from an Arrow table the rows go to the JVM as Arrow batches; a
        # list of tuples would be pickled through a Python-worker job
        table = pa.table({"node": nodes, "component": [comp[n] for n in nodes]})
        return e.sparkSession.createDataFrame(table, schema="node string, component string")
    converged = n_edges == 0
    for _ in range(max_iter):
        if converged:
            break
        new_e = _small_star(_large_star(e)).localCheckpoint()
        n_new = new_e.count()
        # set equality: same size and no edge outside the old set
        converged = n_new == n_edges and new_e.subtract(e).isEmpty()
        e, n_edges = new_e, n_new
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "large/small-star rounds — refusing to return split components"
        )
    # converged state is a star per component rooted at the min node:
    # spokes map via their edge, roots map to themselves.
    spokes = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("node"), F.col("dst").alias("component")).distinct()
    return spokes.union(roots).distinct()


def fuzzy_clusters(facts: DataFrame, fuzzy_pairs: DataFrame) -> DataFrame:
    """Tier 2: merge exact clusters linked by fuzzy pairs. ``fuzzy_pairs``
    has (left_key, right_key) over norm keys (from fuzzy.lsh_verified_pairs,
    the pipeline's path, or fuzzy.fuzzy_self_pairs). Returns
    (subj_norm, cluster_id, canonical_label)."""
    ex = exact_clusters(facts)
    edges = fuzzy_pairs.select(
        F.col("left_key").alias("src"), F.col("right_key").alias("dst")
    )
    comp = connected_components(edges)
    with_comp = ex.join(
        comp.withColumnRenamed("node", "subj_norm"), "subj_norm", "left"
    ).withColumn("cluster_id", F.coalesce("component", "subj_norm"))
    label = with_comp.groupBy("cluster_id").agg(
        F.min("canonical_label").alias("cluster_label")
    )
    return (
        with_comp.join(label, "cluster_id")
        .select("subj_norm", "cluster_id", F.col("cluster_label").alias("canonical_label"))
    )


# ------------------------------------------------------------ MinHash-LSH
# One set-similarity kernel for labels (token sets: the fuzzy tier,
# fuzzy.lsh_verified_pairs) and documents (word-shingle sets: dedup.py).
# Every frame below keys its rows by an ``id`` column; a pair is emitted
# once, as (id1, id2) with id1 < id2.


def minhash_profiles(elems: DataFrame, n_hashes: int = 8) -> DataFrame:
    """One row per ``id`` of an ``(id, elem)`` table, from ONE groupBy: the
    distinct element set ``elems`` (an array, order unspecified), its size
    ``n_elems`` and the MinHash signature ``sig_0..sig_{n-1}``, where sig_j
    is the min over the elements of the first 16 hex chars of
    md5(j || ':' || elem). md5 makes the signature reproducible in any
    engine (the DuckDB twins and ``refimpl.oracle`` compute the same), and
    for fixed-width lowercase hex the lexicographic min is the numeric min.
    Duplicate elements change nothing."""
    sigs = [
        F.min(F.substring(F.md5(F.concat(F.lit(f"{j}:"), F.col("elem"))), 1, 16)).alias(
            f"sig_{j}"
        )
        for j in range(n_hashes)
    ]
    return (
        elems.groupBy("id")
        .agg(F.collect_set("elem").alias("elems"), *sigs)
        .withColumn("n_elems", F.size("elems"))
    )


def minhash_buckets(n_hashes: int = 8, band_size: int = 2) -> list:
    """The bucket of each LSH band over a signature table: band b joins
    sig_{b*band_size} .. sig_{b*band_size + band_size - 1} with '|'."""
    return [
        F.concat_ws("|", *[F.col(f"sig_{b * band_size + j}") for j in range(band_size)])
        for b in range(n_hashes // band_size)
    ]


def band_table(rows: DataFrame, buckets: list) -> DataFrame:
    """(id, band, bucket), band b's bucket being the expression
    ``buckets[b]`` over ``rows``: one explode of a literal struct array, so
    one pass over ``rows`` instead of a union branch per band."""
    arr = F.array(
        *[F.struct(F.lit(b).alias("band"), c.alias("bucket")) for b, c in enumerate(buckets)]
    )
    return rows.select("id", F.explode(arr).alias("bb")).select("id", "bb.band", "bb.bucket")


# Band buckets LARGER than this are excluded from candidate pairing: a
# bucket of k members emits k(k-1)/2 pairs regardless of how honest the
# signatures are, so a degenerate bucket (boilerplate-heavy corpus, a
# constant label shared by millions of rows) turns LSH back into the all-
# pairs blowup it exists to avoid. 1000 caps any one bucket at ~500k pairs
# (one shuffle partition's worth) while being far above every bucket size a
# non-degenerate corpus produces at the 0.5-τ banding knee. Dropped buckets
# are a loud metrics surface (lsh_hot_buckets), not a silent vanish — the
# standard web-scale dedup tradeoff (recall on pathological boilerplate
# clusters is bounded away in exchange for a bounded join).
LSH_MAX_BUCKET = 1000


def lsh_hot_buckets(bands: DataFrame, max_bucket: int = LSH_MAX_BUCKET) -> DataFrame:
    """(band, bucket, n_members) of the band buckets the LSH pairing DROPS —
    materialize/log this next to the pair output at scale so a degenerate
    boilerplate cluster is visible. One agg over the already-built band
    table; works for any member column (counts rows per bucket)."""
    return (
        bands.groupBy("band", "bucket")
        .agg(F.count("*").alias("n_members"))
        .filter(F.col("n_members") > F.lit(int(max_bucket)))
    )


def bucket_pairs(bands: DataFrame, max_bucket: int | None = LSH_MAX_BUCKET) -> DataFrame:
    """Candidate pairs (id1, id2), id1 < id2, distinct: ids that share a
    (band, bucket) of ``bands``. Buckets larger than ``max_bucket`` are
    dropped first (see LSH_MAX_BUCKET — the k² pair guard; ``None``
    disables). The anti-join is deliberately un-hinted: the hot list is
    corpus-dependent, and the anti-join shuffles on the same (band, bucket)
    key the self-join needs anyway."""
    if max_bucket is not None:
        hot = lsh_hot_buckets(bands, max_bucket).select("band", "bucket")
        bands = bands.join(hot, ["band", "bucket"], "left_anti")
    l = bands.select("band", "bucket", F.col("id").alias("id1"))
    r = bands.select("band", "bucket", F.col("id").alias("id2"))
    return (
        l.join(r, ["band", "bucket"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )


def minhash_lsh_pairs(
    elems: DataFrame,
    tau: float = 0.5,
    n_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """(id1, id2, shared, jaccard) for the LSH candidate pairs of an
    ``(id, elem)`` table whose element sets have Jaccard ≥ ``tau``:
    profiles → bands → bucket pairs → exact verify. ``shared`` is
    size(array_intersect) of the two distinct element arrays, and jaccard
    is round(shared / (n1 + n2 − shared), 4), so no join of the exploded
    (id, elem) table is needed. The profiles are the one materialization
    (localCheckpoint): the banding and both sides of the verify read them.
    LSH recall is < 1 against the exhaustive join by construction."""
    prof = minhash_profiles(elems, n_hashes).localCheckpoint()
    cand = bucket_pairs(band_table(prof, minhash_buckets(n_hashes, band_size)), max_bucket)
    p1 = prof.select(
        F.col("id").alias("id1"), F.col("elems").alias("e1"), F.col("n_elems").alias("n1")
    )
    p2 = prof.select(
        F.col("id").alias("id2"), F.col("elems").alias("e2"), F.col("n_elems").alias("n2")
    )
    shared = F.size(F.array_intersect("e1", "e2"))
    jaccard = F.round(shared / (F.col("n1") + F.col("n2") - shared), 4)
    return (
        cand.join(p1, "id1")
        .join(p2, "id2")
        .select("id1", "id2", shared.alias("shared"), jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= tau)
    )


def label_tokens(labels: DataFrame, col: str = "subj_norm") -> DataFrame:
    """(id, elem) rows of a label column: each label with its norm_tokens."""
    return labels.select(F.col(col).alias("id"), F.explode(norm_tokens(F.col(col))).alias("elem"))


def minhash_signatures(labels: DataFrame, col: str = "subj_norm", n_hashes: int = 8) -> DataFrame:
    """(label, sig_0..sig_{n-1}): the MinHash signatures of the label token
    sets (minhash_profiles)."""
    prof = minhash_profiles(label_tokens(labels, col), n_hashes)
    return prof.select(F.col("id").alias("label"), *[f"sig_{j}" for j in range(n_hashes)])


def minhash_candidate_pairs(
    labels: DataFrame,
    col: str = "subj_norm",
    n_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """(left_key, right_key), left < right: the labels that share an LSH
    band bucket, before the Jaccard verify of fuzzy.lsh_verified_pairs.
    Buckets larger than ``max_bucket`` are dropped (bucket_pairs)."""
    prof = minhash_profiles(label_tokens(labels, col), n_hashes).localCheckpoint()
    cand = bucket_pairs(band_table(prof, minhash_buckets(n_hashes, band_size)), max_bucket)
    return cand.select(F.col("id1").alias("left_key"), F.col("id2").alias("right_key"))
