"""Deduplication operators for training-data pipelines.

Five dedup families over a document table (id, text), each expressed
Spark-first:

* exact        — sha256(text) groupBy; keep min-id per group (deterministic)
* minhash-LSH  — shingle → minhash signature (Arrow UDF) → band keys →
                 explode → self-join on band bucket → verify exact Jaccard on
                 candidates only (the Broder/LSH standard; candidate
                 generation is linear in docs × bands, never O(n²))
* simhash      — 64-bit simhash, exact-match buckets + hamming-verify pairs
                 found via 4×16-bit block keys (Charikar + block-permuted
                 indexing so hamming ≤ 3 pairs always share a block)
* n-gram Jaccard — word-3-gram sets with length-bucket blocking (the exact
                 verifier used standalone at small scale)
* digest       — WARC payload-digest revisit dedup (J4's north-star
                 generalization: self-join on payload_digest)

Scale notes: every self-join is an equi-join on a hash-bucket key (shuffle
hash join, AQE-splittable); no cross joins anywhere. Band buckets with
pathological sizes (all-identical corpora) are capped by a per-bucket limit.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from warc2zim_spark.functions import udfs


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical texts: (content_hash, n_docs, keep_id,
    dup_ids). Deterministic keeper = min id."""
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.sha2(F.col(text_col), 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
            F.sort_array(F.collect_list("doc_id")).alias("all_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def minhash_candidates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    max_bucket: int = 1000,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) via banded minhash signatures.

    The band frame feeds FOUR consumers (bucket sizing, the cap semi-join,
    and both sides of the self-join); without a materialization barrier
    Spark re-runs the signature UDF over the corpus for each — measured
    executed plans carry 8-14 ArrowEvalPython nodes: per-consumer column
    pruning makes every subtree canonically distinct (no ReusedExchange
    possible), and any predicate over a UDF output (posexplode's implicit
    size>0 guard) doubles the eval again. A localCheckpoint of the
    pre-explode (doc_id, band_keys) frame — one row per doc, 16 ints —
    makes the Arrow pass run exactly once; consumers re-derive the explode
    JVM-side from materialized arrays (at cluster scale this is the
    standard "write signatures once" step)."""
    from warc2zim_spark.partitioning import spread_input

    docs = spread_input(docs)
    keys = docs.select(
        F.col(id_col).alias("doc_id"),
        udfs.minhash_bands_of_text(F.col(text_col)).alias("band_keys"),
    ).localCheckpoint(eager=False)
    exploded = keys.select(
        "doc_id", F.posexplode("band_keys").alias("band_no", "band_key")
    )
    # one groupBy per band bucket: collect the (≤ max_bucket) member ids and
    # emit every (id_a < id_b) pair JVM-side from the sorted array. Replaces
    # the former bucket-count + cap-semi-join + bucket self-join chain — four
    # exchanges of the exploded band frame — with groupBy + distinct (two),
    # same pair set (r06; guide §2.4). The size cap that bounded the
    # self-join fanout now bounds the collected array and the pair explosion
    # identically (oversized pathological buckets are dropped whole).
    # array_distinct: a doc id that occurs twice in the input would
    # otherwise sit next to itself and emit an (id, id) self-pair.
    buckets = (
        exploded.groupBy("band_no", "band_key")
        .agg(F.array_distinct(F.sort_array(F.collect_list("doc_id"))).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("ids"),
                lambda x, i: F.transform(
                    F.slice(F.col("ids"), i + F.lit(2), F.size("ids")),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        )
    )
    return (
        buckets.select(pair.alias("p")).select("p.id_a", "p.id_b").distinct()
    )


def minhash_near_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """LSH candidates verified with exact 3-gram Jaccard ≥ threshold.

    The shingle UDF for the verify step runs only over docs that appear in
    some candidate pair (semi-join first): at corpus scale with a low dup
    rate this is a ~100× smaller Arrow pass than re-shingling everything,
    and the small gram frame is checkpointed so the a/b join sides share
    one computation."""
    from warc2zim_spark.partitioning import spread_input

    # spread once here: the shingle pass AND the verify-join probe side
    # inherit the doc scan's partitioning, and a single-file corpus runs
    # both in one task (guide §2.5) — minhash_candidates' own spread then
    # no-ops on the already-parallel frame
    docs = spread_input(docs)
    cands = minhash_candidates(docs, id_col, text_col).localCheckpoint(eager=False)
    cand_ids = (
        cands.select(F.col("id_a").alias("doc_id"))
        .union(cands.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    grams = (
        docs.join(cand_ids, docs[id_col] == cand_ids["doc_id"], "left_semi")
        .select(
            F.col(id_col).alias("doc_id"),
            udfs.word_shingles(F.col(text_col)).alias("grams"),
        )
        .localCheckpoint(eager=False)
    )
    a = grams.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("grams_a"))
    b = grams.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("grams_b"))
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size("grams_a") + F.size("grams_b") - inter
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(1.0)),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard via **prefix filtering** (the AllPairs/PPJoin
    principle, Bayardo et al. WWW'07): under any fixed global token order,
    J(A,B) ≥ t forces A and B to share a token among each one's first
    ``|S| − ⌈t·|S|⌉ + 1`` tokens — so candidates come from an equi-join on
    *prefix tokens only* (~(1−t)·|S| per doc), then verify exactly.
    Ordering tokens by ascending document frequency puts the RAREST tokens
    in prefixes, so join buckets stay tiny; a size-compatibility predicate
    (t·|B| ≤ |A| ≤ |B|/t) prunes further. Lossless, never O(n²) — this
    replaces the r01 log-size blocking whose within-bucket join was
    quadratic (verdict perf-weak #4)."""
    # four consumers (tok_df, prefixes, both verify sides) — checkpoint so
    # the shingle UDF runs one Arrow pass, not four; the size>0 filter goes
    # AFTER the barrier (a predicate on a UDF output makes Catalyst evaluate
    # the UDF once for the filter and once for the projection)
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        udfs.word_shingles(F.col(text_col)).alias("grams"),
    ).localCheckpoint(eager=False).filter(F.size("grams") > 0)

    # global order: (document frequency asc, token) — computed once per run
    tok_df = (
        grams.select(F.explode("grams").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
    )
    exploded = grams.select(
        "doc_id", F.size("grams").alias("n"), F.explode("grams").alias("tok")
    )
    prefix_len = (F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1).cast("int")
    prefixes = (
        exploded.join(tok_df, "tok")
        .groupBy("doc_id", "n")
        .agg(
            F.slice(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("df", "tok"))),
                    lambda s: s["tok"],
                ),
                1,
                prefix_len,
            ).alias("prefix")
        )
        .select("doc_id", "n", F.explode("prefix").alias("tok"))
    )
    a = prefixes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"), "tok")
    b = prefixes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"), "tok")
    candidates = (
        a.join(b, "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        # size compatibility: J ≥ t ⇒ t·max ≤ min
        .filter(
            F.least("n_a", "n_b").cast("double")
            >= F.lit(threshold) * F.greatest("n_a", "n_b")
        )
        .select("id_a", "id_b")
        .distinct()
    )
    ga = grams.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("grams_a"))
    gb = grams.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("grams_b"))
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size("grams_a") + F.size("grams_b") - inter
    return (
        candidates.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn(
            "jaccard",
            F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(1.0)),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash_near_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    max_hamming: int = 3, num_blocks: int = 6,
) -> DataFrame:
    """SimHash near-dups: pairs with hamming(sim_a, sim_b) ≤ max_hamming.

    Blocking (Manku et al., WWW'07 §3): split the 64-bit hash into
    ``num_blocks`` blocks and build one join key per (num_blocks −
    max_hamming)-block combination — the concatenation of those blocks. Any
    pair within hamming ≤ d differs in at most d blocks, so SOME combination
    of the other (b − d) blocks agrees exactly (pigeonhole) and the pair
    co-buckets in that table. With b = 6, d = 3: C(6,3) = 20 tables keyed on
    ~32 agreeing bits → ~4·10⁹ distinct bucket values, vs 2¹⁶ per key in the
    naive 4-block scheme whose buckets hold n/65 536 docs each and go
    quadratic at 10⁹ docs. Cost: 20 rows/doc instead of 4 — a 5× narrow-row
    shuffle buys ~65 000× smaller buckets.

    Requires num_blocks > max_hamming; completeness is exact, not
    probabilistic (pinned against a brute-force all-pairs oracle)."""
    if num_blocks <= max_hamming:
        raise ValueError("num_blocks must exceed max_hamming (pigeonhole)")
    sims = docs.select(
        F.col(id_col).alias("doc_id"),
        udfs.simhash(F.col(text_col)).alias("sim"),
    ).localCheckpoint(eager=False)  # both join sides share one UDF pass
    # block bit-ranges: distribute 64 bits as evenly as possible
    base, extra = divmod(64, num_blocks)
    sizes = [base + (1 if i < extra else 0) for i in range(num_blocks)]
    offsets = [sum(sizes[:i]) for i in range(num_blocks)]
    block_exprs = [
        F.shiftrightunsigned(F.col("sim"), offsets[i]).bitwiseAND(
            F.lit((1 << sizes[i]) - 1)
        )
        for i in range(num_blocks)
    ]
    keep = num_blocks - max_hamming
    combo_keys = [
        F.concat_ws("|", *[block_exprs[i].cast("string") for i in combo])
        for combo in combinations(range(num_blocks), keep)
    ]
    keyed = sims.select(
        "doc_id", "sim",
        F.posexplode(F.array(*combo_keys)).alias("combo_no", "combo_key"),
    )
    a = keyed.select(F.col("doc_id").alias("id_a"), F.col("sim").alias("sim_a"),
                     "combo_no", "combo_key")
    b = keyed.select(F.col("doc_id").alias("id_b"), F.col("sim").alias("sim_b"),
                     "combo_no", "combo_key")
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        a.join(b, ["combo_no", "combo_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(hamming <= max_hamming)
        .select("id_a", "id_b", hamming.alias("hamming"))
        .distinct()
    )


def digest_duplicates(records: DataFrame) -> DataFrame:
    """WARC payload-digest dedup (north-star J4 generalization): groups of
    response records sharing a payload digest; first in stream order is the
    original, the rest are revisit-equivalent."""
    w_cols = ["payload_digest"]
    return (
        records.filter(F.col("rec_type") == "response")
        .filter(F.col("payload_digest").isNotNull())
        .groupBy(*w_cols)
        .agg(
            F.count("*").alias("n_copies"),
            F.min(F.struct("file_seq", "rec_seq")).alias("first"),
        )
        .filter(F.col("n_copies") > 1)
        .select(
            "payload_digest",
            "n_copies",
            F.col("first.file_seq").alias("orig_file_seq"),
            F.col("first.rec_seq").alias("orig_rec_seq"),
        )
    )


def _star_neighborhood_min(edges_sym: DataFrame) -> DataFrame:
    """Per node u (column ``a``): m = min(Γ(u) ∪ {u})."""
    return edges_sym.groupBy("a").agg(
        F.least(F.min("b"), F.first("a")).alias("m")
    )


def _symmetrize(canon: DataFrame) -> DataFrame:
    return canon.unionByName(
        canon.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )


def _large_star(edges_sym: DataFrame) -> DataFrame:
    """Kiveris large-star: each node u links every strictly-larger neighbor
    v to m(u). Output canonical (a > b) since v > u >= m."""
    m = _star_neighborhood_min(edges_sym)
    return (
        edges_sym.filter(F.col("b") > F.col("a"))
        .join(m, "a")
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def _small_star(edges_sym: DataFrame) -> DataFrame:
    """Kiveris small-star: each node u links its <=u neighbors AND itself to
    m(u), dropping the self-loop (m, m)."""
    m = _star_neighborhood_min(edges_sym)
    small_nbrs = (
        edges_sym.filter(F.col("b") <= F.col("a"))
        .join(m, "a")
        .select(F.col("b").alias("v"), "m")
    )
    self_rows = m.select(F.col("a").alias("v"), "m")
    return (
        small_nbrs.unionByName(self_rows)
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def _star_components(canon: DataFrame, max_iter: int) -> DataFrame:
    """Connected components via alternating large-star/small-star (Kiveris
    et al., "Connected Components in MapReduce and Beyond") — O(log n)
    rounds on ANY graph shape, including the long chains that defeat
    O(diameter) label propagation. Each phase is one groupBy-min plus one
    equi-join on node id; convergence = canonical edge set unchanged."""
    canon = canon.localCheckpoint(eager=True)
    for _ in range(max_iter):
        after_large = _large_star(_symmetrize(canon))
        new_canon = _small_star(_symmetrize(after_large)).localCheckpoint(
            eager=True
        )
        changed = (
            new_canon.exceptAll(canon)
            .unionByName(canon.exceptAll(new_canon))
            .limit(1)
            .count()
        )
        canon = new_canon
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"star components did not converge in {max_iter} rounds "
            f"(theoretical bound is O(log n) — this indicates a bug or an "
            f"adversarial input far beyond the round budget)"
        )
    # converged: canonical edges are (node, component_min) stars
    labels = canon.groupBy("a").agg(F.min("b").alias("label"))
    minima = (
        canon.select(F.col("b").alias("a"))
        .distinct()
        .join(labels, "a", "left_anti")
        .withColumn("label", F.col("a"))
    )
    return labels.unionByName(minima).select(
        F.col("a").alias("id"), "label"
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    method: str = "label_prop",
) -> DataFrame:
    """Connected components over near-duplicate PAIRS → (doc_id,
    cluster_id), cluster_id = min doc id in the component — the step a
    training-data pipeline runs after pair generation to keep ONE document
    per duplicate cluster (drop everything where doc_id != cluster_id).

    Algorithm: hash-min label propagation — every node starts labeled with
    itself; each round every node takes the min of its own label and its
    neighbors' labels; converges in O(component diameter) rounds.
    Near-dup clusters have tiny diameters (pairs come from a similarity
    join, which is naturally clique-ish), so the loop ends after 2-3 rounds
    with an early-exit check; each round is one shuffle on node id plus a
    min-aggregate, with ``localCheckpoint`` truncating lineage exactly like
    the crawl loop. If the loop exhausts ``max_iter`` without converging
    (diameter > max_iter — an adversarial chain, not a similarity join) it
    RAISES rather than silently returning split clusters (advisor r03).

    ``method="star"`` switches to the alternating large-star/small-star
    rewrite (Kiveris et al.) — O(log n) rounds on any graph shape, the right
    tool for adversarial long-chain graphs at 10^10 edges; pinned equal to
    label propagation on clique-ish inputs and exercised on a chain fixture
    label propagation provably cannot finish.

    Only documents that appear in at least one pair are returned
    (singletons are their own cluster trivially and would dominate the
    output at corpus scale)."""
    if method == "star":
        canon = (
            pairs.select(
                F.greatest(
                    F.col(id_a).cast("long"), F.col(id_b).cast("long")
                ).alias("a"),
                F.least(
                    F.col(id_a).cast("long"), F.col(id_b).cast("long")
                ).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        return _star_components(canon, max_iter).select(
            F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
        )
    if method != "label_prop":
        raise ValueError(f"unknown method {method!r}: label_prop | star")
    edges = pairs.select(
        F.col(id_a).cast("long").alias("a"), F.col(id_b).cast("long").alias("b")
    )
    edges = (
        edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr = edges.join(
            labels, edges["b"] == labels["id"]
        ).select(F.col("a").alias("id"), "label")
        new_labels = (
            labels.unionByName(nbr)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"duplicate_clusters(label_prop) did not converge in {max_iter} "
            f"rounds — component diameter exceeds the round budget, labels "
            f"would be silently WRONG (split clusters). Use method='star' "
            f"(O(log n) rounds) for long-chain graphs."
        )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )
