"""End-to-end near-duplicate pipeline: candidates -> verify -> clusters.

The missing last step of every training-data dedup run (driver mandate
SURVEY.md §2.6): LSH produces candidate *pairs*, the exact verifier
scores them, but a usable dedup needs *clusters* — connected components
over the verified pair graph — and one keeper per cluster.

* verify_candidates     — exact Jaccard on candidate pairs only. The
  pair set is LSH output (tiny vs the corpus), so each pair's
  intersection is computed with ``array_intersect`` on the two docs'
  shingle sets — a narrow per-row expression after two hash joins on
  doc id; NO inverted-index self-join is re-run here.
* connected_components  — iterative min-label propagation (hash-min):
  each round every node adopts the smallest label among itself and its
  neighbors; converges in O(graph diameter) rounds. Near-dup clusters
  are small and dense (diameter rarely above 2-3), so 3-5 rounds close
  real corpora. Each round is one shuffle-join + groupBy; intermediate
  results are persisted and lineage is truncated with localCheckpoint
  so the plan does not grow with the iteration count.
* dedup_clusters        — the composed pipeline; output one row per
  clustered doc with its cluster id (= min doc id in the component)
  and keeper flag.

Scale: the iterative join is over the *verified-pair* graph — orders of
magnitude smaller than the corpus. For pathological chain-shaped graphs
(diameter ~ n) the hash-min rounds degrade — template pages that drift
one token per generation DO produce long chains at corpus scale — so
:func:`connected_components` escalates automatically: after
``max_iter`` hash-min rounds it switches to alternating
large-star/small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14), which contracts any graph in
O(log^2 n) rounds with the same join-shape per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trendmachine_spark.extensions.dedup import (
    SHINGLE_K,
    gram_array,
    minhash_near_dup,
)


def shingle_sets(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", k: int = SHINGLE_K) -> DataFrame:
    """(id, sharr, n_sh) — per-doc distinct shingle array; narrow map."""
    sharr = F.array_distinct(gram_array(text_col, k))
    return docs.select(
        F.col(id_col), sharr.alias("sharr")
    ).withColumn("n_sh", F.size("sharr"))


def verify_candidates(candidates: DataFrame, docs: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      min_jaccard: float = 0.8) -> DataFrame:
    """(id_a, id_b, jaccard) for candidate pairs with exact jaccard >= t.

    jaccard = |A ∩ B| / |A ∪ B| over full distinct-shingle sets — exact
    integer ratio, bit-identical across engines. Two hash joins bring
    the shingle arrays to the (small) pair set; the intersection size is
    a narrow array op, so the verifier never touches non-candidate rows.
    """
    sets = shingle_sets(docs, text_col, id_col)
    a = sets.select(F.col(id_col).alias("id_a"), F.col("sharr").alias("_sa"),
                    F.col("n_sh").alias("_na"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("sharr").alias("_sb"),
                    F.col("n_sh").alias("_nb"))
    inter = F.size(F.array_intersect("_sa", "_sb"))
    return (
        candidates.join(a, "id_a").join(b, "id_b")
        .withColumn("_ni", inter)
        .withColumn(
            "jaccard",
            F.col("_ni").cast("double") / (F.col("_na") + F.col("_nb") - F.col("_ni")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every node connects its LARGER neighbors to
    the smallest node of its closed neighborhood. Input/output: directed
    (u, v) edge list covering both directions of every undirected edge.

    Shape: one groupBy(u) for the neighborhood minimum + one hash join
    back — no driver-side data, per-round cost linear in |E|.
    """
    mins = edges.groupBy("u").agg(F.min("v").alias("_mv"))
    mins = mins.select("u", F.least("u", "_mv").alias("_m"))
    out = (
        edges.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("_a"), F.col("_m").alias("_b"))
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
    )
    # re-symmetrize for the next grouping
    return out.select(F.col("_a").alias("u"), F.col("_b").alias("v")).unionByName(
        out.select(F.col("_b").alias("u"), F.col("_a").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: every node connects its SMALLER-or-equal
    neighbors (and itself) to the smallest of them. Input: symmetric
    directed edges; output: canonical (hi=u, lo=v) star edges, deduped.
    """
    canon = edges.filter(F.col("u") > F.col("v"))
    mins = canon.groupBy("u").agg(F.min("v").alias("_m"))
    joined = canon.join(mins, "u")
    out = (
        joined.select(F.col("v").alias("_a"), F.col("_m").alias("_b"))
        .unionByName(joined.select(F.col("u").alias("_a"), F.col("_m").alias("_b")))
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
    )
    return out.select(F.col("_a").alias("u"), F.col("_b").alias("v"))


def _star_components(edges: DataFrame, max_rounds: int = 64) -> DataFrame:
    """(node, cluster) via alternating large-star/small-star — converges
    in O(log^2 n) rounds on ANY graph shape (chains included), per round
    two groupBy+join passes over the current edge set.

    Convergence test: the canonical star edge set is stable — checked
    with a count + order-independent xor-of-hashes checksum (one scalar
    aggregate, nothing collected beyond two numbers).
    """
    cur = edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    cur = cur.filter(F.col("u") != F.col("v"))
    sym = cur.unionByName(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = sym.localCheckpoint(eager=True)

    def _sig(canon: DataFrame):
        row = canon.agg(
            F.count(F.lit(1)),
            F.expr("bit_xor(xxhash64(u, v))"),  # order-independent, no overflow
        ).collect()[0]
        return (row[0], row[1])

    prev_sig = None
    for _ in range(max_rounds):
        stars = _small_star(_large_star(sym)).localCheckpoint(eager=True)
        sig = _sig(stars)
        if sig == prev_sig:
            break
        prev_sig = sig
        sym = stars.unionByName(
            stars.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    else:
        raise RuntimeError(
            f"large-star/small-star did not converge in {max_rounds} rounds"
        )
    # converged: every canonical edge is (node, root-of-component)
    roots = stars.select(F.col("v").alias("node")).distinct().withColumn(
        "cluster", F.col("node")
    )
    members = stars.groupBy(F.col("u").alias("node")).agg(
        F.min("v").alias("cluster")
    )
    return members.unionByName(roots.join(members, "node", "left_anti"))


def connected_components(edges: DataFrame, max_iter: int = 8) -> DataFrame:
    """(node, cluster) — cluster = min node id reachable in the pair graph.

    Hash-min label propagation: labels start as the node's own id; each
    round a node adopts min(own label, neighbors' labels). Converged
    when no label changes (checked with a scalar count — no data is
    collected to the driver). Near-dup components are small and dense
    (diameter 2-3), so hash-min closes them in a handful of rounds; if
    ``max_iter`` rounds do NOT converge the graph has long chains
    (diameter > max_iter) and the routine ESCALATES to alternating
    large-star/small-star (:func:`_star_components`), which contracts
    chain graphs in O(log^2 n) rounds instead of O(diameter).
    """
    both = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    both = both.persist()
    labels = (
        both.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .persist()
    )
    try:
        for _ in range(max_iter):
            nbr = (
                both.join(labels, both.src == labels.node)
                .groupBy("dst")
                .agg(F.min("label").alias("_nl"))
            )
            new_labels = (
                labels.join(nbr, labels.node == nbr.dst, "left")
                .select(
                    "node",
                    F.least(F.col("label"), F.coalesce("_nl", "label")).alias("label"),
                )
                .localCheckpoint(eager=True)  # truncate lineage per round
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                return labels.select("node", F.col("label").alias("cluster"))
    finally:
        both.unpersist()
    # diameter exceeds the hash-min budget (chain-shaped graph):
    # escalate to the O(log^2 n) star contraction instead of failing
    return _star_components(edges)


def dedup_clusters(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", min_jaccard: float = 0.8) -> DataFrame:
    """LSH candidates -> exact-Jaccard verify -> connected components.

    Output: (doc_id, cluster_id, is_keeper) for every doc in a verified
    near-dup cluster; cluster_id = min doc id in the component, the
    keeper is that doc (deterministic smallest-id policy).
    """
    cands = minhash_near_dup(docs, text_col, id_col)
    verified = verify_candidates(cands, docs, text_col, id_col, min_jaccard)
    comps = connected_components(verified)
    return comps.select(
        F.col("node").alias("doc_id"),
        F.col("cluster").alias("cluster_id"),
        (F.col("node") == F.col("cluster")).cast("long").alias("is_keeper"),
    )


def semantic_keepers(emb: DataFrame, n_cells: int | None = 16,
                     min_cosine: float = 0.3) -> DataFrame:
    """End-to-end SemDeDup: semantic near-dup pairs -> connected
    components -> deterministic keeper per semantic cluster.

    Output: (vec_id, cluster_id, is_keeper) for every vector in a
    semantic-duplicate cluster; cluster_id = min vec id in the
    component, keeper = that vector (the same smallest-id policy as
    :func:`dedup_clusters`, making "drop non-keepers" a single
    anti-join for the corpus pipeline).

    Scale inherits its stages: zero-shuffle cell assignment +
    cell-partitioned pair join (see ``similarity.semantic_dedup`` —
    ``n_cells=None`` applies the sqrt operating rule there), then
    hash-min components over the PAIR graph only — iteration
    touches verified duplicates, never the full corpus.
    """
    from trendmachine_spark.extensions.similarity import semantic_dedup

    pairs = semantic_dedup(emb, n_cells=n_cells, min_cosine=min_cosine)
    comps = connected_components(pairs.select("id_a", "id_b"))
    return comps.select(
        F.col("node").alias("vec_id"),
        F.col("cluster").alias("cluster_id"),
        (F.col("node") == F.col("cluster")).cast("long").alias("is_keeper"),
    )
