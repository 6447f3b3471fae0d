"""Similarity search over the ``embeddings`` table (array<float>).

Driver-mandated extension operators (SURVEY.md §2.6).

* quantize_embeddings — scale floats by 1000 and round to BIGINT. All
  downstream dot products are then *exact integer* arithmetic, which
  makes results order-independent and bit-identical across engines
  (a float dot product's value depends on accumulation order).
* brute_force_topk — exact quantized-cosine top-k: the oracle-checkable
  baseline. Scale: query side is broadcast; candidates never shuffle.
* srp_buckets / srp_probe_buckets / ann_topk — Signed Random
  Projection LSH: hyperplanes with entries in {-1, +1} derived from
  md5 bits (deterministic, no RNG), bucket = sign bit per plane.
  ann_topk searches within the query's probe buckets — its own plus
  ``n_flip`` lowest-margin single-bit flips (multi-probe LSH, round 5)
  — the 100 TB path (bucket count 2^planes; the candidate join is an
  equi-join on bucket, query side broadcast).
* ivf_topk / pq_topk / sq8_topk / ivfsq8_topk / ivfpq_topk /
  ivfpq_residual_topk / ivfpq_topk_from_index — the IVF (coarse cells),
  PQ (product codes, ADC lookup tables) and SQ8 (int8 per dimension)
  index families and their compositions; the ``*_rerank*`` paths add an
  exact second stage over the compressed scan's candidates.

Every top-k scorer shares one scan skeleton (REPOSE's distributed
top-k: a local top-k per partition, then one global merge); only the
per-batch scoring kernel is its own:

* :func:`_resolve_queries` — the query set ``vid < n_queries``, from a
  pre-resolved probe (clamped by value) or one driver collect;
* :func:`_scan_topk` — the ``mapInPandas`` scan that scores each Arrow
  batch with the kernel and keeps each task's per-query top-k in the
  rank window's total order (map-side prune);
* :func:`_rank_topk` — the final ``row_number`` over
  (query_id; score DESC, neighbor_id) and ``rank <= k``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

QUANT_SCALE = 1000


class _ProbeMatrix(tuple):
    """``(qids, Q, norm2)`` with the id bound it was resolved at.

    Unpacks exactly like the historical 3-tuple, but carries ``bound``
    so consumers that SEED from a probe (``pq_codebooks``) can verify
    the probe actually covers every id below their own cutoff — a
    probe resolved at a smaller bound would otherwise silently train
    fewer codebook entries than the collect path (round-12 advisory).
    ``bound`` is set by the constructor site; a plain 3-tuple (no
    bound attribute) skips the coverage check for back-compat."""

    bound: int  # annotation only — instances set it explicitly


def quantize_embeddings(emb: DataFrame) -> DataFrame:
    """(id, qvec: array<bigint>, norm2: bigint) — exact integer geometry."""
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * QUANT_SCALE, 0).cast("long"),
    )
    out = emb.select(F.col("vec_id").alias("vid"), q.alias("qvec"))
    norm2 = F.aggregate(
        F.transform(F.col("qvec"), lambda v: v * v),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return out.withColumn("norm2", norm2)


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _resolve_queries(qv: DataFrame | None, n_queries: int, probe):
    """The query set of every top-k scorer: ``(qids, Q, qn)`` for the
    ids below ``n_queries`` (int64 ids and quantized vectors,
    ``qn = sqrt(norm2)``), or ``None`` when there is none.

    ``probe`` — a pre-resolved ``(qids, Q, norm2)`` from
    :func:`load_probe_matrix` or :func:`probe_from_vectors` — is
    clamped BY VALUE (r12 ADVICE): a probe resolved at a larger id
    bound must not silently answer extra queries, and a positional
    ``[:n_queries]`` slice would assume vec_ids contiguous from 0 —
    with gaps among ids below the bound, position and value diverge
    and the probe path would answer a different query set than the
    collect path. Without a probe, the rows ``vid < n_queries`` of
    ``qv`` are collected (one Spark job at construction time) and
    sorted by id."""
    import numpy as np

    if probe is not None:
        qids, Q, n2 = probe
        qids = np.asarray(qids, dtype=np.int64)
        keep = qids < n_queries
        qids = qids[keep]
        Q = np.asarray(Q, dtype=np.int64)[keep]
        qn = np.sqrt(np.asarray(n2, dtype=np.float64)[keep])
    else:
        rows = sorted(qv.filter(F.col("vid") < n_queries).collect(),
                      key=lambda r: r["vid"])
        qids = np.array([r["vid"] for r in rows], dtype=np.int64)
        Q = np.array([r["qvec"] for r in rows], dtype=np.int64)
        qn = np.sqrt(np.array([r["norm2"] for r in rows], dtype=np.float64))
    return (qids, Q, qn) if len(qids) else None


def _empty_topk(spark, score_col: str) -> DataFrame:
    return spark.createDataFrame(
        [], f"query_id long, neighbor_id long, rank int, {score_col} double")


def _rank_topk(scored: DataFrame, k: int, score_col: str) -> DataFrame:
    """The final rank step of every top-k scorer: ``row_number`` over
    (query_id; ``score_col`` DESC, neighbor_id) and ``rank <= k`` — the
    one exchange of the scan, over task-pruned rows."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", score_col)
    )


def _scan_topk(scan: DataFrame, kernel, qids, k: int,
               score_col: str) -> DataFrame:
    """Score ``scan`` with ``kernel`` in one ``mapInPandas`` pass, keep
    each TASK's running top-k per query across its Arrow batches, and
    rank (:func:`_rank_topk`): the map-side prune of REPOSE's
    distributed top-k, shared by every scorer. The rank window then
    receives n_tasks × n_queries × k rows instead of one per scored
    pair — at 100 TB kilobytes instead of the corpus cross-joined with
    the probe set. Top-k of per-task top-ks is exact.

    ``kernel(pdf)`` — the index's own per-batch scoring, called on each
    non-empty batch — returns ``(qi, nids, scores)``, in one of two
    forms:

    * ``qi is None``: a corpus scan; ``scores`` is an (n_queries, rows)
      matrix of every query in ``qids`` against every row, and a
      query's own id is dropped here;
    * candidate rows (a join with the probe table): ``qi`` holds one
      query position into ``qids`` per row — or, when ``qids`` is
      None, the query id itself — with one score per row.

    The task-local selection uses the rank window's exact total order —
    score DESC, neighbor_id ASC — so results are bit-identical to the
    unpruned form. A zero-norm vector scores 0/0 = NaN, which crosses
    the Arrow boundary as NULL and sorts LAST under the window's DESC:
    the local key buries it the same way (+inf on the negated key), or
    a NaN could crowd a real candidate out of the task's k-quota."""

    def run(batches):
        import numpy as np
        import pandas as pd

        best = {}
        for pdf in batches:
            if not len(pdf):
                continue
            qi, nids, scores = kernel(pdf)
            if qi is None:
                groups = ((j, scores[j], nids != qids[j])
                          for j in range(len(qids)))
            else:
                groups = ((j, scores, qi == j) for j in np.unique(qi))
            for j, s, m in groups:
                c0, n0 = best.get(j, (np.empty(0), np.empty(0, dtype=np.int64)))
                c = np.concatenate([c0, s[m]])
                n = np.concatenate([n0, nids[m]])
                key = np.where(np.isnan(c), np.inf, -c)
                order = np.lexsort((n, key))[:k]
                best[j] = c[order], n[order]
        js = np.fromiter(best, dtype=np.int64, count=len(best))
        yield pd.DataFrame({
            "query_id": np.repeat(js if qids is None else qids[js],
                                  [len(n) for _, n in best.values()]),
            "neighbor_id": np.concatenate(
                [np.empty(0, dtype=np.int64)] + [n for _, n in best.values()]),
            score_col: np.concatenate(
                [np.empty(0)] + [c for c, _ in best.values()]),
        })

    scored = scan.mapInPandas(
        run, f"query_id long, neighbor_id long, {score_col} double")
    return _rank_topk(scored, k, score_col)


def load_probe_matrix(parquet_path: str, n_queries: int):
    """Driver-side probe set for :func:`brute_force_topk`: read the
    ``id < n_queries`` rows straight from parquet (pyarrow pushes the
    filter to row groups — no Spark job, no corpus scan) and quantize
    them BIT-IDENTICALLY to :func:`quantize_embeddings`.

    Why: the probe set is tiny by contract, but resolving it through a
    Spark ``.collect()`` costs a full job submission (~0.25 s measured
    at sf0.1 — SCALE.md round 7) plus the py4j chatter of building the
    plan, every time the query is constructed. At 100 TB the collect
    would also scan row groups across the whole corpus's driver-known
    splits; the pyarrow read touches only the file's matching row
    groups.

    Bit-identity: Spark computes ``round(cast(x as double) * 1000)``
    with java.math.BigDecimal HALF_UP. Here each float32 is widened to
    the same double, multiplied by the same double constant (one IEEE
    op either way), and rounded via decimal.Decimal ROUND_HALF_UP —
    away-from-zero on ties, identical to BigDecimal for |v| < 2^52
    (proved by the parity unit test against the Spark projection).

    Returns ``(qids, Q, norm2)`` int64 numpy arrays sorted by id, or
    ``None`` when no row matches (callers fall back to an empty
    result).
    """
    import pyarrow.dataset as ds

    tbl = ds.dataset(parquet_path).to_table(
        columns=["vec_id", "embedding"],
        filter=ds.field("vec_id") < n_queries,
    )
    if tbl.num_rows == 0:
        return None
    pm = probe_from_vectors(tbl["vec_id"].to_numpy(), tbl["embedding"].to_pylist())
    pm.bound = n_queries
    return pm


def probe_from_vectors(ids, vecs) -> "_ProbeMatrix":
    """Build a probe triple ``(qids, Q, norm2)`` from raw float
    vectors already in driver memory, quantized BIT-IDENTICALLY to
    :func:`quantize_embeddings` (the Decimal ROUND_HALF_UP path —
    see :func:`load_probe_matrix` for the parity argument). This is
    the arrival-time path: a serving layer receives query vectors
    over the wire (a streaming micro-batch, an RPC) rather than
    reading them back from the corpus parquet. No ``bound`` is set —
    consumers value-filter via ``_resolve_queries`` as always."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    ids = np.asarray(ids)
    order = np.argsort(ids)
    vecs = list(vecs)
    scale = float(QUANT_SCALE)
    one = Decimal(1)
    Q = np.array(
        [[int(Decimal(float(x) * scale).quantize(one, rounding=ROUND_HALF_UP))
          for x in vecs[i]] for i in order],
        dtype=np.int64,
    )
    qids = ids[order].astype(np.int64)
    norm2 = (Q * Q).sum(axis=1)
    return _ProbeMatrix((qids, Q, norm2))


def brute_force_topk(emb: DataFrame, n_queries: int = 10, k: int = 5,
                     probe=None) -> DataFrame:
    """Exact top-k quantized-cosine neighbors for the first ``n_queries`` ids.

    Output: query_id, neighbor_id, rank, cosine.

    SCALE: the query set is tiny by contract (a user probe set), so it
    ships to executors as a literal numpy matrix — like srp_buckets'
    hyperplane constant — and each corpus partition scores ALL queries
    in one Arrow-batched int64 matmul (``mapInPandas``). The corpus
    never shuffles before scoring, and each TASK emits only its own
    per-query top-k (:func:`_scan_topk`'s map-side prune, round 4).
    The matmul replaced a Catalyst ``F.aggregate(zip_with(...))`` dot
    product, which is interpreted per element (no codegen for
    higher-order functions) and measured 2.65 s vs 0.4 s on the x10
    corpus. Values are bit-identical: dots/norms are exact int64, and
    the cosine double divides the same exact integers in the same IEEE
    order as the SQL oracle.

    ``probe`` (round 7): pre-resolved ``(qids, Q, norm2)`` from
    :func:`load_probe_matrix` — skips the driver-side ``.collect()``
    job that otherwise resolves the query matrix at CONSTRUCTION time
    (a full corpus-scan job submission; the sf0.1 bench measured it as
    a +57% regression once builds moved inside the timed window).
    With a probe supplied, construction is pure plan-building — no
    Spark job until the caller's action.
    """
    import numpy as np

    qv = quantize_embeddings(emb)
    qs = _resolve_queries(qv, n_queries, probe)
    if qs is None:
        return _empty_topk(qv.sparkSession, "cosine")
    qids, Q, qn = qs

    def kernel(pdf):
        C = np.stack(pdf["qvec"].to_numpy()).astype(np.int64)   # (m, d)
        cn = np.sqrt(pdf["norm2"].to_numpy(dtype=np.float64))
        cos = (C @ Q.T) / (qn[None, :] * cn[:, None])           # exact int64 dots
        return None, pdf["vid"].to_numpy(dtype=np.int64), cos.T

    return _scan_topk(qv, kernel, qids, k, "cosine")


def _topk_scored(joined: DataFrame, k: int) -> DataFrame:
    """Ranked top-k (query_id, neighbor_id, rank, cosine) from joined
    candidate rows (columns: query_id, neighbor_id, q, qn, c, cn) via an
    Arrow-batched int64 einsum — replacing the per-row interpreted HOF
    dot, the same vectorization win as ``brute_force_topk``'s matmul
    (round 4: ``similarity_ann_lsh`` 4.45 s -> sub-second at ×10).
    Values are bit-identical to the Catalyst formulation: exact int64
    dots, correctly-rounded sqrts, same IEEE division order.
    """
    import numpy as np

    def kernel(pdf):
        Q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
        C = np.stack(pdf["c"].to_numpy()).astype(np.int64)
        cos = np.einsum("ij,ij->i", Q, C) / (
            np.sqrt(pdf["qn"].to_numpy(dtype=np.float64))
            * np.sqrt(pdf["cn"].to_numpy(dtype=np.float64))
        )
        return (pdf["query_id"].to_numpy(dtype=np.int64),
                pdf["neighbor_id"].to_numpy(dtype=np.int64), cos)

    return _scan_topk(joined.select("query_id", "neighbor_id", "q", "qn", "c", "cn"),
                      kernel, None, k, "cosine")


def srp_sign(plane: int, dim: int) -> int:
    """+1/-1 from bit 0 of md5('plane:dim') — deterministic, engine-portable
    (DuckDB: (('0x' || substr(md5(p || ':' || d), 32, 1))::INT % 2) * 2 - 1)."""
    import hashlib

    return (int(hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()[-1], 16) % 2) * 2 - 1


def _srp_matrix(dim: int, n_planes: int):
    """(dim, n_planes) ±1 hyperplane matrix, materialized driver-side
    and shipped as a literal constant (tiny: dim × planes int64)."""
    import numpy as np

    return np.array(
        [[srp_sign(p, i) for p in range(n_planes)] for i in range(dim)],
        dtype=np.int64,
    )


def srp_probe_buckets(qv: DataFrame, n_planes: int = 8,
                      n_flip: int = 0) -> DataFrame:
    """(vid, bucket) probe set per vector: its own SRP bucket plus
    ``n_flip`` additional buckets obtained by flipping, ONE AT A TIME,
    the bits whose hyperplane projection has the smallest magnitude —
    classic multi-probe LSH (Lv et al., VLDB 2007): a point near a
    hyperplane is nearly as likely to have neighbors on the other side,
    so low-|margin| flips recover most of the recall lost to bucket
    boundaries at a fraction of the cost of coarser buckets.

    Deterministic end to end: projections are exact int64 (same matmul
    as :func:`srp_buckets`), flip order is (|projection| ASC, plane ASC)
    — SQL-mirrorable, so queries built on this keep full value-hash
    oracles. ``n_flip=0`` degenerates to exactly :func:`srp_buckets`.
    Runs on the (small, broadcast-bound) query side only; emits
    1 + n_flip rows per vector, all buckets distinct by construction.
    """
    import numpy as np

    dim_row = qv.select(F.size("qvec").alias("d")).first()
    if dim_row is None or dim_row["d"] is None:
        return qv.select("vid", F.lit("").alias("bucket")).limit(0)
    S = _srp_matrix(dim_row["d"], n_planes)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["qvec"].to_numpy()).astype(np.int64)  # (m, d)
            proj = V @ S                                            # exact
            bits = proj > 0
            vids, out = [], []
            planes = np.arange(n_planes)
            for r in range(len(pdf)):
                row = bits[r]
                base = "".join("1" if b else "0" for b in row)
                vids.append(int(pdf["vid"].iloc[r]))
                out.append(base)
                # flip the n_flip lowest-|margin| planes, one at a time
                order = np.lexsort((planes, np.abs(proj[r])))[:n_flip]
                for p in order:
                    flipped = (
                        base[:p] + ("0" if row[p] else "1") + base[p + 1:]
                    )
                    vids.append(int(pdf["vid"].iloc[r]))
                    out.append(flipped)
            yield pd.DataFrame(
                {
                    "vid": pd.Series(vids, dtype="int64"),
                    "bucket": pd.Series(out, dtype="object"),
                }
            )

    return qv.select("vid", "qvec").mapInPandas(run, "vid long, bucket string")


def srp_buckets(qv: DataFrame, n_planes: int = 8) -> DataFrame:
    """(vid, bucket) — bucket = concat of sign bits across hyperplanes.

    ZERO-shuffle map: the ±1 hyperplane matrix is deterministic (bit 0
    of md5('plane:dim')), materialized once driver-side and shipped as
    a literal numpy constant; each task projects its whole Arrow batch
    in ONE int64 matmul (round 4 — replacing the per-plane interpreted
    ``aggregate(zip_with(...))`` folds, the same vectorization win as
    ``brute_force_topk``). Projections are exact integer arithmetic,
    so bucket ids are bit-identical to the Catalyst formulation and the
    SQL oracle; ties (projection == 0) map to bit 0.
    """
    import numpy as np

    dim_row = qv.select(F.size("qvec").alias("d")).first()
    if dim_row is None or dim_row["d"] is None:
        return qv.select("vid", F.lit("").alias("bucket")).limit(0)
    S = _srp_matrix(dim_row["d"], n_planes)  # (d, planes)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["qvec"].to_numpy()).astype(np.int64)  # (m, d)
            bits = (V @ S) > 0                                     # exact int64
            buckets = [
                "".join("1" if b else "0" for b in row) for row in bits
            ]
            yield pd.DataFrame(
                {
                    "vid": pdf["vid"].astype("int64"),
                    "bucket": pd.Series(buckets, dtype="object"),
                }
            )

    return qv.select("vid", "qvec").mapInPandas(run, "vid long, bucket string")


def ann_topk(emb: DataFrame, n_queries: int = 10, k: int = 5, n_planes: int = 8,
             n_flip: int = 0) -> DataFrame:
    """Approximate top-k: exact cosine ranking restricted to the query's
    SRP probe buckets (own bucket + ``n_flip`` lowest-margin single-bit
    flips — multi-probe LSH; ``n_flip=0`` is single-probe). Recall < 1
    by design; deterministic output.

    No candidate-pair dedup is needed: each corpus vector has exactly
    ONE bucket row and a query's probe buckets are distinct, so a
    (query, neighbor) pair can arise from at most one joined row — the
    map-side top-k prune and final rank window stay duplicate-free.
    """
    qv = quantize_embeddings(emb)
    buckets = srp_buckets(qv, n_planes)
    qonly = qv.filter(F.col("vid") < n_queries)
    probes = srp_probe_buckets(qonly, n_planes, n_flip)
    queries = qonly.join(probes, "vid").select(
        F.col("vid").alias("query_id"), F.col("qvec").alias("q"),
        F.col("norm2").alias("qn"), "bucket",
    )
    cands = qv.join(buckets, "vid").select(
        F.col("vid").alias("neighbor_id"), F.col("qvec").alias("c"),
        F.col("norm2").alias("cn"), "bucket",
    )
    joined = (
        F.broadcast(queries)
        .join(cands, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return _topk_scored(joined, k)


def _grouped_gram_pairs(grouped: DataFrame, group_col: str, min_cosine: float,
                        group_type: str = "long", block: int = 4096) -> DataFrame:
    """Score every within-group pair by exact quantized cosine via a
    BLOCKED int64 gram matmul — the shared pair stage of
    :func:`semantic_dedup` (cells) and
    :func:`embedding_near_dup_bucketed` (SRP buckets).

    ``grouped`` needs (vid, qvec, norm2, <group_col>). One group lives
    on one executor; the gram matrix is computed in row blocks so peak
    scratch is block × m doubles regardless of group size. Rows sort by
    vid first, and only strict-upper-triangle (col > row) positions are
    kept, so id_a < id_b without a separate filter. Values are
    bit-identical to the SQL mirror: exact int64 dots, cosine =
    dot / (sqrt(na) * sqrt(nb)) in the same IEEE order. The equi-join +
    ``F.aggregate(zip_with(...))`` formulation this replaces evaluated
    the dot interpreted per pair — 81.8 s vs 1.9 s on the ×10 corpus
    for the cell variant (350,600 pairs); DuckDB pays the same
    interpreted price on the mirror SQL (285.7 s, SCALE.md).
    """
    import numpy as np

    schema = f"id_a long, id_b long, {group_col} {group_type}, cosine double"
    empty_group_dtype = "object" if group_type == "string" else "int64"

    def score(pdf):
        import pandas as pd

        pdf = pdf.sort_values("vid", kind="mergesort")
        m = len(pdf)
        out = []
        if m >= 2:
            ids = pdf["vid"].to_numpy(dtype=np.int64)
            V = np.stack(pdf["qvec"].to_numpy()).astype(np.int64)
            qn = np.sqrt(pdf["norm2"].to_numpy(dtype=np.float64))
            g = pdf[group_col].iloc[0]
            for s in range(0, m, block):
                e = min(s + block, m)
                cos = (V[s:e] @ V.T) / (qn[s:e, None] * qn[None, :])
                # strict upper triangle of the global matrix: col > row
                keep = (cos >= min_cosine) & (
                    np.arange(m)[None, :] > np.arange(s, e)[:, None]
                )
                ri, cj = np.nonzero(keep)
                if len(ri):
                    out.append(pd.DataFrame({
                        "id_a": ids[ri + s], "id_b": ids[cj],
                        group_col: g, "cosine": cos[ri, cj],
                    }))
        return (
            pd.concat(out) if out else
            pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                          "id_b": pd.Series(dtype="int64"),
                          group_col: pd.Series(dtype=empty_group_dtype),
                          "cosine": pd.Series(dtype="float64")})
        )

    return grouped.groupBy(group_col).applyInPandas(score, schema)


def embedding_near_dup(emb: DataFrame, min_cosine: float = 0.95) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >= t).

    Exact quantized-cosine over all pairs — the oracle-checkable
    baseline for embedding dedup. At 100 TB the same predicate runs
    over SRP-bucket candidates (srp_buckets equi-join) instead of the
    full cross product; see ann_topk for the bucketed pattern.
    """
    qv = quantize_embeddings(emb)
    a = qv.select(F.col("vid").alias("id_a"), F.col("qvec").alias("qa"), F.col("norm2").alias("na"))
    b = qv.select(F.col("vid").alias("id_b"), F.col("qvec").alias("qb"), F.col("norm2").alias("nb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    scored = pairs.withColumn(
        "cosine",
        _dot(F.col("qa"), F.col("qb")).cast("double")
        / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))),
    )
    return scored.filter(F.col("cosine") >= min_cosine).select("id_a", "id_b", "cosine")


def embedding_near_dup_bucketed(emb: DataFrame, min_cosine: float = 0.95,
                                n_planes: int = 8) -> DataFrame:
    """Embedding-cosine near-dup, SRP-bucketed — the production path.

    Candidate pairs come from an EQUI-join on the SRP bucket (2^n_planes
    buckets; each vector compares only within its bucket), then the
    exact quantized-cosine predicate filters them. Output is a strict
    subset of ``embedding_near_dup(min_cosine)``: precision is exact
    (same cosine, same threshold), recall is traded — genuinely similar
    pairs split across buckets are missed; lower ``n_planes`` (or OR-ing
    several independent plane sets) raises recall.

    Scale: all-pairs is O(n²) rows through a BroadcastNestedLoop; this
    is one shuffle on the bucket whose pair cost is Σ(bucket size²) —
    with balanced buckets, n²/2^n_planes.

    Shape (round-3 rewrite, ONE exchange): bucket bits come from a
    ``mapInPandas`` matmul against the literal ±1 hyperplane matrix
    (the signs are md5-derived constants, so ``V @ S > 0`` is the
    exact integer projection — no per-row interpreted fold, no
    vid self-join to re-attach buckets), then the shared
    :func:`_grouped_gram_pairs` scores each bucket's pairs as a
    blocked gram matmul. The previous bucket equi-join with an
    interpreted per-pair dot measured 6.66 s on the ×10 corpus;
    this shape 1.51 s. Values bit-identical (same exact integers,
    same IEEE division; ties proj == 0 -> bit '0' as in srp_sign).
    """
    import numpy as np

    qv = quantize_embeddings(emb)
    dim_row = qv.select(F.size("qvec").alias("d")).first()
    if dim_row is None or dim_row["d"] is None:
        return qv.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine double")
    S = _srp_matrix(dim_row["d"], n_planes)  # (d, planes)
    weights = np.array([1 << (n_planes - 1 - p) for p in range(n_planes)],
                       dtype=np.int64)

    def bucketize(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["qvec"].to_numpy()).astype(np.int64)
            bits = (V @ S) > 0                          # (m, planes) exact ints
            codes = (bits.astype(np.int64) * weights[None, :]).sum(axis=1)
            out = pdf[["vid", "qvec", "norm2"]].copy()
            # same bucket STRING as srp_buckets: '1'/'0' per plane, MSB first
            out["bucket"] = [format(c, f"0{n_planes}b") for c in codes]
            yield out

    qvb = qv.mapInPandas(
        bucketize, "vid long, qvec array<long>, norm2 long, bucket string")
    return _grouped_gram_pairs(qvb, "bucket", min_cosine,
                               group_type="string").select("id_a", "id_b", "cosine")


def _cell_indexer(C, cn):
    """Driver-side factory of IVF cell assignment against the centroid
    matrix ``C`` with norms ``cn``: the returned function maps int64
    rows to the position of their cell, argmax affinity
    ``dot(v, c) / |c|`` (exact int64 dots, one IEEE divide). ``argmax``
    returns the FIRST max = the lowest cell, the same tie-break as the
    SQL mirror's ``ORDER BY _aff DESC, cell``. Nested, so a worker
    closure that captures it ships it by value and never imports this
    package."""

    def cell_index(V):
        return ((V @ C.T) / cn[None, :]).argmax(axis=1)

    return cell_index


def _assign_cells(qv: DataFrame, cells, C, cn) -> DataFrame:
    """argmax-affinity cell assignment (:func:`_cell_indexer`) against a
    literal centroid matrix — one Arrow-batched matmul per partition,
    zero shuffles."""
    cell_index = _cell_indexer(C, cn)

    def assign(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["qvec"].to_numpy()).astype(np.int64)   # (m, d)
            pdf = pdf[["vid", "qvec", "norm2"]].copy()
            pdf["cell"] = cells[cell_index(V)]
            yield pdf

    return qv.mapInPandas(
        assign, "vid long, qvec array<long>, norm2 long, cell long")


def ivf_centroids(qv: DataFrame, n_cells: int = 16, refine: int = 1):
    """Deterministic IVF centroids as driver-side numpy arrays
    ``(cells, C, cn)`` — seeded by the quantized vectors of the
    ``n_cells`` lowest ids, then ``refine`` Lloyd iterations (round 6;
    0 = the historical untrained seeds).

    Each Lloyd pass is exact and SQL-mirrorable end to end: members
    are assigned by the argmax-affinity rule, the new centroid
    component is ``floor(sum / count)`` — per-dimension SUMS are exact
    int64 (associative, partition-order-independent), the single
    division is correctly-rounded IEEE on exactly-representable
    operands, and floor is deterministic — and a cell that captured no
    members keeps its seed vector, so cell ids stay stable. Refined
    components have the same ~QUANT_SCALE magnitude as raw quantized
    vectors, keeping every downstream dot/norm in the int64-safe
    regime.

    SCALE: the member-sum pass is per-partition numpy accumulation
    inside ``mapInPandas`` (partitions × cells × dim partial rows — no
    corpus explode) followed by one tiny map-combined aggregation;
    the collected result is n_cells × dim values. Returns ``None``
    when the corpus holds no seed vectors.
    """
    import numpy as np

    seeds = _resolve_queries(qv, n_cells, None)
    if seeds is None:
        return None
    cells, C, cn = seeds                                            # C: (c, d)
    dim = C.shape[1]
    cell_index = {int(c): i for i, c in enumerate(cells)}

    for _ in range(refine):
        assigned = _assign_cells(qv, cells, C, cn)

        def partials(batches):
            import numpy as np
            import pandas as pd

            sums: dict[int, "np.ndarray"] = {}
            counts: dict[int, int] = {}
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.stack(pdf["qvec"].to_numpy()).astype(np.int64)
                cl = pdf["cell"].to_numpy()
                for c in np.unique(cl):
                    m = cl == c
                    sums[int(c)] = sums.get(int(c), 0) + V[m].sum(axis=0)
                    counts[int(c)] = counts.get(int(c), 0) + int(m.sum())
            rows = []
            for c, s in sums.items():
                rows.append((c, -1, counts[c]))
                rows.extend((c, p, int(s[p])) for p in range(dim))
            yield pd.DataFrame(rows, columns=["cell", "pos", "val"])

        totals = (
            assigned.mapInPandas(partials, "cell long, pos int, val long")
            .groupBy("cell", "pos")
            .agg(F.sum("val").alias("val"))
            .collect()
        )
        sums = np.zeros((len(cells), dim), dtype=np.int64)
        counts = np.zeros(len(cells), dtype=np.int64)
        for r in totals:
            i = cell_index[r["cell"]]
            if r["pos"] < 0:
                counts[i] = r["val"]
            else:
                sums[i, r["pos"]] = r["val"]
        refined = C.copy()
        nonempty = counts > 0
        # floor(sum/count) via IEEE double division — operands are
        # exactly representable, so both engines round identically
        refined[nonempty] = np.floor(
            sums[nonempty] / counts[nonempty, None]
        ).astype(np.int64)
        C = refined
        cn = np.sqrt((C.astype(np.float64) ** 2).sum(axis=1))
    return cells, C, cn


def ivf_assign(qv: DataFrame, n_cells: int = 16, refine: int = 1) -> DataFrame:
    """IVF coarse quantizer with deterministic, Lloyd-refined centroids.

    Centroids come from :func:`ivf_centroids` (seeds = the ``n_cells``
    lowest ids, ``refine`` exact Lloyd iterations — round 6 default 1;
    pass 0 for the historical untrained seeds); each vector gets its
    argmax-affinity cell (affinity = exact int64 dot / sqrt(centroid
    norm); ties -> lowest cell).

    SCALE: the centroid table is ``n_cells`` tiny rows, so — like
    ``brute_force_topk``'s query matrix — it ships as a literal int64
    numpy matrix and each corpus partition computes ALL affinities in
    one Arrow-batched matmul + argmax (``mapInPandas``). ZERO corpus
    shuffles in the assignment itself; each Lloyd pass adds one tiny
    partial-sums aggregation (see :func:`ivf_centroids`).
    """
    cents = ivf_centroids(qv, n_cells, refine)
    if cents is None:
        return qv.select("vid", "qvec", "norm2").withColumn(
            "cell", F.lit(None).cast("long"))
    return _assign_cells(qv, *cents)


def ivf_topk(emb: DataFrame, n_queries: int = 10, k: int = 5, n_cells: int = 16,
             n_probe: int = 1, refine: int = 1) -> DataFrame:
    """IVF approximate top-k: exact cosine ranking within the query's
    ``n_probe`` best cells. The 100 TB path partitions the corpus by
    cell; a query touches n_probe/n_cells of the data. Probe ranking
    uses the SAME (Lloyd-refined) centroids as the assignment."""
    qv = quantize_embeddings(emb)
    spark = qv.sparkSession
    cent = ivf_centroids(qv, n_cells, refine)
    if cent is None:
        return _empty_topk(spark, "cosine")
    cells, Cm, cnm = cent
    assigned = _assign_cells(qv, cells, Cm, cnm)
    cents = spark.createDataFrame(
        [(int(c), [int(x) for x in Cm[i]], int((Cm[i].astype("int64") ** 2).sum()))
         for i, c in enumerate(cells)],
        "cell long, cvec array<long>, cn long",
    )
    queries = assigned.filter(F.col("vid") < n_queries)
    # probe cells per query: top-n_probe centroid affinities
    qprobe = queries.select("vid", "qvec", "norm2").crossJoin(F.broadcast(cents)).withColumn(
        "_aff",
        _dot(F.col("qvec"), F.col("cvec")).cast("double") / F.sqrt(F.col("cn").cast("double")),
    )
    from pyspark.sql import Window
    wp = Window.partitionBy("vid").orderBy(F.col("_aff").desc(), F.col("cell"))
    probes = (
        qprobe.withColumn("_rk", F.row_number().over(wp))
        .filter(F.col("_rk") <= n_probe)
        .select(F.col("vid").alias("query_id"), F.col("qvec").alias("q"),
                F.col("norm2").alias("qn"), "cell")
    )
    cands = assigned.select(
        F.col("vid").alias("neighbor_id"), F.col("qvec").alias("c"),
        F.col("norm2").alias("cn"), "cell",
    )
    joined = (
        F.broadcast(probes)
        .join(cands, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return _topk_scored(joined, k)


def semantic_cells_for(n: int) -> int:
    """Operating rule for SemDeDup's cell count (round 12 — the r11
    verdict's mandate): the power of two nearest ``sqrt(n)``, clamped
    to [16, 4096].

    Why sqrt: with ~balanced cells of size n/c, the within-cell exact
    pair stage costs Σ(n/c)²·c = n²/c vector dots while the assignment
    matmul costs n·c — the two terms balance (total ~2·n^1.5·d,
    minimal for a single-level quantizer) at c = sqrt(n). A FIXED c
    makes the pair stage grow as n² — the superlinear knee the r11
    scaled measurement caught at n_cells=16 (SEMANTIC_CELLS.json
    quantifies both curves). The paper's own remedy is the same knob
    (~100k clusters for ~5 B images — Abbas et al. 2023 §3).

    Power-of-two snapping keeps the trained-structure space small and
    reproducible; the floor of 16 preserves the historical default
    (and the pinned oracles) for every corpus below ~512 vectors —
    both driver-correctness SFs land there by construction.
    """
    import math

    if n <= 0:
        return 16
    return max(16, min(4096, 2 ** round(math.log2(math.sqrt(n)))))


def semantic_dedup(emb: DataFrame, n_cells: int | None = 16,
                   min_cosine: float = 0.3) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: IVF-cell partition, then
    exact within-cell cosine (Abbas et al. 2023, "SemDeDup: Data-
    efficient learning at web-scale through semantic deduplication").

    The paper clusters embeddings (k-means), then marks pairs above a
    cosine threshold *within each cluster* as semantic duplicates —
    the cluster stage is what makes web-scale pairwise feasible. Here
    the cluster assignment is :func:`ivf_assign` (deterministic
    centroids — no RNG, so the result is exactly reproducible and
    SQL-mirrorable), and the pair stage is an equi-join on ``cell``
    with exact integer-quantized cosine.

    Output: (id_a, id_b, cell, cosine) with id_a < id_b, cosine >=
    ``min_cosine`` — a subset of :func:`embedding_near_dup`'s exact
    pairs restricted to same-cell pairs (tested). Feed into
    ``extensions.clusters`` for keeper selection like the other
    near-dup candidate generators.

    Shape: ONE exchange — ``groupBy(cell).applyInPandas`` scores each
    cell's pairs as a BLOCKED int64 gram matmul (the paper's own
    within-cluster pairwise, literally). The first formulation — a
    cell self-equi-join with an ``F.aggregate(zip_with(...))`` cosine
    — planned fine but evaluated the higher-order dot INTERPRETED per
    pair: 81.8 s on the ×10 corpus vs **1.9 s** for this matmul (the
    same interpreted-HOF trap ``brute_force_topk`` and
    ``text_profile`` hit in earlier rounds). Values are bit-identical:
    exact int64 dots, cosine = dot / (sqrt(na)*sqrt(nb)) in the same
    IEEE order as the SQL oracle.

    At 100 TB: within-cell pairwise is O(sum cell_size^2) — ``n_cells``
    must grow with the corpus (the paper uses ~100k clusters for ~5 B
    images). Pass ``n_cells=None`` to apply the
    :func:`semantic_cells_for` sqrt-rule from the corpus count (one
    cheap count job; callers that know the count pass the rule's value
    directly — the registry does, from parquet metadata). One executor
    holds one cell's vectors (m × dim int64); the gram matrix itself
    is computed in row blocks of ``block`` so peak scratch is
    block × m doubles regardless of cell size. Cell assignment is
    zero-shuffle (see :func:`ivf_assign`); a pathologically hot cell
    means the centroid set no longer partitions the space — raise
    n_cells (re-centroid), the same remedy the paper applies.
    """
    qv = quantize_embeddings(emb)
    if n_cells is None:
        n_cells = semantic_cells_for(qv.count())
    assigned = ivf_assign(qv, n_cells)
    return _grouped_gram_pairs(assigned, "cell", min_cosine)


def embedding_outliers(emb: DataFrame, label_col: str = "label",
                       threshold: float = 0.0) -> DataFrame:
    """Cosine of every vector to its label's (unnormalized) centroid —
    the mislabeled/outlier detector a labeled embedding corpus runs
    before training on it.

    Exactness trick: cosine is scale-invariant, so the centroid is the
    per-dimension SUM vector (exact bigint over quantized components),
    never the mean — every aggregation in the plan sums integers
    (associative, partition-order-independent), and the only float ops
    are the final sqrt/divide chain. A mean-centroid formulation would
    sum doubles across partitions and lose cross-engine bit-equality.
    ``is_outlier`` flags cosine < ``threshold``.

    Shape: posexplode to (label, pos, v) -> centroid-sum agg (labels x
    dims rows, BROADCAST back) -> per-vector dot/norm agg. The explode
    costs rows x dims — the price of keeping per-dim sums exact and
    declarative; at corpus scale this is one map-combined agg + one
    broadcast join + one per-vector agg, no corpus self-join anywhere.
    """
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * QUANT_SCALE, 0).cast("long"),
    )
    e = emb.select(
        F.col("vec_id"), F.col(label_col).alias("_lbl"), q.alias("_q")
    ).select(
        "vec_id", "_lbl", F.posexplode("_q").alias("_pos", "_v")
    )
    # the label norm rides the centroid table as a window column so the
    # exploded corpus is scanned exactly twice (centroid agg + dot agg),
    # not three times — a separate cnorm aggregation would re-derive the
    # whole centroid lineage as a third branch
    from pyspark.sql import Window

    cent = (
        e.groupBy("_lbl", "_pos")
        .agg(F.sum("_v").alias("_s"))
        .withColumn(
            "_c2",
            F.sum(F.col("_s") * F.col("_s")).over(Window.partitionBy("_lbl")),
        )
    )
    dots = (
        e.join(F.broadcast(cent), ["_lbl", "_pos"])
        .groupBy("vec_id", "_lbl", "_c2")
        .agg(
            F.sum(F.col("_v") * F.col("_s")).alias("_dot"),
            F.sum(F.col("_v") * F.col("_v")).alias("_n2"),
        )
    )
    cos = F.col("_dot").cast("double") / (
        F.sqrt(F.col("_n2").cast("double")) * F.sqrt(F.col("_c2").cast("double"))
    )
    return dots.select(
        "vec_id",
        F.col("_lbl").alias("label"),
        cos.alias("cos_centroid"),
        (cos < threshold).cast("long").alias("is_outlier"),
    )


# ------------------------------------------------------------------ PQ / ADC

#: product-quantization defaults for the 64-dim embeddings table:
#: 8 subspaces x 8 dims, 16 codes per subspace -> a vector compresses
#: from 64 x 8 B (raw int64 qvec) to 8 codes + one bigint norm, the
#: 64x memory collapse that lets a 100 TB corpus's ANN index live in
#: executor memory (Jegou, Douze, Schmid: "Product Quantization for
#: Nearest Neighbor Search", TPAMI 2011).
PQ_SUBSPACES = 8
PQ_CODES = 16


def pq_codebooks(qv: DataFrame, n_sub: int = PQ_SUBSPACES,
                 n_codes: int = PQ_CODES, refine: int = 1,
                 seed_probe=None):
    """Deterministic per-subspace PQ codebooks as a driver-side numpy
    int64 array of shape ``(n_sub, K, dim // n_sub)`` — trained exactly
    like :func:`ivf_centroids` but per subspace and under L2 (the PQ
    objective): seeds are the subvectors of the ``n_codes`` lowest ids
    (code j = the j-th lowest seed id, densely renumbered so the code
    space is 0..K-1 even when ids are sparse), then ``refine`` exact
    Lloyd iterations — assignment is argmin squared L2 distance with
    ties to the LOWEST code (np.argmin first-occurrence == the SQL
    mirror's ``ORDER BY dist, code``), the update is
    ``floor(sum / count)`` per component (int64 sums exact; one IEEE
    division on exactly-representable operands; floor deterministic),
    and a code that captured no members keeps its seed subvector.

    SCALE: each Lloyd pass is one ``mapInPandas`` over the corpus
    emitting per-partition (subspace, code, pos, val) partial sums —
    at most ``n_sub * K * (ds + 1)`` rows per partition regardless of
    corpus size — followed by one tiny map-combined aggregation; the
    collected result is ``n_sub * K * ds`` values. Integer safety:
    |component| <= ~5 * QUANT_SCALE, so a squared subspace distance is
    <= ds * (2 * 5000)^2 ~ 8e8 and per-dimension sums stay far inside
    int64. Returns ``None`` when the corpus holds no seed vectors.

    ``seed_probe``: pre-resolved ``(ids, Q, norm2)`` from
    :func:`load_probe_matrix` at ``n_codes`` — skips the seed-collect
    Spark job (a full corpus scan submission, ~0.4 s of the measured
    PQ walls at x20; the quantization is bit-identical by the probe
    parity test). The Lloyd passes still run distributed: training is
    data-dependent by definition.
    """
    import numpy as np

    if seed_probe is not None:
        # the probe must have been resolved at a bound covering every
        # seed id, else it silently trains fewer codebook entries than
        # the collect path and the bit-identity contract breaks
        bound = getattr(seed_probe, "bound", None)
        if bound is not None and bound < n_codes:
            raise ValueError(
                f"seed_probe resolved at id bound {bound} < n_codes="
                f"{n_codes}: probe does not cover the seed set")
    seeds = _resolve_queries(qv, n_codes, seed_probe)
    if seeds is None:
        return None
    S = seeds[1]                                                    # (K', d)
    dim = S.shape[1]
    if dim % n_sub:
        raise ValueError(
            f"embedding dim {dim} not divisible by n_sub={n_sub}")
    ds = dim // n_sub
    cb = np.stack([S[:, m * ds:(m + 1) * ds] for m in range(n_sub)])
    n_k = cb.shape[1]

    for _ in range(refine):
        cb_pass = cb  # bind the CURRENT books into the closure

        def partials(batches):
            import numpy as np
            import pandas as pd

            sums = np.zeros((n_sub, n_k, ds), dtype=np.int64)
            counts = np.zeros((n_sub, n_k), dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.stack(pdf["qvec"].to_numpy()).astype(np.int64)
                # expanded-form assignment (r14 optimization round) —
                # bit-identical codes incl. ties, see _pq_assign
                codes = _pq_assign(V, cb_pass)
                for m in range(n_sub):
                    sub = V[:, m * ds:(m + 1) * ds]
                    code = codes[:, m]
                    for j in np.unique(code):
                        msk = code == j
                        sums[m, j] += sub[msk].sum(axis=0)
                        counts[m, j] += int(msk.sum())
            rows = []
            for m in range(n_sub):
                for j in range(n_k):
                    if counts[m, j]:
                        rows.append((m, j, -1, int(counts[m, j])))
                        rows.extend(
                            (m, j, p, int(sums[m, j, p])) for p in range(ds))
            yield pd.DataFrame(rows, columns=["m", "code", "pos", "val"])

        totals = (
            qv.mapInPandas(partials, "m int, code int, pos int, val long")
            .groupBy("m", "code", "pos")
            .agg(F.sum("val").alias("val"))
            .collect()
        )
        sums = np.zeros((n_sub, n_k, ds), dtype=np.int64)
        counts = np.zeros((n_sub, n_k), dtype=np.int64)
        for r in totals:
            if r["pos"] < 0:
                counts[r["m"], r["code"]] = r["val"]
            else:
                sums[r["m"], r["code"], r["pos"]] = r["val"]
        refined = cb.copy()
        ne = counts > 0
        # floor(sum/count) via IEEE double division on exactly-
        # representable operands — identical in numpy and DuckDB
        refined[ne] = np.floor(sums[ne] / counts[ne][:, None]).astype(np.int64)
        cb = refined
    return cb


def _pq_assign(V, cb):
    """codes (n, M) int64: per-subspace argmin squared L2 against the
    codebooks; ties -> lowest code (np.argmin first occurrence).

    r14 optimization round: argmin over the EXPANDED form
    ``|c|^2 - 2 v.c`` (the row-constant ``|v|^2`` dropped) computed via
    float64 BLAS matmul instead of materializing the (n, K, ds)
    broadcast-subtract cube — measured 2.4x at K=16 and 45x at K=256
    per batch. EXACT, not approximate: every term is a sum/product of
    integers (quantized components are ~5*QUANT_SCALE, residual-path
    inputs ~2x that) far below 2^53, so the float64 arithmetic is
    exact integer arithmetic and argmin incl. first-occurrence ties is
    bit-identical to the direct form — pinned by
    tests/test_pq.py::test_pq_assign_expanded_matches_direct_form.
    A magnitude guard (|component| < 2^20 keeps every ds-sum of
    products < 2^44) falls back to the direct int64 form outside the
    exactness envelope."""
    import numpy as np

    n_sub, _, ds = cb.shape
    codes = np.empty((len(V), n_sub), dtype=np.int64)
    vmax = int(np.abs(V).max()) if len(V) else 0
    cmax = int(np.abs(cb).max()) if cb.size else 0
    if max(vmax, cmax) < (1 << 20):
        Vf = V.astype(np.float64)
        for m in range(n_sub):
            C = cb[m].astype(np.float64)
            d = (C * C).sum(axis=1)[None, :] - 2.0 * (
                Vf[:, m * ds:(m + 1) * ds] @ C.T)
            codes[:, m] = np.argmin(d, axis=1)
        return codes
    for m in range(n_sub):
        sub = V[:, m * ds:(m + 1) * ds]
        d = ((sub[:, None, :] - cb[m][None]) ** 2).sum(axis=2)
        codes[:, m] = np.argmin(d, axis=1)
    return codes


def _adc_lut(Q, cb):
    """ADC lookup table ``(nq, M, K)``: the exact int64 dot of each
    query's m-th subvector with codeword j of subspace m."""
    import numpy as np

    n_sub, _, ds = cb.shape
    return np.einsum("qmd,mkd->qmk", Q.reshape(len(Q), n_sub, ds), cb)


def pq_encode(qv: DataFrame, cb) -> DataFrame:
    """Compressed corpus representation ``(vid, codes array<int>,
    rnorm2 bigint)`` — ``rnorm2`` is the squared norm of the
    RECONSTRUCTED vector (sum of the assigned codewords' squared
    norms across subspaces; subspace cross-terms are zero because
    reconstruction is a concatenation, not a sum).

    SCALE: zero exchanges — one Arrow-batched per-partition numpy
    pass; the output is ~n_sub bytes of codes + 16 bytes per vector,
    the representation a 100 TB ANN index actually stores."""
    import numpy as np

    cbn2 = (cb ** 2).sum(axis=2)                                     # (M, K)
    n_sub = cb.shape[0]

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["qvec"].to_numpy()).astype(np.int64)
            codes = _pq_assign(V, cb)
            rn2 = cbn2[np.arange(n_sub)[None, :], codes].sum(axis=1)
            yield pd.DataFrame(
                {
                    "vid": pdf["vid"].to_numpy(dtype=np.int64),
                    "codes": list(codes),
                    "rnorm2": rn2.astype(np.int64),
                }
            )

    return qv.mapInPandas(run, "vid long, codes array<int>, rnorm2 long")


def pq_topk(emb: DataFrame, n_queries: int = 10, k: int = 5,
            n_sub: int = PQ_SUBSPACES, n_codes: int = PQ_CODES,
            refine: int = 1, probe=None, seed_probe=None) -> DataFrame:
    """PQ/ADC approximate top-k: queries stay EXACT, the corpus is
    scanned in its compressed code form, and each candidate's score is
    the asymmetric-distance-computation dot — the query's exact
    subvectors against the candidate's assigned codewords — normalized
    by the exact query norm and the candidate's reconstruction norm
    (``adc_cosine``). Approximate by construction (quantization error
    moves rankings) but deterministic end to end, so the DuckDB oracle
    pins it hash-exact.

    Output: query_id, neighbor_id, rank, adc_cosine.

    SCALE: the 100 TB story is the memory collapse — the scan reads
    ``n_sub`` codes + one bigint per vector (64x smaller than the raw
    vectors), and each task scores ALL queries against its partition
    via a per-query lookup table (LUT[q, m, j] = exact int64 dot of
    the query's m-th subvector with codeword j), built once per task
    from the broadcast query matrix + codebooks: scoring is n_sub
    table gathers per candidate, NO per-candidate dot product. Tasks
    emit only their per-query top-k in the final window's exact total
    order (:func:`_scan_topk`'s map-side prune), so the rank exchange
    is n_tasks * n_queries * k rows. Zero corpus shuffles.

    ``probe``: pre-resolved ``(qids, Q, norm2)`` from
    :func:`load_probe_matrix` — skips the construction-time collect
    for the query matrix (the codebook training pass still runs: it
    is data-dependent by definition).
    """
    import numpy as np

    qv = quantize_embeddings(emb)
    cb = pq_codebooks(qv, n_sub, n_codes, refine, seed_probe=seed_probe)
    qs = None if cb is None else _resolve_queries(qv, n_queries, probe)
    if qs is None:
        return _empty_topk(qv.sparkSession, "adc_cosine")
    qids, Q, qn = qs
    lut = _adc_lut(Q, cb)

    def kernel(pdf):
        Cd = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (n, M)
        adc = np.zeros((len(qids), len(Cd)), dtype=np.int64)
        for m in range(lut.shape[1]):
            adc += lut[:, m, Cd[:, m]]
        rn = np.sqrt(pdf["rnorm2"].to_numpy(dtype=np.float64))
        return (None, pdf["vid"].to_numpy(dtype=np.int64),
                adc / (qn[:, None] * rn[None, :]))                # (nq, n)

    return _scan_topk(pq_encode(qv, cb), kernel, qids, k, "adc_cosine")


def sq8_scales(qv: DataFrame):
    """Per-dimension SQ8 scales as a driver-side int64 vector:
    ``s_d = max(1, ceil(amax_d / 127))`` where ``amax_d`` is the
    corpus max |component| — exact integers end to end, so the
    trained quantizer is bit-identical across engines.

    SCALE: one Arrow-batched pass emitting a per-partition max row
    (dim values per partition regardless of size) + one tiny
    map-combined agg; the collected result is dim ints. Returns None
    on an empty corpus."""
    import numpy as np

    def partials(batches):
        import numpy as np
        import pandas as pd

        best = None
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.abs(np.stack(pdf["qvec"].to_numpy()).astype(np.int64))
            m = V.max(axis=0)
            best = m if best is None else np.maximum(best, m)
        if best is None:
            yield pd.DataFrame({"pos": pd.Series(dtype="int32"),
                                "amax": pd.Series(dtype="int64")})
        else:
            yield pd.DataFrame({"pos": np.arange(len(best), dtype="int32"),
                                "amax": best})

    rows = (
        qv.mapInPandas(partials, "pos int, amax long")
        .groupBy("pos").agg(F.max("amax").alias("amax"))
        .collect()
    )
    if not rows:
        return None
    amax = np.zeros(max(r["pos"] for r in rows) + 1, dtype=np.int64)
    for r in rows:
        amax[r["pos"]] = r["amax"]
    return np.maximum(1, (amax + 126) // 127)


def _sq8_quantizer(S):
    """Driver-side factory of the SQ8 quantizer under per-dimension
    scales ``S``: the returned function maps int64 rows to their codes
    ``clamp(trunc(v_d / s_d), ±127)``, truncating toward ZERO as
    ``sign(v) * (|v| // s)`` — numpy's floor-divide floors toward -inf,
    DuckDB's ``//`` truncates; the symmetric form agrees on both.
    Nested, so a worker closure ships it by value."""

    def codes(V):
        import numpy as np

        return np.clip(np.sign(V) * (np.abs(V) // S[None, :]), -127, 127)

    return codes


def sq8_topk(emb: DataFrame, n_queries: int = 10, k: int = 5,
             probe=None, corpus: DataFrame | None = None) -> DataFrame:
    """Scalar-quantization (SQ8) approximate top-k — the FAISS ``SQ8``
    index family: each dimension quantizes independently to an int8
    code ``c_d = clamp(trunc(v_d / s_d), ±127)`` against the trained
    per-dimension scale, so the corpus stores dim BYTES per vector (8x
    collapse vs raw floats at much higher precision than PQ's 64x —
    the middle point of the memory/recall trade; ANN_RECALL carries
    the measured comparison). Queries stay exact; candidates score as
    ``dot(q, c*s) / (|q| * |c*s|)`` — the reconstruction ``c_d * s_d``
    is an exact int64, so every dot/norm below is exact integer
    arithmetic and the DuckDB oracle pins the whole
    train/encode/search chain value-hash-exact.

    Truncation is toward ZERO on both engines (numpy floor-divide
    floors toward -inf, DuckDB ``//`` truncates — mirrored here as
    ``sign(v) * (|v| // s)``, the symmetric quantizer).

    Output: query_id, neighbor_id, rank, sq_cosine.

    SCALE: the scale vector ships as a literal (dim ints); encode +
    scoring fuse into ONE zero-shuffle Arrow-batched pass (quantize,
    reconstruct, one (n, dim) x (dim, nq) matmul), each task emitting
    only its per-query top-k in the final window's exact total order
    (:func:`_scan_topk`), ONE k-bounded rank exchange. At rest the
    index is dim int8 codes + one bigint per vector.

    ``corpus``: score against THIS DataFrame instead of ``emb`` while
    ``emb`` still provides scale training and the query set — the
    filtered-serving hook (:func:`sq8_topk_filtered`): the production
    quantizer is frozen on the full corpus, the scan is the subset the
    predicate selects."""
    import numpy as np

    qv = quantize_embeddings(emb)
    S = sq8_scales(qv)
    qs = None if S is None else _resolve_queries(qv, n_queries, probe)
    if qs is None:
        return _empty_topk(qv.sparkSession, "sq_cosine")
    qids, Q, qn = qs
    sq8 = _sq8_quantizer(S)

    def kernel(pdf):
        V = np.stack(pdf["qvec"].to_numpy()).astype(np.int64)
        R = sq8(V) * S[None, :]                      # exact recon
        rn = np.sqrt((R * R).sum(axis=1).astype(np.float64))
        dots = R @ Q.T                               # exact int64
        return (None, pdf["vid"].to_numpy(dtype=np.int64),
                dots.T / (qn[:, None] * rn[None, :]))

    scan = qv if corpus is None else quantize_embeddings(corpus)
    return _scan_topk(scan, kernel, qids, k, "sq_cosine")


def sq8_topk_filtered(emb: DataFrame, n_queries: int = 10, k: int = 5,
                      label_value: int = 3, label_col: str = "label",
                      mode: str = "pre", expand: int = 4,
                      probe=None) -> DataFrame:
    """Filtered ANN serving (round 14): top-k among corpus vectors
    matching a metadata predicate (``label_col == label_value``) — the
    search-within-a-filter shape every production vector store needs
    (FAISS IDSelector / Vespa-style filtered HNSW). The quantizer is
    FROZEN on the full corpus (scales train on ``emb``, not the
    subset) and queries come from the full corpus, mirroring a served
    index answering a predicated query.

    ``mode="pre"`` — the SELECTOR path: the predicate pushes into the
    compressed scan, which reads and scores ONLY matching rows;
    exact-filtered top-k at cost proportional to the selectivity.
    ``mode="post"`` — the NAIVE pipeline: full-corpus stage-1 at
    ``k*expand``, THEN the predicate. A selective filter starves it —
    queries can return fewer than k rows, and recall degrades with
    selectivity x density (measured in ANN_RECALL's filtered rows);
    registered alongside pre precisely to keep that trade visible.

    SCALE: pre scans selectivity x corpus bytes with the same fused
    zero-shuffle pass + one k-bounded rank exchange as sq8_topk; post
    adds only a broadcast of the tiny stage-1 result onto the label
    scan (the corpus never shuffles in either form)."""
    if mode not in ("pre", "post"):
        raise ValueError(f"mode must be 'pre' or 'post', got {mode!r}")
    flt = emb.filter(F.col(label_col) == label_value)
    if mode == "pre":
        return sq8_topk(emb, n_queries, k, probe=probe, corpus=flt)
    stage1 = sq8_topk(emb, n_queries, k * expand, probe=probe)
    matched = flt.select(F.col("vec_id").alias("neighbor_id")).join(
        F.broadcast(stage1.drop("rank")), "neighbor_id")
    return _rank_topk(matched, k, "sq_cosine")


def sq8_encode(qv: DataFrame, S) -> DataFrame:
    """``(vid, codes array<int>)`` against FROZEN per-dimension scales
    — one stateless Arrow-batched pass (append-safe on a readStream:
    the train-offline/encode-online pattern, like :func:`pq_encode`).
    Codes are :func:`_sq8_quantizer`'s, the :func:`sq8_topk` quantizer."""
    sq8 = _sq8_quantizer(S)

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["qvec"].to_numpy()).astype(np.int64)
            yield pd.DataFrame(
                {
                    "vid": pdf["vid"].to_numpy(dtype=np.int64),
                    "codes": list(sq8(V).astype(np.int64)),
                }
            )

    return qv.mapInPandas(run, "vid long, codes array<int>")


def ivfsq8_topk(emb: DataFrame, n_queries: int = 10, k: int = 5,
                n_cells: int = 16, n_probe: int = 2, refine: int = 1,
                probe=None) -> DataFrame:
    """IVF + SQ8 — the FAISS ``IVFxx,SQ8`` index family, completing
    the partitioner × quantizer matrix (IVF composes with PQ, with
    residual-PQ, and now with the scalar quantizer): the corpus is
    coarsely partitioned into ``n_cells`` Lloyd-refined cells and
    stored as dim int8 codes + one bigint per vector; a query touches
    its ``n_probe`` best cells and scores candidates against the
    exact-integer reconstruction ``code_d * s_d``.

    vs IVF+PQ: 8x collapse instead of 64x, but near-exact recall
    (ANN_RECALL: sq8 0.95 at x20 where PQ reads 0.54) — the right
    point when executor memory affords a byte per dimension.

    Output: query_id, neighbor_id, rank, sq_cosine.

    SCALE: both trained structures (centroids, dim scales) are
    literals; cell assignment + SQ8 encode fuse into ONE zero-shuffle
    Arrow-batched pass; candidates reach the scorer via a BROADCAST
    join on cell; the one exchange is the k-bounded rank window. A
    query scans n_probe/n_cells of the corpus at 1/8th the bytes."""
    import numpy as np

    qv = quantize_embeddings(emb)
    cent = ivf_centroids(qv, n_cells, refine)
    S = sq8_scales(qv)
    qs = (None if cent is None or S is None
          else _resolve_queries(qv, n_queries, probe))
    if qs is None:
        return _empty_topk(qv.sparkSession, "sq_cosine")
    qids, Q, qn = qs
    cells, Cm, cnm = cent
    cell_index, sq8 = _cell_indexer(Cm, cnm), _sq8_quantizer(S)

    def encode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["qvec"].to_numpy()).astype(np.int64)
            C = sq8(V)
            R = C * S[None, :]
            yield pd.DataFrame(
                {
                    "vid": pdf["vid"].to_numpy(dtype=np.int64),
                    "cell": cells[cell_index(V)],
                    "codes": list(C),
                    "rn2": (R * R).sum(axis=1),
                }
            )

    enc = qv.mapInPandas(
        encode, "vid long, cell long, codes array<int>, rn2 long")
    cand = _probe_join(enc, _probe_cell_rows(qids, Q, cent, n_probe))
    qpos = {int(q): i for i, q in enumerate(qids)}

    def kernel(pdf):
        qi = pdf["query_id"].map(qpos).to_numpy(dtype=np.int64)
        R = np.stack(pdf["codes"].to_numpy()).astype(np.int64) * S[None, :]
        dots = np.einsum("ij,ij->i", Q[qi], R)                   # exact
        rn = np.sqrt(pdf["rn2"].to_numpy(dtype=np.float64))
        return qi, pdf["vid"].to_numpy(dtype=np.int64), dots / (qn[qi] * rn)

    return _scan_topk(cand.select("query_id", "vid", "codes", "rn2"),
                      kernel, qids, k, "sq_cosine")


def pq_distortion(emb: DataFrame, n_sub: int = PQ_SUBSPACES,
                  n_codes: int = PQ_CODES, refine: int = 1,
                  seed_probe=None) -> DataFrame:
    """Per-subspace quantization-error report — the health check a PQ
    index ships with (is any subspace's codebook collapsing? how much
    of the code space is live?): for each subspace, the exact total
    squared L2 error between subvectors and their assigned codewords,
    the vector count, and the number of DISTINCT codes in use.

    Output: subspace, total_sq_err, n_vecs, codes_used.

    SCALE: one Arrow-batched pass emitting per-partition
    (subspace, code, err2, cnt) partials — at most n_sub * K rows per
    partition — then two tiny aggregations over that bounded table;
    the corpus never shuffles."""
    import numpy as np

    qv = quantize_embeddings(emb)
    cb = pq_codebooks(qv, n_sub, n_codes, refine, seed_probe=seed_probe)
    if cb is None:
        return qv.sparkSession.createDataFrame(
            [], "subspace int, total_sq_err long, n_vecs long, codes_used long")
    n_sub_, n_k, ds = cb.shape

    def partials(batches):
        import numpy as np
        import pandas as pd

        err = np.zeros((n_sub_, n_k), dtype=np.int64)
        cnt = np.zeros((n_sub_, n_k), dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["qvec"].to_numpy()).astype(np.int64)
            # expanded-form assignment (r14 optimization round); the
            # reported err is the TRUE squared distance, recomputed
            # exactly in int64 for the chosen code only (O(n*ds)
            # instead of the (n, K, ds) cube)
            codes = _pq_assign(V, cb)
            for m in range(n_sub_):
                sub = V[:, m * ds:(m + 1) * ds]
                code = codes[:, m]
                diff = sub - cb[m][code]
                best = (diff * diff).sum(axis=1)
                np.add.at(err[m], code, best)
                np.add.at(cnt[m], code, 1)
        rows = [
            (m, j, int(err[m, j]), int(cnt[m, j]))
            for m in range(n_sub_)
            for j in range(n_k)
            if cnt[m, j]
        ]
        yield pd.DataFrame(rows, columns=["subspace", "code", "err2", "cnt"])

    p = qv.mapInPandas(
        partials, "subspace int, code int, err2 long, cnt long")
    per_code = p.groupBy("subspace", "code").agg(
        F.sum("err2").alias("err2"), F.sum("cnt").alias("cnt"))
    return per_code.groupBy("subspace").agg(
        F.sum("err2").alias("total_sq_err"),
        F.sum("cnt").alias("n_vecs"),
        F.count(F.lit(1)).cast("long").alias("codes_used"),
    )


def _ivfpq_encode_fn(cells, Cm, cnm, cb):
    """Fused IVF-cell + PQ-code encode closure, shared by
    :func:`ivfpq_topk` (in-memory) and :func:`ivfpq_index_write`
    (at-rest): one zero-shuffle Arrow-batched pass against the two
    literal trained structures. Shared so the in-memory and served
    paths stay bit-identical (they answer to the same oracle)."""
    import numpy as np

    cbn2 = (cb ** 2).sum(axis=2)
    n_sub_ = cb.shape[0]
    cell_index = _cell_indexer(Cm, cnm)

    def encode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["qvec"].to_numpy()).astype(np.int64)
            codes = _pq_assign(V, cb)
            rn2 = cbn2[np.arange(n_sub_)[None, :], codes].sum(axis=1)
            yield pd.DataFrame(
                {
                    "vid": pdf["vid"].to_numpy(dtype=np.int64),
                    "cell": cells[cell_index(V)],
                    "codes": list(codes),
                    "rnorm2": rn2.astype(np.int64),
                }
            )

    return encode


def _probe_cell_rows(qids, Q, cent, n_probe):
    """[(query_id, cell)] — each query's top-``n_probe`` cells under the
    trained centroids ``cent = (cells, C, cn)``, ranked driver-side over
    the tiny (n_queries x n_cells) affinity matrix: exact int64 dot /
    sqrt(cn), in the SQL mirror's exact order (aff DESC, cell ASC, NaN
    buried last) on the same IEEE doubles."""
    import numpy as np

    cells, Cm, cnm = cent
    aff = (Q @ Cm.T) / cnm[None, :]
    rows = []
    for j in range(len(qids)):
        key = np.where(np.isnan(aff[j]), np.inf, -aff[j])
        order = np.lexsort((cells, key))[:n_probe]
        rows.extend((int(qids[j]), int(cells[i])) for i in order)
    return rows


def _probe_join(enc: DataFrame, rows) -> DataFrame:
    """Candidate rows of the IVF scorers: the encoded corpus rows
    (``enc``, one per vector, with its ``cell``) in each query's probed
    cells — a BROADCAST join on cell against the n_queries * n_probe
    probe rows, so the corpus never shuffles — minus the query itself."""
    probes = enc.sparkSession.createDataFrame(rows, "query_id long, cell long")
    return enc.join(F.broadcast(probes), "cell").filter(
        F.col("query_id") != F.col("vid"))


def _adc_lut_topk(cand, qids, qn, lut, k, cell_dot) -> DataFrame:
    """Per-task LUT/ADC scoring of candidate rows (query_id, vid, codes,
    rnorm2) through :func:`_scan_topk` — shared by :func:`ivfpq_topk`,
    :func:`ivfpq_topk_from_index`, and (round 12)
    :func:`ivfpq_residual_topk`.

    ``cell_dot``: ``None``, or ``(cell_pos, QC)`` for residual encoding
    — ``cell_pos`` maps cell id -> column of ``QC`` (nq x n_cells exact
    int64 query·centroid dots); when set, candidate rows must carry
    ``cell`` and each score adds the candidate cell's centroid dot
    (ADC against residual codes approximates dot(q, c + r̂) =
    dot(q, c) + dot(q, r̂); the first term is exact)."""
    import numpy as np

    qpos = {int(q): i for i, q in enumerate(qids)}

    def kernel(pdf):
        qi = pdf["query_id"].map(qpos).to_numpy(dtype=np.int64)
        Cd = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
        adot = np.zeros(len(Cd), dtype=np.int64)
        for m in range(lut.shape[1]):
            adot += lut[qi, m, Cd[:, m]]
        if cell_dot is not None:
            cell_pos, QC = cell_dot
            adot += QC[qi, pdf["cell"].map(cell_pos).to_numpy(dtype=np.int64)]
        rn = np.sqrt(pdf["rnorm2"].to_numpy(dtype=np.float64))
        return qi, pdf["vid"].to_numpy(dtype=np.int64), adot / (qn[qi] * rn)

    cols = ["query_id", "vid", "codes", "rnorm2"]
    if cell_dot is not None:
        cols.append("cell")
    return _scan_topk(cand.select(*cols), kernel, qids, k, "adc_cosine")


def ivfpq_topk(emb: DataFrame, n_queries: int = 10, k: int = 5,
               n_cells: int = 16, n_probe: int = 2,
               n_sub: int = PQ_SUBSPACES, n_codes: int = PQ_CODES,
               refine: int = 1, probe=None,
               seed_probe=None) -> DataFrame:
    """IVF + PQ — the production 100 TB ANN shape (Jegou et al. 2011,
    the FAISS ``IVFxx,PQyy`` index family): the corpus is coarsely
    partitioned into ``n_cells`` IVF cells (Lloyd-refined deterministic
    centroids, same as :func:`ivf_topk`) AND stored PQ-compressed
    (same codebooks as :func:`pq_topk`); a query ranks cells by
    centroid affinity, touches only its ``n_probe`` best cells, and
    ADC-scores the candidates there in the compressed domain.

    Codes quantize the RAW vectors, not cell residuals — the variant
    whose exact-integer training both engines can mirror bit-for-bit
    (residuals would subtract float centroids into the quantizer);
    documented divergence from the residual-encoding FAISS default.

    Output: query_id, neighbor_id, rank, adc_cosine.

    SCALE: cell assignment + PQ encode fuse into ONE zero-shuffle
    Arrow-batched pass (both argmax/argmin run against literal
    matrices); at rest the index is (cell, 8 codes, one bigint) per
    vector. Probe selection is driver-side numpy over the tiny
    (n_queries x n_cells) affinity matrix — the same exact-int dot /
    IEEE divide as the SQL mirror. Candidates reach the scorer via a
    BROADCAST join on cell (the probe table is n_queries * n_probe
    rows), each task LUT-gathers its candidates' ADC scores and emits
    only its per-query top-k, so the one real exchange — the rank
    window — moves n_tasks * n_queries * k rows. A query scans
    n_probe/n_cells of the corpus at 1/64th the bytes: the two
    multiplicative reductions a 100 TB ANN deployment needs.
    """
    qv = quantize_embeddings(emb)
    cent = ivf_centroids(qv, n_cells, refine)
    cb = pq_codebooks(qv, n_sub, n_codes, refine, seed_probe=seed_probe)
    qs = (None if cent is None or cb is None
          else _resolve_queries(qv, n_queries, probe))
    if qs is None:
        return _empty_topk(qv.sparkSession, "adc_cosine")
    qids, Q, qn = qs

    # fused encode: IVF cell + PQ codes + reconstruction norm in ONE
    # zero-shuffle pass (both quantizers are literal numpy matrices)
    enc = qv.mapInPandas(
        _ivfpq_encode_fn(*cent, cb),
        "vid long, cell long, codes array<int>, rnorm2 long")
    cand = _probe_join(enc, _probe_cell_rows(qids, Q, cent, n_probe))
    return _adc_lut_topk(cand, qids, qn, _adc_lut(Q, cb), k, None)


def _residual_qv(qv: DataFrame, cells, Cm, cnm) -> DataFrame:
    """(vid, qvec = v − centroid(cell(v)), norm2, cell) — the residual
    view of the corpus under the trained coarse quantizer. Centroids
    are exact integers (floor-of-mean, :func:`ivf_centroids`), so
    residuals stay int64-exact and everything downstream keeps the
    bit-parity story. Zero shuffles: one Arrow-batched matmul+subtract
    per partition against the literal centroid matrix."""
    cell_index = _cell_indexer(Cm, cnm)

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["qvec"].to_numpy()).astype(np.int64)
            ci = cell_index(V)
            R = V - Cm[ci]
            yield pd.DataFrame(
                {
                    "vid": pdf["vid"].to_numpy(dtype=np.int64),
                    "qvec": list(R),
                    "norm2": (R * R).sum(axis=1),
                    "cell": cells[ci],
                }
            )

    return qv.mapInPandas(
        run, "vid long, qvec array<long>, norm2 long, cell long")


def ivfpq_residual_topk(emb: DataFrame, n_queries: int = 10, k: int = 5,
                        n_cells: int = 16, n_probe: int = 2,
                        n_sub: int = PQ_SUBSPACES, n_codes: int = PQ_CODES,
                        refine: int = 1, probe=None,
                        seed_probe=None) -> DataFrame:
    """IVF + PQ with RESIDUAL encoding — the FAISS ``IVFxx,PQyy``
    default (Jegou et al. 2011 §IV-A): PQ codebooks are trained on,
    and codes quantize, the residual ``r = v − c(v)`` of each vector
    from its cell centroid rather than the raw vector. Residuals
    concentrate the quantizer's dynamic range (within a cell, vectors
    share the centroid, so the residual distribution is tighter than
    the raw one), which buys recall at equal code budget —
    ANN_RECALL.json carries the raw-vs-residual measurement.

    The r11 ``ivfpq_topk`` documented raw encoding as its divergence
    from FAISS because residuals seemed to break bit-exact
    cross-engine training; they don't: centroids are exact integers
    (floor-of-mean), so residuals are int64-exact and every training
    sum, code assignment, and ADC dot below is the same exact-integer
    arithmetic the raw variant pins — this variant closes that
    divergence as a first-class oracled query.

    Scoring: ADC approximates ``dot(q, c + r̂) = dot(q, c) +
    dot(q, r̂)`` — the centroid term is EXACT (both sides int64; the
    per-(query, cell) dot matrix ships with the probe table), the
    residual term is the standard per-task LUT gather over the
    residual codebooks. Normalization uses the exact reconstruction
    norm ``‖c + r̂‖² = ‖c‖² + 2·dot(c, r̂) + ‖r̂‖²``, computed at
    encode time from the trained structures (integer throughout).

    Output: query_id, neighbor_id, rank, adc_cosine.

    SCALE: identical plan shape to :func:`ivfpq_topk` — fused
    zero-shuffle cell+residual+code encode, broadcast probe join, one
    k-bounded rank window; the extra cost is one (n_cells × n_sub ×
    K) driver-side einsum for the centroid·codeword table and one
    subtract per vector in the encode pass. The same two
    multiplicative reductions (n_probe/n_cells of the rows at 1/64th
    the bytes) carry over unchanged.
    """
    import numpy as np

    qv = quantize_embeddings(emb)
    cent = ivf_centroids(qv, n_cells, refine)
    if cent is None:
        return _empty_topk(qv.sparkSession, "adc_cosine")
    cells, Cm, cnm = cent
    cell_index = _cell_indexer(Cm, cnm)

    # residual seed probe: assign each pre-resolved raw seed vector to
    # its cell DRIVER-SIDE (same exact ints, IEEE divides, and
    # first-max tie-break as the distributed pass) and subtract — so
    # codebook training still skips the seed-collect Spark job
    rseed = None
    if seed_probe is not None:
        sids, SQ, _ = seed_probe
        S = np.asarray(SQ, dtype=np.int64)
        if len(S):
            R = S - Cm[cell_index(S)]
            rseed = _ProbeMatrix((np.asarray(sids, dtype=np.int64), R,
                                  (R * R).sum(axis=1)))
            b = getattr(seed_probe, "bound", None)
            if b is not None:
                rseed.bound = b

    cb = pq_codebooks(_residual_qv(qv, cells, Cm, cnm), n_sub, n_codes,
                      refine, seed_probe=rseed)
    qs = None if cb is None else _resolve_queries(qv, n_queries, probe)
    if qs is None:
        return _empty_topk(qv.sparkSession, "adc_cosine")
    qids, Q, qn = qs
    n_sub_, _, ds = cb.shape

    # fused encode: cell + residual codes + exact reconstruction norm
    # ‖c + r̂‖² = ‖c‖² + 2·dot(c, r̂) + ‖r̂‖² in ONE zero-shuffle pass
    cbn2 = (cb ** 2).sum(axis=2)                                    # (M, K)
    ccw = np.einsum("cmd,mkd->cmk",
                    Cm.reshape(len(cells), n_sub_, ds), cb)         # (C, M, K)
    cn2c = (Cm ** 2).sum(axis=1)                                    # (C,)
    marange = np.arange(n_sub_)

    def encode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["qvec"].to_numpy()).astype(np.int64)
            ci = cell_index(V)
            codes = _pq_assign(V - Cm[ci], cb)
            rn2 = (cn2c[ci]
                   + 2 * ccw[ci[:, None], marange[None, :], codes].sum(axis=1)
                   + cbn2[marange[None, :], codes].sum(axis=1))
            yield pd.DataFrame(
                {
                    "vid": pdf["vid"].to_numpy(dtype=np.int64),
                    "cell": cells[ci],
                    "codes": list(codes),
                    "rnorm2": rn2.astype(np.int64),
                }
            )

    enc = qv.mapInPandas(
        encode, "vid long, cell long, codes array<int>, rnorm2 long")
    cand = _probe_join(enc, _probe_cell_rows(qids, Q, cent, n_probe))
    cell_pos = {int(c): i for i, c in enumerate(cells)}
    return _adc_lut_topk(cand, qids, qn, _adc_lut(Q, cb), k,
                         (cell_pos, Q @ Cm.T))                      # exact QC


def pq_rerank_topk(emb: DataFrame, n_queries: int = 10, k: int = 5,
                   expand: int = 4, n_sub: int = PQ_SUBSPACES,
                   n_codes: int = PQ_CODES, refine: int = 1,
                   probe=None, seed_probe=None) -> DataFrame:
    """Two-stage ANN — PQ candidate generation + EXACT re-rank (the
    production deployment shape): the compressed ADC scan proposes
    ``k * expand`` candidates per query, then the raw vectors of just
    that tiny set are fetched and re-scored with the exact quantized
    cosine. ADC cannot resolve score gaps below its quantization
    error (ANN_RECALL's pq_adc ceiling on near-identical replicas);
    the re-rank restores exact ordering among everything the
    compressed scan surfaced.

    Output: query_id, neighbor_id, rank, cosine (exact).

    SCALE: stage 1 is :func:`pq_topk`'s plan (compressed scan, one
    window exchange over task-pruned rows). Stage 2 BROADCASTS the
    candidate table (n_queries * k * expand rows) against the corpus —
    a broadcast hash join that streams the scan with zero corpus
    exchange — and re-scores via the literal query matrix; the final
    rank window moves candidate rows only. The raw corpus is read, not
    shuffled: at 100 TB the exact stage touches the scan once and
    moves kilobytes."""
    cand = pq_topk(emb, n_queries, k * expand, n_sub, n_codes, refine,
                   probe=probe, seed_probe=seed_probe)
    return _exact_rerank(quantize_embeddings(emb), cand, n_queries, k, probe)


def _exact_rerank(qv: DataFrame, cand: DataFrame, n_queries: int,
                  k: int, probe) -> DataFrame:
    """Shared exact second stage for every two-stage ANN path (r13 —
    factored out of :func:`pq_rerank_topk` so SQ8 candidates get the
    same closing stage): BROADCAST the tiny candidate table against
    the quantized corpus, re-score with the exact int64 dot / IEEE
    norm chain, rank (:func:`_rank_topk`). Candidate rows only cross
    the final window exchange; the corpus never shuffles."""
    import numpy as np

    qs = _resolve_queries(qv, n_queries, probe)
    if qs is None:
        return _empty_topk(qv.sparkSession, "cosine")
    qids, Q, qn = qs
    qpos = {int(q): i for i, q in enumerate(qids)}

    joined = F.broadcast(cand.select("query_id", "neighbor_id")).join(
        qv.select(F.col("vid").alias("neighbor_id"), "qvec", "norm2"),
        "neighbor_id",
    )

    def rescore(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            qi = pdf["query_id"].map(qpos).to_numpy(dtype=np.int64)
            C = np.stack(pdf["qvec"].to_numpy()).astype(np.int64)
            dots = np.einsum("ij,ij->i", Q[qi], C)                  # exact
            cos = dots / (qn[qi] * np.sqrt(
                pdf["norm2"].to_numpy(dtype=np.float64)))
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(dtype=np.int64),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(dtype=np.int64),
                    "cosine": cos,
                }
            )

    scored = joined.mapInPandas(
        rescore, "query_id long, neighbor_id long, cosine double")
    return _rank_topk(scored, k, "cosine")


def sq8_rerank_topk(emb: DataFrame, n_queries: int = 10, k: int = 5,
                    expand: int = 4, probe=None) -> DataFrame:
    """Two-stage ANN over SQ8 candidates (round 13): the int8
    scalar-quantized scan proposes ``k * expand`` candidates per
    query, then :func:`_exact_rerank` restores exact ordering among
    them — completing the quantizer x serving matrix (PQ got its
    re-rank in r11; SQ8's higher per-candidate precision means the
    expand needed to reach exact-recall is smaller, which is the
    point of spending dim bytes — measured in ANN_RECALL.json).

    Output: query_id, neighbor_id, rank, cosine (exact).

    SCALE: stage 1 is :func:`sq8_topk`'s plan (one fused zero-shuffle
    encode+score scan, one k·expand-bounded window exchange); stage 2
    is the shared broadcast-join re-score — the corpus is scanned
    twice and shuffled never."""
    cand = sq8_topk(emb, n_queries, k * expand, probe=probe)
    return _exact_rerank(quantize_embeddings(emb), cand, n_queries, k, probe)


#: cap on the density-adaptive candidate budget: stage 1 retrieves
#: k * PQ_RERANK_MAX_EXPAND candidates per query and the plateau rule
#: selects within that set, so the exact stage's broadcast side stays
#: bounded at n_queries x k x 8 rows regardless of corpus density.
PQ_RERANK_MAX_EXPAND = 8


def _band_candidates(stage1: DataFrame, score_col: str, k: int,
                     min_expand: int) -> DataFrame:
    """The widen-only plateau rule shared by every density-adaptive
    two-stage path: given stage-1 rows (query_id, neighbor_id, rank,
    <score_col>) already capped at k*max_expand, keep a candidate if
    it sits in the tuned floor (rank <= k*min_expand) OR scores at
    least ``sk - (s1 - sk)`` (s1/sk = scores at ranks 1 and k; the
    expression order is pinned to the oracles so IEEE doubles agree
    bit-for-bit). The window partitions by query_id exactly like
    stage-1's rank window, so it reuses that exchange."""
    from pyspark.sql import Window

    wq = Window.partitionBy("query_id")
    s1 = F.max(score_col).over(wq)
    sk = F.min(F.when(F.col("rank") <= k, F.col(score_col))).over(wq)
    return (
        stage1
        .withColumn("_thr", sk - (s1 - sk))
        .filter((F.col(score_col) >= F.col("_thr"))
                | (F.col("rank") <= k * min_expand))
        .select("query_id", "neighbor_id")
    )


def pq_rerank_auto_topk(emb: DataFrame, n_queries: int = 10, k: int = 5,
                        min_expand: int = 4,
                        max_expand: int = PQ_RERANK_MAX_EXPAND,
                        n_sub: int = PQ_SUBSPACES, n_codes: int = PQ_CODES,
                        refine: int = 1,
                        probe=None, seed_probe=None) -> DataFrame:
    """DENSITY-ADAPTIVE two-stage ANN (round 14): like
    :func:`pq_rerank_topk` but the candidate budget WIDENS with a
    measured near-tie statistic instead of staying fixed.

    Why: a fixed expand encodes an assumption about corpus density
    that breaks silently as data grows — ANN_RECALL.json measured
    ``rerank,expand=2`` collapsing to recall 0.525 at x40 replica
    density (the ADC scan's quantization error exceeds the true score
    separation among ~40 near-copies, so its top-2k is a coin-flip
    sample of the near-tie plateau and the exact stage can only
    re-order what survived) while the same expand held 1.0 at x10.

    The rule: stage 1 retrieves ``k * max_expand`` ADC candidates per
    query; a candidate reaches the exact stage if EITHER it sits in
    the tuned floor (``rank <= k * min_expand``, the fixed-expand
    default) OR its ADC score is at least ``sk - (s1 - sk)`` where
    ``s1``/``sk`` are the scores at ranks 1 and k. The observed top-k
    spread IS the local score resolution: when near-ties dominate
    (high density) the spread collapses toward the ADC error scale
    and the band sweeps the whole plateau into the re-rank; when
    scores genuinely separate the band adds nothing and the floor
    carries. The measured statistic only ever WIDENS the candidate
    set beyond the tuned default — it can never select fewer (the
    pure-band variant measured 0.70 recall vs the floor's 0.85 on a
    worst-case corpus whose ADC error dwarfs even the top-k spread;
    tests/test_pq.py pins the ordering). Cost stays bounded by
    ``max_expand``.

    Output: query_id, neighbor_id, rank, cosine (exact), as
    :func:`pq_rerank_topk`.

    SCALE: identical plan family to :func:`pq_rerank_topk` — the
    compressed stage-1 scan with its k-bounded window exchange, plus
    one tiny window over the <= n_queries*k*max_expand candidate rows
    to compute the plateau band (no extra job, no driver collect, no
    corpus shuffle), then the shared broadcast-join exact stage."""
    stage1 = pq_topk(emb, n_queries, k * max_expand, n_sub, n_codes,
                     refine, probe=probe, seed_probe=seed_probe)
    cand = _band_candidates(stage1, "adc_cosine", k, min_expand)
    return _exact_rerank(quantize_embeddings(emb), cand, n_queries, k, probe)


def sq8_rerank_auto_topk(emb: DataFrame, n_queries: int = 10, k: int = 5,
                         min_expand: int = 2,
                         max_expand: int = PQ_RERANK_MAX_EXPAND,
                         probe=None) -> DataFrame:
    """Density-adaptive two-stage ANN over SQ8 candidates (round 14):
    :func:`pq_rerank_auto_topk`'s widen-only plateau rule applied to
    the int8 scalar-quantized stage 1 — completing the quantizer x
    serving matrix on the adaptive axis. SQ8's per-candidate precision
    is ~8x PQ's, so its tuned floor is smaller (min_expand=2 — the
    config ANN_RECALL measured at recall 1.0 across x10/x20/x40) and
    the plateau band exists to catch the density regime BEYOND those
    measurements rather than to repair a known collapse.

    Output: query_id, neighbor_id, rank, cosine (exact).

    SCALE: stage 1 is :func:`sq8_topk`'s fused zero-shuffle
    encode+score scan with its k-bounded rank exchange; the band
    window rides the same query_id partitioning; stage 2 is the shared
    broadcast-join exact re-rank. Corpus scanned twice, shuffled
    never."""
    stage1 = sq8_topk(emb, n_queries, k * max_expand, probe=probe)
    cand = _band_candidates(stage1, "sq_cosine", k, min_expand)
    return _exact_rerank(quantize_embeddings(emb), cand, n_queries, k, probe)


def ivfpq_rerank_auto_topk(emb: DataFrame, n_queries: int = 10, k: int = 5,
                           min_expand: int = 4,
                           max_expand: int = PQ_RERANK_MAX_EXPAND,
                           n_cells: int = 16, n_probe: int = 2,
                           n_sub: int = PQ_SUBSPACES,
                           n_codes: int = PQ_CODES, refine: int = 1,
                           probe=None, seed_probe=None) -> DataFrame:
    """Density-adaptive two-stage ANN over IVF+PQ candidates (round
    14): the FAISS-standard serving stack — cell pruning (n_probe of
    n_cells directories touched) -> compressed ADC scan -> exact
    re-rank — with the widen-only plateau rule choosing the exact
    stage's budget. IVFPQ shares PQ's quantizer precision, so it
    shares PQ's floor (min_expand=4) and its density exposure (the
    n_sub=8 recall collapse at x40); cell pruning only REMOVES
    candidates, so the re-rank recall guarantee (>= stage-1 top-k
    recall, since exact scoring can never evict a true top-k member
    that stage 1 surfaced) is inherited unchanged.

    Output: query_id, neighbor_id, rank, cosine (exact).

    SCALE: stage 1 is :func:`ivfpq_topk`'s plan — the probe table
    broadcasts onto the fused encode scan (no corpus exchange), one
    k-bounded rank window; the band window rides the same query_id
    partitioning; stage 2 is the shared broadcast-join re-rank. At
    100 TB the serve path reads n_probe/n_cells of the index plus one
    raw-corpus scan for the exact stage, and shuffles neither."""
    stage1 = ivfpq_topk(emb, n_queries, k * max_expand, n_cells, n_probe,
                        n_sub, n_codes, refine, probe=probe,
                        seed_probe=seed_probe)
    cand = _band_candidates(stage1, "adc_cosine", k, min_expand)
    return _exact_rerank(quantize_embeddings(emb), cand, n_queries, k, probe)


def ivfpq_index_write(emb: DataFrame, path: str,
                      n_cells: int = 16, n_sub: int = PQ_SUBSPACES,
                      n_codes: int = PQ_CODES, refine: int = 1,
                      seed_probe=None) -> tuple:
    """Materialize the IVF+PQ index AT REST: one parquet directory per
    IVF cell (``partitionBy("cell")``), rows carrying only
    (vid, codes, rnorm2) — ~20 bytes per vector. This is the serving
    layout a 100 TB deployment stores: a query's n_probe cells map to
    n_probe DIRECTORIES, so the scan planner prunes the other
    (n_cells - n_probe)/n_cells of the index at the FILE level before
    a single byte is read (PartitionFilters, asserted in
    tests/test_plan_shapes.py).

    Returns the trained ``(cells, C, cn, cb)`` structures the query
    side needs (centroids for probe ranking, codebooks for the LUT) —
    persisting those (tiny: n_cells x dim + n_sub x K x ds ints) is
    the caller's catalog concern."""
    qv = quantize_embeddings(emb)
    cent = ivf_centroids(qv, n_cells, refine)
    cb = pq_codebooks(qv, n_sub, n_codes, refine, seed_probe=seed_probe)
    if cent is None or cb is None:
        return None
    enc = qv.mapInPandas(
        _ivfpq_encode_fn(*cent, cb),
        "vid long, cell long, codes array<int>, rnorm2 long")
    enc.write.mode("overwrite").partitionBy("cell").parquet(path)
    return (*cent, cb)


def ivfpq_index_append(emb_delta: DataFrame, path: str, trained) -> None:
    """Incrementally append NEW vectors to an existing at-rest IVF+PQ
    index (round 14) — the index-maintenance half of the lifecycle:
    the nightly build trains structures and writes the base index
    (:func:`ivfpq_index_write`); arriving vectors then encode against
    the FROZEN centroids + codebooks (no retrain, no rebuild) and land
    as new parquet files inside their cells' partition directories
    (``mode("append")`` + ``partitionBy("cell")`` only ever adds
    files). The serve path (:func:`ivfpq_topk_from_index`) is
    unchanged: partition pruning, scoring, and tie-breaks treat base
    and appended rows identically, so serve(base ∪ delta) ==
    serve(an index built whole with the same frozen structures), by
    construction.

    This is the standard production trade: appended vectors are
    quantized by structures trained WITHOUT them, so their ADC error
    can exceed the base population's — the cure is a periodic retrain
    + rebuild (a new index directory swapped in atomically), not
    in-place mutation. NOT idempotent: replaying the same delta
    duplicates rows — callers own exactly-once delivery (the registry
    twin memoizes per (process, corpus) for exactly that reason).

    SCALE: one zero-shuffle Arrow-batched encode pass over ONLY the
    delta, then a partitioned file append — the base index's bytes
    are never read or rewritten. At 100 TB a day's delta is encoded
    and appended in time proportional to the delta alone."""
    enc = quantize_embeddings(emb_delta).mapInPandas(
        _ivfpq_encode_fn(*trained),
        "vid long, cell long, codes array<int>, rnorm2 long")
    enc.write.mode("append").partitionBy("cell").parquet(path)


def ivfpq_topk_from_index(spark, index_path: str, trained,
                          n_queries: int = 10, k: int = 5,
                          n_probe: int = 2, probe=None) -> DataFrame:
    """Serve IVF+PQ top-k from the at-rest index written by
    :func:`ivfpq_index_write`: rank the query's cells against the
    trained centroids (driver-side, as in :func:`ivfpq_topk`), then
    read ONLY those cells' partitions — ``cell IN (literal ids)`` on
    the partition column prunes every other directory at plan time —
    and LUT/ADC-score the compressed rows. Results are identical to
    the in-memory :func:`ivfpq_topk` by construction (same trained
    structures, same scoring, same tie-breaks); the difference is
    WHERE the candidate bytes come from: a pruned file scan instead
    of a full-corpus encode."""
    *cent, cb = trained
    if probe is None:
        raise ValueError("probe required: the index holds no raw vectors")
    qs = _resolve_queries(None, n_queries, probe)
    if qs is None:
        return _empty_topk(spark, "adc_cosine")
    qids, Q, qn = qs
    rows = _probe_cell_rows(qids, Q, cent, n_probe)

    # partition-column filter with literal ids ON THE RAW COLUMN: the
    # scan plans with PartitionFilters = cell IN (...) and never
    # lists, opens, or reads the other cells' directories. (A cast
    # before the filter would wrap the partition column in an
    # expression and silently forfeit the pruning.)
    idx = spark.read.parquet(index_path)
    idx = idx.filter(F.col("cell").isin(sorted({c for _, c in rows}))).select(
        "vid", F.col("cell").cast("long").alias("cell"), "codes", "rnorm2")
    return _adc_lut_topk(_probe_join(idx, rows), qids, qn, _adc_lut(Q, cb), k, None)
