"""Registry queries: ml_ann (split from registry.py, round 14).

POSITION-CONTIGUOUS slice of the original registry.py — import
order of the registry_queries modules IS the driver-contract
registration order; do not reorder. Body lines are verbatim.
"""

from __future__ import annotations

from pyspark.sql import functions as F
import os

from trendmachine_spark.registry_core import (
    _docs,
    _embeddings,
    register,
)

from trendmachine_spark.registry_queries.captures import (
    _dense,
)



def _bpe_train_ctes(merges: int) -> str:
    """CTE chain words -> wc -> v0 -> (p{s} pair counts, t{s} argmax
    merge, v{s} rewritten vocab) per step — mirrors text._bpe_loop
    exactly: the TWO-space symbol separator makes plain replace over
    the single-space-wrapped string reproduce Sennrich's zero-width
    boundary regex (each match consumes one space of each boundary and
    the replacement restores it, so back-to-back occurrences merge in
    one left-to-right pass; RE2 has no lookbehind, both engines'
    replace share L-to-R non-overlapping semantics)."""
    parts = ["""words AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    wc AS (
      SELECT word, CAST(count(*) AS BIGINT) AS wc FROM words
      WHERE len(word) > 0 GROUP BY word
    ),
    v0 AS (
      SELECT word, wc,
             array_to_string(list_transform(generate_series(1, len(word)),
                                            i -> word[i]), '  ')
               || '  </w>' AS syms
      FROM wc
    )"""]
    for s in range(1, merges + 1):
        p = s - 1
        parts.append(f"""p{s} AS (
      SELECT l[j] AS left_sym, l[j + 1] AS right_sym,
             CAST(sum(wc) AS BIGINT) AS pair_count
      FROM (SELECT string_split(syms, '  ') AS l, wc FROM v{p}),
           unnest(generate_series(1, len(l) - 1)) AS t(j)
      GROUP BY left_sym, right_sym
    ),
    t{s} AS (
      SELECT * FROM p{s}
      ORDER BY pair_count DESC, left_sym, right_sym LIMIT 1
    ),
    v{s} AS (
      SELECT word, wc,
             trim(replace(' ' || syms || ' ',
                          ' ' || t.left_sym || '  ' || t.right_sym || ' ',
                          ' ' || t.left_sym || t.right_sym || ' ')) AS syms
      FROM v{p}, t{s} t
    )""")
    return ",\n    ".join(parts)


def _bpe_merges_oracle(merges: int) -> str:
    unions = "\n    UNION ALL ".join(
        f"SELECT CAST({s} AS BIGINT) AS step, left_sym, right_sym, "
        f"pair_count, left_sym || right_sym AS merged FROM t{s}"
        for s in range(1, merges + 1))
    return f"WITH {_bpe_train_ctes(merges)}\n    {unions}"


def _bpe_vocab_oracle(merges: int, top_k: int) -> str:
    return f"""WITH {_bpe_train_ctes(merges)}
    SELECT word, wc, replace(syms, '  ', ' ') AS segments,
           CAST(len(string_split(syms, '  ')) AS BIGINT) AS n_tokens
    FROM v{merges} ORDER BY wc DESC, word LIMIT {top_k}"""


@register("bpe_train_merges", _bpe_merges_oracle(8))
def q_bpe_train_merges(spark, sf_dir):
    """BPE tokenizer training: 8 greedy merge iterations (the loop
    whose iteration-0 statistic bpe_pair_stats reports), exact integer
    counts, deterministic (count DESC, pair) tie-break."""
    from trendmachine_spark.extensions.text import bpe_train_merges

    return bpe_train_merges(_docs(spark, sf_dir), merges=8)


@register("bpe_segmented_vocab", _bpe_vocab_oracle(8, 50))
def q_bpe_segmented_vocab(spark, sf_dir):
    """The trained 8-merge tokenizer applied to its own top-50 vocab:
    per-word segmentation + token count."""
    from trendmachine_spark.extensions.text import bpe_segmented_vocab

    return bpe_segmented_vocab(_docs(spark, sf_dir), merges=8, top_k=50)


def _bpe_encode_oracle(merges: int) -> str:
    return f"""WITH {_bpe_train_ctes(merges)},
    doc_words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    seg AS (
      SELECT word,
             CAST(len(string_split(syms, '  ')) AS BIGINT) AS word_tokens
      FROM v{merges}
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(word_tokens) AS BIGINT) AS n_tokens
    FROM doc_words JOIN seg USING (word)
    WHERE len(word) > 0
    GROUP BY doc_id"""


@register("bpe_encode", _bpe_encode_oracle(8))
def q_bpe_encode(spark, sf_dir):
    """The trained 8-merge tokenizer applied to the CORPUS: per-doc
    word and BPE-token counts — the sequence-length/tokens-per-epoch
    accounting step every training pipeline runs after learning
    merges."""
    from trendmachine_spark.extensions.text import bpe_encode_docs

    return bpe_encode_docs(_docs(spark, sf_dir), merges=8)


@register(
    "vocab_coverage",
    """WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ),
    wc AS (
      SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM words
      WHERE len(term) > 0 GROUP BY term
    ),
    total AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM wc),
    top AS (SELECT term, cnt FROM wc ORDER BY cnt DESC, term LIMIT 1000)
    SELECT term, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS rank,
           CAST(sum(cnt) OVER (ORDER BY cnt DESC, term
                               ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / total.total AS cum_coverage
    FROM top, total""",
)
def q_vocab_coverage(spark, sf_dir):
    """Top-1000 vocabulary with cumulative corpus token coverage."""
    from trendmachine_spark.extensions.text import vocab_coverage

    return vocab_coverage(_docs(spark, sf_dir), top_k=1000)


@register(
    "salted_term_counts",
    """WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    )
    SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM words GROUP BY term""",
)
def q_salted_term_counts(spark, sf_dir):
    # two-stage salted aggregation == plain groupBy count, exactly
    from trendmachine_spark.operators.skew import salted_count

    docs = _docs(spark, sf_dir)
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    return salted_count(words, ["term"], n_salts=16)


@register("multi_param_scoring", None)  # recurrence sweep: rows-only
def q_multi_param_scoring(spark, sf_dir):
    from trendmachine_spark.operators.recurrence import score_daily_series_multi
    from trendmachine_spark.params import DEFAULT_SIGPARAMS, SigmoidParam

    dense = _dense(spark, sf_dir, fill=2, policy="closest")
    fast_decay = dict(DEFAULT_SIGPARAMS)
    fast_decay["~"] = SigmoidParam(5, 5.0, -0.8)
    return score_daily_series_multi(
        dense, {"default": DEFAULT_SIGPARAMS, "fast_decay": fast_decay}
    )


# ------------------------------------------- MLlib production variants

@register("dedup_minhash_ml", None)  # MLlib estimator: seed-dependent
def q_dedup_minhash_ml(spark, sf_dir):
    from trendmachine_spark.extensions.ml import minhash_near_dup_ml

    return minhash_near_dup_ml(_docs(spark, sf_dir), threshold=0.8)


@register("tfidf_ml", None)  # vector column: not SQL-comparable
def q_tfidf_ml(spark, sf_dir):
    from trendmachine_spark.extensions.ml import tfidf_ml

    out = tfidf_ml(_docs(spark, sf_dir))
    # project the vector to stable scalars so the rows-only check is meaningful
    from pyspark.ml.functions import vector_to_array

    arr = vector_to_array(F.col("tfidf"))
    return out.select(
        "doc_id",
        F.size(F.filter(arr, lambda x: x > 0)).alias("n_nonzero"),
    )


def _ivf_refined_ctes(n_cells: int, materialize: bool = False,
                      train_max_sql: str | None = None) -> str:
    """CTE chain qv -> nv -> seed cents -> one exact Lloyd iteration ->
    cents2/aff/assigned — mirrors similarity.ivf_centroids(refine=1):
    members assigned by (aff DESC, cell) argmax against the seed
    centroids; the refined component is floor(sum/count) (int64 sums
    exact, one IEEE division on exactly-representable operands, floor
    deterministic); a cell with no members keeps its seed vector.

    ``materialize``: add AS MATERIALIZED to the multi-referenced
    nv/cents2/assigned CTEs. OFF by default — DuckDB's own CTE
    heuristics beat forced materialization on the plain IVF/IVFPQ
    chains (measured 2-10x slower with blanket hints at x20) — and ON
    only for composers whose downstream chains re-reference these CTEs
    multiplicatively (the residual-PQ oracle, where inlining
    re-expanded the training chain into 83+ CPU-minutes at x10).

    ``train_max_sql``: a SQL expression bounding the TRAINING
    population (the Lloyd refinement pass sees only ``vec_id <
    train_max_sql``) while seeds, the encode-side ``aff``/``assigned``
    chain, and every downstream consumer still cover the full corpus —
    the frozen-structure mirror for the incremental index-append
    query. ``None`` (the default) emits byte-identical SQL to the
    historical builder (asserted by a unit test)."""
    m = " MATERIALIZED" if materialize else ""
    tw = f"\n      WHERE v.vec_id < {train_max_sql}" if train_max_sql else ""
    return f"""qv AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS q
      FROM embeddings
    ),
    nv AS{m} (
      SELECT vec_id, q,
             CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS norm2
      FROM qv
    ),
    cents AS (
      SELECT vec_id AS cell, q AS cvec, norm2 AS cn FROM nv WHERE vec_id < {n_cells}
    ),
    aff1 AS (
      SELECT v.vec_id, v.q, v.norm2, c.cell,
             CAST(list_sum(list_transform(generate_series(1, len(v.q)),
                                          i -> v.q[i] * c.cvec[i])) AS DOUBLE)
               / sqrt(CAST(c.cn AS DOUBLE)) AS _aff
      FROM nv v, cents c{tw}
    ),
    assigned1 AS (
      SELECT vec_id, q, norm2, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY _aff DESC, cell) AS _rk
        FROM aff1
      ) WHERE _rk = 1
    ),
    csums AS (
      SELECT cell, i AS pos,
             CAST(sum(q[i]) AS BIGINT) AS s, count(*) AS cnt
      FROM assigned1, unnest(generate_series(1, len(q))) AS t(i)
      GROUP BY cell, i
    ),
    refined AS (
      SELECT cell,
             list(CAST(floor(CAST(s AS DOUBLE) / cnt) AS BIGINT) ORDER BY pos) AS cvec
      FROM csums GROUP BY cell
    ),
    cents2 AS{m} (
      SELECT c.cell,
             COALESCE(r.cvec, c.cvec) AS cvec,
             CAST(list_sum(list_transform(COALESCE(r.cvec, c.cvec), v -> v * v)) AS BIGINT) AS cn
      FROM cents c LEFT JOIN refined r ON c.cell = r.cell
    ),
    aff AS (
      SELECT v.vec_id, v.q, v.norm2, c.cell,
             CAST(list_sum(list_transform(generate_series(1, len(v.q)),
                                          i -> v.q[i] * c.cvec[i])) AS DOUBLE)
               / sqrt(CAST(c.cn AS DOUBLE)) AS _aff
      FROM nv v, cents2 c
    ),
    assigned AS{m} (
      SELECT vec_id, q, norm2, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY _aff DESC, cell) AS _rk
        FROM aff
      ) WHERE _rk = 1
    )"""


def _ivf_topk_oracle(n_queries: int = 10, k: int = 5, n_cells: int = 16,
                     n_probe: int = 2) -> str:
    """Exact mirror of similarity.ivf_topk — approximate recall by
    design (probes n_probe best cells) but fully deterministic:
    Lloyd-refined deterministic centroids, (aff DESC, cell) probe
    ranking, exact integer cosine, (cosine DESC, neighbor_id) final
    tie-break."""
    return f"""WITH {_ivf_refined_ctes(n_cells)},
    probes AS (
      SELECT vec_id AS query_id, q, norm2 AS qn, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY _aff DESC, cell) AS _rk
        FROM aff WHERE vec_id < {n_queries}
      ) WHERE _rk <= {n_probe}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(generate_series(1, len(p.q)),
                                          i -> p.q[i] * a.q[i])) AS DOUBLE)
               / (sqrt(CAST(p.qn AS DOUBLE)) * sqrt(CAST(a.norm2 AS DOUBLE))) AS cosine
      FROM probes p JOIN assigned a ON p.cell = a.cell AND p.query_id != a.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {k}"""


@register("similarity_ivf_topk", _ivf_topk_oracle())
def q_similarity_ivf_topk(spark, sf_dir):
    """IVF ANN top-k — approximate recall (n_probe cells) but
    deterministic end to end; oracle upgraded from rows-only round 3."""
    from trendmachine_spark.extensions.similarity import ivf_topk

    return ivf_topk(_embeddings(spark, sf_dir), n_queries=10, k=5, n_probe=2)


def _pq_ctes(n_sub: int = 8, n_codes: int = 16, ds: int = 8,
             include_base: bool = True,
             train_max_sql: str | None = None) -> str:
    """CTE chain qv -> nv -> subs -> seed codebooks -> one exact Lloyd
    iteration -> cb/codes — mirrors similarity.pq_codebooks(refine=1)
    + pq_encode: seeds are the subvectors of the ``n_codes`` lowest
    ids densely renumbered (code j = j-th lowest seed id), assignment
    is argmin exact-int squared L2 with ties to the lowest code, the
    refined component is floor(sum/count) (int64 sums exact, one IEEE
    division on exactly-representable operands, floor deterministic),
    and a code with no members keeps its seed subvector. ``codes``
    carries the final per-(vector, subspace) code with its codeword
    squared-norm ``cn2`` and assignment distance ``dist``.

    ``include_base=False`` drops the shared qv/nv prologue so the
    chain can compose with another chain (the IVFPQ oracle) that
    already defines the identical qv/nv; internal names are
    pq_-prefixed where they would collide (csums/refined exist in
    the IVF chain too).

    ``train_max_sql``: as in :func:`_ivf_refined_ctes` — the Lloyd
    assignment/refinement pass (d1 -> a1 -> pq_csums) sees only
    ``vec_id < train_max_sql``, while seeds and the final encode pass
    (d2 -> codes) cover the full corpus. ``None`` emits byte-identical
    SQL to the historical builder."""
    tw = f"\n      WHERE s.vec_id < {train_max_sql}" if train_max_sql else ""
    base = f"""qv AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS q
      FROM embeddings
    ),
    nv AS (
      SELECT vec_id, q,
             CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS norm2
      FROM qv
    ),
    """
    return (base if include_base else "") + f"""subs AS (
      SELECT vec_id, m,
             list_transform(generate_series(1, {ds}), i -> q[m * {ds} + i]) AS sub
      FROM nv, unnest(generate_series(0, {n_sub - 1})) AS t(m)
    ),
    seeds AS (
      SELECT m, row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS code,
             sub AS cvec
      FROM subs WHERE vec_id < {n_codes}
    ),
    d1 AS (
      SELECT s.vec_id, s.m, c.code,
             CAST(list_sum(list_transform(generate_series(1, {ds}),
                  i -> (s.sub[i] - c.cvec[i]) * (s.sub[i] - c.cvec[i]))) AS BIGINT) AS dist
      FROM subs s JOIN seeds c ON s.m = c.m{tw}
    ),
    a1 AS (
      SELECT vec_id, m, code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                     ORDER BY dist, code) AS _rk
        FROM d1
      ) WHERE _rk = 1
    ),
    pq_csums AS (
      SELECT a.m, a.code, i AS pos,
             CAST(sum(s.sub[i]) AS BIGINT) AS ssum, count(*) AS cnt
      FROM a1 a JOIN subs s ON a.vec_id = s.vec_id AND a.m = s.m,
           unnest(generate_series(1, {ds})) AS t(i)
      GROUP BY a.m, a.code, i
    ),
    pq_refined AS (
      SELECT m, code,
             list(CAST(floor(CAST(ssum AS DOUBLE) / cnt) AS BIGINT) ORDER BY pos) AS cvec
      FROM pq_csums GROUP BY m, code
    ),
    cb AS (
      SELECT s.m, s.code, COALESCE(r.cvec, s.cvec) AS cvec,
             CAST(list_sum(list_transform(COALESCE(r.cvec, s.cvec), v -> v * v)) AS BIGINT) AS cn2
      FROM seeds s LEFT JOIN pq_refined r ON s.m = r.m AND s.code = r.code
    ),
    d2 AS (
      SELECT s.vec_id, s.m, c.code, c.cn2,
             CAST(list_sum(list_transform(generate_series(1, {ds}),
                  i -> (s.sub[i] - c.cvec[i]) * (s.sub[i] - c.cvec[i]))) AS BIGINT) AS dist
      FROM subs s JOIN cb c ON s.m = c.m
    ),
    codes AS (
      SELECT vec_id, m, code, cn2, dist FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                     ORDER BY dist, code) AS _rk
        FROM d2
      ) WHERE _rk = 1
    )"""


def _pq_adc_ctes(n_queries: int = 10, ds: int = 8) -> str:
    """recon/queries/adc/scored — the full-corpus ADC scoring chain on
    top of :func:`_pq_ctes` (cb/codes): the query's EXACT subvectors
    against each candidate's assigned codewords, normalized by exact
    query norm x reconstruction norm; self excluded."""
    return f"""recon AS (
      SELECT vec_id, CAST(sum(cn2) AS BIGINT) AS rnorm2 FROM codes GROUP BY vec_id
    ),
    queries AS (
      SELECT vec_id AS query_id, q, norm2 FROM nv WHERE vec_id < {n_queries}
    ),
    adc AS (
      SELECT qu.query_id, c.vec_id AS neighbor_id,
             CAST(sum(list_sum(list_transform(generate_series(1, {ds}),
                  i -> qu.q[c.m * {ds} + i] * b.cvec[i]))) AS BIGINT) AS adot
      FROM queries qu JOIN codes c ON qu.query_id <> c.vec_id
           JOIN cb b ON c.m = b.m AND c.code = b.code
      GROUP BY qu.query_id, c.vec_id
    ),
    scored AS (
      SELECT a.query_id, a.neighbor_id,
             CAST(a.adot AS DOUBLE)
               / (sqrt(CAST(qu.norm2 AS DOUBLE)) * sqrt(CAST(r.rnorm2 AS DOUBLE))) AS adc_cosine
      FROM adc a JOIN queries qu ON a.query_id = qu.query_id
           JOIN recon r ON a.neighbor_id = r.vec_id
    )"""


def _pq_topk_oracle(n_queries: int = 10, k: int = 5, n_sub: int = 8,
                    n_codes: int = 16, ds: int = 8) -> str:
    """Exact mirror of similarity.pq_topk — ADC scoring in the
    compressed domain, ranking (adc_cosine DESC, neighbor_id)."""
    return f"""WITH {_pq_ctes(n_sub, n_codes, ds)},
    {_pq_adc_ctes(n_queries, ds)}
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adc_cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {k}"""


def _pq_rerank_oracle(n_queries: int = 10, k: int = 5, expand: int = 4,
                      n_sub: int = 8, n_codes: int = 16,
                      ds: int = 8) -> str:
    """Exact mirror of similarity.pq_rerank_topk — ADC candidate
    generation at k*expand, then EXACT quantized-cosine re-rank of the
    candidates (the production two-stage ANN: the compressed scan
    cannot resolve score gaps below its quantization error, so the
    final ordering re-fetches raw vectors for the tiny candidate
    set). Final ranking (cosine DESC, neighbor_id)."""
    return f"""WITH {_pq_ctes(n_sub, n_codes, ds)},
    {_pq_adc_ctes(n_queries, ds)},
    cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc_cosine DESC, neighbor_id) AS _rk
        FROM scored
      ) WHERE _rk <= {k * expand}
    ),
    exact AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(list_sum(list_transform(generate_series(1, len(qu.q)),
                  i -> qu.q[i] * nb.q[i])) AS DOUBLE)
               / (sqrt(CAST(qu.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))) AS cosine
      FROM cand c JOIN queries qu ON c.query_id = qu.query_id
           JOIN nv nb ON c.neighbor_id = nb.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM exact
    ) WHERE rank <= {k}"""


def _pq_rerank_auto_oracle(n_queries: int = 10, k: int = 5,
                           min_expand: int = 4, max_expand: int = 8,
                           n_sub: int = 8, n_codes: int = 16,
                           ds: int = 8) -> str:
    """Exact mirror of similarity.pq_rerank_auto_topk — the
    density-adaptive WIDEN-ONLY rule: ADC candidates capped at
    k*max_expand per query; a candidate reaches the exact re-rank if
    it sits in the tuned floor (rank <= k*min_expand) OR scores at
    least ``sk - (s1 - sk)`` (s1/sk = ADC scores at ranks 1 and k).
    Expression order (``sk - (s1 - sk)``) is pinned identical on both
    engines so the IEEE doubles agree bit-for-bit. Final ranking
    (cosine DESC, neighbor_id), as the fixed-expand oracle."""
    return f"""WITH {_pq_ctes(n_sub, n_codes, ds)},
    {_pq_adc_ctes(n_queries, ds)},
    cand_cap AS (
      SELECT query_id, neighbor_id, adc_cosine, _rk FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc_cosine DESC, neighbor_id) AS _rk
        FROM scored
      ) WHERE _rk <= {k * max_expand}
    ),
    qstats AS (
      SELECT query_id, max(adc_cosine) AS s1,
             min(adc_cosine) FILTER (WHERE _rk <= {k}) AS sk
      FROM cand_cap GROUP BY query_id
    ),
    cand AS (
      SELECT c.query_id, c.neighbor_id
      FROM cand_cap c JOIN qstats s USING (query_id)
      WHERE c.adc_cosine >= s.sk - (s.s1 - s.sk) OR c._rk <= {k * min_expand}
    ),
    exact AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(list_sum(list_transform(generate_series(1, len(qu.q)),
                  i -> qu.q[i] * nb.q[i])) AS DOUBLE)
               / (sqrt(CAST(qu.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))) AS cosine
      FROM cand c JOIN queries qu ON c.query_id = qu.query_id
           JOIN nv nb ON c.neighbor_id = nb.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM exact
    ) WHERE rank <= {k}"""


def _ivfpq_topk_oracle(n_queries: int = 10, k: int = 5, n_cells: int = 16,
                       n_probe: int = 2, n_sub: int = 8, n_codes: int = 16,
                       ds: int = 8) -> str:
    """Exact mirror of similarity.ivfpq_topk — IVF probe selection from
    the Lloyd-refined centroid affinities (aff DESC, cell), candidates
    restricted to probed cells, ADC scoring in the compressed domain
    (query exact subvectors x assigned codewords), rank
    (adc_cosine DESC, neighbor_id). Composes the two trained-structure
    chains: the IVF CTEs contribute cents2/aff/assigned, the PQ CTEs
    (base dropped — qv/nv are shared) contribute cb/codes."""
    return f"""WITH {_ivf_refined_ctes(n_cells)},
    {_pq_ctes(n_sub, n_codes, ds, include_base=False)},
    probes AS (
      SELECT vec_id AS query_id, q, norm2 AS qn, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY _aff DESC, cell) AS _rk
        FROM aff WHERE vec_id < {n_queries}
      ) WHERE _rk <= {n_probe}
    ),
    cand AS (
      SELECT p.query_id, p.q, p.qn, a.vec_id AS neighbor_id
      FROM probes p JOIN assigned a ON p.cell = a.cell AND p.query_id <> a.vec_id
    ),
    adc AS (
      SELECT c.query_id, c.neighbor_id, max(c.qn) AS qn,
             CAST(sum(list_sum(list_transform(generate_series(1, {ds}),
                  i -> c.q[kk.m * {ds} + i] * b.cvec[i]))) AS BIGINT) AS adot
      FROM cand c JOIN codes kk ON c.neighbor_id = kk.vec_id
           JOIN cb b ON kk.m = b.m AND kk.code = b.code
      GROUP BY c.query_id, c.neighbor_id
    ),
    recon AS (
      SELECT vec_id, CAST(sum(cn2) AS BIGINT) AS rnorm2 FROM codes GROUP BY vec_id
    ),
    ivfpq_scored AS (
      SELECT a.query_id, a.neighbor_id,
             CAST(a.adot AS DOUBLE)
               / (sqrt(CAST(a.qn AS DOUBLE)) * sqrt(CAST(r.rnorm2 AS DOUBLE))) AS adc_cosine
      FROM adc a JOIN recon r ON a.neighbor_id = r.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adc_cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_cosine DESC, neighbor_id) AS rank
      FROM ivfpq_scored
    ) WHERE rank <= {k}"""


def _ivfpq_residual_topk_oracle(n_queries: int = 10, k: int = 5,
                                n_cells: int = 16, n_probe: int = 2,
                                n_sub: int = 8, n_codes: int = 16,
                                ds: int = 8) -> str:
    """Exact mirror of similarity.ivfpq_residual_topk — the FAISS-
    default residual encoding: PQ codebooks trained on r = v − c(v)
    (centroids are exact floor-of-mean integers, so residuals are
    int64-exact), ADC = exact query·centroid dot + residual LUT sum,
    normalized by the exact reconstruction norm ‖c + r̂‖² =
    ‖c‖² + 2·dot(c, r̂) + ‖r̂‖². All r-prefixed CTEs are the _pq_ctes
    chain re-sourced from residual subvectors; cand carries the
    per-(query, candidate-cell) centroid dot."""
    return f"""WITH {_ivf_refined_ctes(n_cells, materialize=True)},
    rsubs AS MATERIALIZED (
      SELECT a.vec_id, a.cell, m,
             list_transform(generate_series(1, {ds}),
                            i -> a.q[m * {ds} + i] - c.cvec[m * {ds} + i]) AS sub
      FROM assigned a JOIN cents2 c ON a.cell = c.cell,
           unnest(generate_series(0, {n_sub - 1})) AS t(m)
    ),
    rseeds AS (
      SELECT m, row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS code,
             sub AS cvec
      FROM rsubs WHERE vec_id < {n_codes}
    ),
    rd1 AS (
      SELECT s.vec_id, s.m, c.code,
             CAST(list_sum(list_transform(generate_series(1, {ds}),
                  i -> (s.sub[i] - c.cvec[i]) * (s.sub[i] - c.cvec[i]))) AS BIGINT) AS dist
      FROM rsubs s JOIN rseeds c ON s.m = c.m
    ),
    ra1 AS (
      SELECT vec_id, m, code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                     ORDER BY dist, code) AS _rk
        FROM rd1
      ) WHERE _rk = 1
    ),
    r_csums AS (
      SELECT a.m, a.code, i AS pos,
             CAST(sum(s.sub[i]) AS BIGINT) AS ssum, count(*) AS cnt
      FROM ra1 a JOIN rsubs s ON a.vec_id = s.vec_id AND a.m = s.m,
           unnest(generate_series(1, {ds})) AS t(i)
      GROUP BY a.m, a.code, i
    ),
    r_refined AS (
      SELECT m, code,
             list(CAST(floor(CAST(ssum AS DOUBLE) / cnt) AS BIGINT) ORDER BY pos) AS cvec
      FROM r_csums GROUP BY m, code
    ),
    rcb AS MATERIALIZED (
      SELECT s.m, s.code, COALESCE(r.cvec, s.cvec) AS cvec,
             CAST(list_sum(list_transform(COALESCE(r.cvec, s.cvec), v -> v * v)) AS BIGINT) AS cn2
      FROM rseeds s LEFT JOIN r_refined r ON s.m = r.m AND s.code = r.code
    ),
    rd2 AS (
      SELECT s.vec_id, s.m, c.code, c.cn2, c.cvec,
             CAST(list_sum(list_transform(generate_series(1, {ds}),
                  i -> (s.sub[i] - c.cvec[i]) * (s.sub[i] - c.cvec[i]))) AS BIGINT) AS dist
      FROM rsubs s JOIN rcb c ON s.m = c.m
    ),
    rcodes AS MATERIALIZED (
      SELECT vec_id, m, code, cn2 FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                     ORDER BY dist, code) AS _rk
        FROM rd2
      ) WHERE _rk = 1
    ),
    rrecon AS (
      SELECT kk.vec_id,
             CAST(any_value(c.cn)
                  + 2 * sum(list_sum(list_transform(generate_series(1, {ds}),
                            i -> c.cvec[kk.m * {ds} + i] * b.cvec[i])))
                  + sum(b.cn2) AS BIGINT) AS rnorm2
      FROM rcodes kk
           JOIN assigned a ON kk.vec_id = a.vec_id
           JOIN cents2 c ON a.cell = c.cell
           JOIN rcb b ON kk.m = b.m AND kk.code = b.code
      GROUP BY kk.vec_id
    ),
    probes AS (
      SELECT vec_id AS query_id, q, norm2 AS qn, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY _aff DESC, cell) AS _rk
        FROM aff WHERE vec_id < {n_queries}
      ) WHERE _rk <= {n_probe}
    ),
    cand AS (
      SELECT p.query_id, p.q, p.qn, a.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(generate_series(1, len(p.q)),
                  i -> p.q[i] * c.cvec[i])) AS BIGINT) AS qc
      FROM probes p JOIN assigned a ON p.cell = a.cell AND p.query_id <> a.vec_id
           JOIN cents2 c ON a.cell = c.cell
    ),
    radc AS (
      SELECT cd.query_id, cd.neighbor_id, max(cd.qn) AS qn, max(cd.qc) AS qc,
             CAST(sum(list_sum(list_transform(generate_series(1, {ds}),
                  i -> cd.q[kk.m * {ds} + i] * b.cvec[i]))) AS BIGINT) AS radot
      FROM cand cd JOIN rcodes kk ON cd.neighbor_id = kk.vec_id
           JOIN rcb b ON kk.m = b.m AND kk.code = b.code
      GROUP BY cd.query_id, cd.neighbor_id
    ),
    res_scored AS (
      SELECT a.query_id, a.neighbor_id,
             CAST(a.qc + a.radot AS DOUBLE)
               / (sqrt(CAST(a.qn AS DOUBLE)) * sqrt(CAST(r.rnorm2 AS DOUBLE))) AS adc_cosine
      FROM radc a JOIN rrecon r ON a.neighbor_id = r.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adc_cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_cosine DESC, neighbor_id) AS rank
      FROM res_scored
    ) WHERE rank <= {k}"""


def _sq8_ctes(n_queries: int = 10) -> str:
    """The SQ8 trained-structure CTE chain (quantize -> per-dim scales
    -> int8 encode/reconstruct -> exact-int scoring) shared by
    _sq8_topk_oracle and _sq8_rerank_oracle. recon is MATERIALIZED: it
    feeds the norm and the scoring join, and the per-dimension unnest
    underneath is the expensive subtree inlining would duplicate."""
    return f"""qv AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS q
      FROM embeddings
    ),
    nv AS (
      SELECT vec_id, q,
             CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS norm2
      FROM qv
    ),
    amax AS (
      SELECT i, max(abs(q[i])) AS a
      FROM nv, unnest(generate_series(1, len(q))) AS t(i)
      GROUP BY i
    ),
    sc AS (SELECT i, greatest(1, (a + 126) // 127) AS s FROM amax),
    recon AS MATERIALIZED (
      SELECT vec_id,
             list(greatest(-127, least(127, q[t.i] // s)) * s ORDER BY t.i) AS r
      FROM nv, unnest(generate_series(1, len(q))) AS t(i), sc
      WHERE sc.i = t.i
      GROUP BY vec_id
    ),
    rn AS (
      SELECT vec_id, r,
             CAST(list_sum(list_transform(r, v -> v * v)) AS BIGINT) AS rn2
      FROM recon
    ),
    queries AS (
      SELECT vec_id AS query_id, q, norm2 FROM nv WHERE vec_id < {n_queries}
    ),
    sq_scored AS (
      SELECT qu.query_id, c.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(generate_series(1, len(qu.q)),
                  i -> qu.q[i] * c.r[i])) AS DOUBLE)
               / (sqrt(CAST(qu.norm2 AS DOUBLE)) * sqrt(CAST(c.rn2 AS DOUBLE))) AS sq_cosine
      FROM queries qu JOIN rn c ON qu.query_id <> c.vec_id
    )"""


def _sq8_topk_oracle(n_queries: int = 10, k: int = 5) -> str:
    """Exact mirror of similarity.sq8_topk — per-dimension int8 scalar
    quantization: s_d = max(1, ceil(amax_d / 127)) (exact ints),
    code = clamp(trunc(q_d / s_d), ±127) (DuckDB // truncates toward
    zero; the Spark side mirrors with sign·(|v|//s)), reconstruction
    code*s is exact int64, scoring/normalization the usual exact-int
    dot + one IEEE division."""
    return f"""WITH {_sq8_ctes(n_queries)}
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, sq_cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sq_cosine DESC, neighbor_id) AS rank
      FROM sq_scored
    ) WHERE rank <= {k}"""


def _sq8_filtered_oracle(n_queries: int = 10, k: int = 5,
                         label: int = 3) -> str:
    """Exact mirror of similarity.sq8_topk_filtered(mode='pre') — the
    selector path: scales train on the FULL corpus (amax over all of
    nv), scoring restricted to candidates whose embeddings.label
    matches; rank over the filtered set only."""
    return f"""WITH {_sq8_ctes(n_queries)},
    flt AS (
      SELECT s.query_id, s.neighbor_id, s.sq_cosine
      FROM sq_scored s JOIN embeddings e ON s.neighbor_id = e.vec_id
      WHERE e.label = {label}
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, sq_cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sq_cosine DESC, neighbor_id) AS rank
      FROM flt
    ) WHERE rank <= {k}"""


def _sq8_filtered_post_oracle(n_queries: int = 10, k: int = 5,
                              label: int = 3, expand: int = 4) -> str:
    """Exact mirror of similarity.sq8_topk_filtered(mode='post') — the
    naive pipeline: full-corpus stage-1 at k*expand, THEN the label
    predicate, re-ranked; a query whose stage-1 top-k*expand holds
    fewer than k matching rows returns short — the starvation the
    pre/post pair exists to measure."""
    return f"""WITH {_sq8_ctes(n_queries)},
    stage1 AS (
      SELECT query_id, neighbor_id, sq_cosine FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sq_cosine DESC, neighbor_id) AS _rk
        FROM sq_scored
      ) WHERE _rk <= {k * expand}
    ),
    flt AS (
      SELECT s.query_id, s.neighbor_id, s.sq_cosine
      FROM stage1 s JOIN embeddings e ON s.neighbor_id = e.vec_id
      WHERE e.label = {label}
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, sq_cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sq_cosine DESC, neighbor_id) AS rank
      FROM flt
    ) WHERE rank <= {k}"""


@register("similarity_sq8_filtered", _sq8_filtered_oracle())
def q_similarity_sq8_filtered(spark, sf_dir):
    """Filtered ANN serving, selector path (round 14): top-k among
    label=3 vectors only — the predicate pushes into the compressed
    scan (reads/scores selectivity x corpus), quantizer frozen on the
    full corpus, queries from the full corpus."""
    import os

    from trendmachine_spark.extensions.similarity import (
        load_probe_matrix,
        sq8_topk_filtered,
    )

    path = os.path.join(sf_dir, "embeddings.parquet")
    return sq8_topk_filtered(
        _embeddings(spark, sf_dir), n_queries=10, k=5, label_value=3,
        mode="pre", probe=load_probe_matrix(path, 10))


@register("similarity_sq8_filtered_post", _sq8_filtered_post_oracle())
def q_similarity_sq8_filtered_post(spark, sf_dir):
    """Filtered ANN serving, naive post-filter (round 14): full-corpus
    stage-1 at k*expand THEN the label predicate — registered beside
    the selector path so the starvation trade (short results, recall
    loss at selectivity x density) stays measured and visible."""
    import os

    from trendmachine_spark.extensions.similarity import (
        load_probe_matrix,
        sq8_topk_filtered,
    )

    path = os.path.join(sf_dir, "embeddings.parquet")
    return sq8_topk_filtered(
        _embeddings(spark, sf_dir), n_queries=10, k=5, label_value=3,
        mode="post", expand=4, probe=load_probe_matrix(path, 10))


def _sq8_rerank_oracle(n_queries: int = 10, k: int = 5,
                       expand: int = 4) -> str:
    """Exact mirror of similarity.sq8_rerank_topk — SQ8 candidate
    generation at k*expand, then EXACT quantized-cosine re-rank of the
    candidates (the _pq_rerank_oracle exact stage over the SQ8
    chain). Final ranking (cosine DESC, neighbor_id)."""
    return f"""WITH {_sq8_ctes(n_queries)},
    cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sq_cosine DESC, neighbor_id) AS _rk
        FROM sq_scored
      ) WHERE _rk <= {k * expand}
    ),
    exact AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(list_sum(list_transform(generate_series(1, len(qu.q)),
                  i -> qu.q[i] * nb.q[i])) AS DOUBLE)
               / (sqrt(CAST(qu.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))) AS cosine
      FROM cand c JOIN queries qu ON c.query_id = qu.query_id
           JOIN nv nb ON c.neighbor_id = nb.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM exact
    ) WHERE rank <= {k}"""


@register("similarity_sq8_topk", _sq8_topk_oracle())
def q_similarity_sq8_topk(spark, sf_dir):
    """SQ8 scalar-quantization ANN (round 12): dim int8 codes per
    vector — the 8x memory collapse at much higher precision than
    PQ's 64x, the middle point of the FAISS index family
    (IndexScalarQuantizer). Exact-integer train/encode/score chain,
    value-hash-exact across engines; recall vs PQ measured in
    ANN_RECALL."""
    import os

    from trendmachine_spark.extensions.similarity import (load_probe_matrix,
                                                          sq8_topk)

    path = os.path.join(sf_dir, "embeddings.parquet")
    return sq8_topk(_embeddings(spark, sf_dir), n_queries=10, k=5,
                    probe=load_probe_matrix(path, 10))


@register("similarity_sq8_rerank", _sq8_rerank_oracle())
def q_similarity_sq8_rerank(spark, sf_dir):
    """Two-stage ANN over SQ8 candidates (round 13): int8 scan
    proposes k*expand, shared exact re-rank restores exact ordering —
    completes the quantizer x serving matrix (PQ/ADC got its re-rank
    in r11). SQ8's higher per-candidate precision is the operating
    argument: ANN_RECALL shows its stage-1 recall at 0.95 where
    PQ-ADC reads 0.54 at x20, so the expand needed for exact recall
    is structurally smaller. Same broadcast-candidate plan as
    similarity_pq_rerank: the corpus is scanned twice, shuffled
    never."""
    import os

    from trendmachine_spark.extensions.similarity import (load_probe_matrix,
                                                          sq8_rerank_topk)

    path = os.path.join(sf_dir, "embeddings.parquet")
    return sq8_rerank_topk(_embeddings(spark, sf_dir), n_queries=10, k=5,
                           expand=4, probe=load_probe_matrix(path, 10))


def _sq8_rerank_auto_oracle(n_queries: int = 10, k: int = 5,
                            min_expand: int = 2, max_expand: int = 8) -> str:
    """Exact mirror of similarity.sq8_rerank_auto_topk — the widen-only
    density rule (_pq_rerank_auto_oracle) over the SQ8 chain: stage-1
    candidates capped at k*max_expand; a candidate reaches the exact
    re-rank if it sits in the tuned floor (rank <= k*min_expand) OR
    scores at least ``sk - (s1 - sk)`` (s1/sk = sq_cosine at ranks 1
    and k; expression order pinned so IEEE doubles agree bit-for-bit).
    Final ranking (cosine DESC, neighbor_id)."""
    return f"""WITH {_sq8_ctes(n_queries)},
    cand_cap AS (
      SELECT query_id, neighbor_id, sq_cosine, _rk FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sq_cosine DESC, neighbor_id) AS _rk
        FROM sq_scored
      ) WHERE _rk <= {k * max_expand}
    ),
    qstats AS (
      SELECT query_id, max(sq_cosine) AS s1,
             min(sq_cosine) FILTER (WHERE _rk <= {k}) AS sk
      FROM cand_cap GROUP BY query_id
    ),
    cand AS (
      SELECT c.query_id, c.neighbor_id
      FROM cand_cap c JOIN qstats s USING (query_id)
      WHERE c.sq_cosine >= s.sk - (s.s1 - s.sk) OR c._rk <= {k * min_expand}
    ),
    exact AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(list_sum(list_transform(generate_series(1, len(qu.q)),
                  i -> qu.q[i] * nb.q[i])) AS DOUBLE)
               / (sqrt(CAST(qu.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))) AS cosine
      FROM cand c JOIN queries qu ON c.query_id = qu.query_id
           JOIN nv nb ON c.neighbor_id = nb.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM exact
    ) WHERE rank <= {k}"""


@register("similarity_sq8_rerank_auto", _sq8_rerank_auto_oracle())
def q_similarity_sq8_rerank_auto(spark, sf_dir):
    """Density-adaptive two-stage ANN over SQ8 candidates (round 14):
    the widen-only plateau rule (similarity_pq_rerank_auto) applied to
    the int8 stage 1, completing the quantizer x serving matrix on the
    adaptive axis. SQ8's floor is min_expand=2 (recall 1.0 measured at
    x10/x20/x40); the band guards the density regime beyond the
    measured range."""
    import os

    from trendmachine_spark.extensions.similarity import (
        load_probe_matrix,
        sq8_rerank_auto_topk,
    )

    path = os.path.join(sf_dir, "embeddings.parquet")
    return sq8_rerank_auto_topk(
        _embeddings(spark, sf_dir), n_queries=10, k=5,
        probe=load_probe_matrix(path, 10))


def _ivfsq8_topk_oracle(n_queries: int = 10, k: int = 5,
                        n_cells: int = 16, n_probe: int = 2) -> str:
    """Exact mirror of similarity.ivfsq8_topk — IVF probe selection
    (Lloyd-refined centroid affinities, aff DESC/cell), candidates
    restricted to probed cells, scored against the exact-integer SQ8
    reconstruction (the _sq8_topk_oracle quantizer: per-dim scales
    s = max(1, ceil(amax/127)), trunc-toward-zero codes, clamp ±127)."""
    return f"""WITH {_ivf_refined_ctes(n_cells)},
    amax AS (
      SELECT i, max(abs(q[i])) AS a
      FROM nv, unnest(generate_series(1, len(q))) AS t(i)
      GROUP BY i
    ),
    sc AS (SELECT i, greatest(1, (a + 126) // 127) AS s FROM amax),
    recon AS MATERIALIZED (
      SELECT vec_id,
             list(greatest(-127, least(127, q[t.i] // s)) * s ORDER BY t.i) AS r
      FROM nv, unnest(generate_series(1, len(q))) AS t(i), sc
      WHERE sc.i = t.i
      GROUP BY vec_id
    ),
    rn AS (
      SELECT vec_id, r,
             CAST(list_sum(list_transform(r, v -> v * v)) AS BIGINT) AS rn2
      FROM recon
    ),
    probes AS (
      SELECT vec_id AS query_id, q, norm2 AS qn, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY _aff DESC, cell) AS _rk
        FROM aff WHERE vec_id < {n_queries}
      ) WHERE _rk <= {n_probe}
    ),
    cand AS (
      SELECT p.query_id, p.q, p.qn, a.vec_id AS neighbor_id
      FROM probes p JOIN assigned a ON p.cell = a.cell AND p.query_id <> a.vec_id
    ),
    sq_scored AS (
      SELECT cd.query_id, cd.neighbor_id,
             CAST(list_sum(list_transform(generate_series(1, len(cd.q)),
                  i -> cd.q[i] * c.r[i])) AS DOUBLE)
               / (sqrt(CAST(cd.qn AS DOUBLE)) * sqrt(CAST(c.rn2 AS DOUBLE))) AS sq_cosine
      FROM cand cd JOIN rn c ON cd.neighbor_id = c.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, sq_cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sq_cosine DESC, neighbor_id) AS rank
      FROM sq_scored
    ) WHERE rank <= {k}"""


@register("similarity_ivfsq8_topk", _ivfsq8_topk_oracle())
def q_similarity_ivfsq8_topk(spark, sf_dir):
    """IVF+SQ8 ANN (round 12): the FAISS IVFxx,SQ8 family — n_probe/
    n_cells of the corpus scanned at 1/8th the bytes with near-exact
    per-candidate precision (ANN_RECALL: sq8 0.95 recall@10 at x20 vs
    PQ's 0.54), completing the partitioner x quantizer matrix."""
    import os

    from trendmachine_spark.extensions.similarity import (ivfsq8_topk,
                                                          load_probe_matrix)

    path = os.path.join(sf_dir, "embeddings.parquet")
    return ivfsq8_topk(_embeddings(spark, sf_dir), n_queries=10, k=5,
                       n_cells=16, n_probe=2,
                       probe=load_probe_matrix(path, 10))


@register("similarity_ivfpq_topk", _ivfpq_topk_oracle())
def q_similarity_ivfpq_topk(spark, sf_dir):
    """IVF+PQ ANN top-k (round 11): the production 100 TB shape —
    probe n_probe/n_cells of the corpus, scan it as 8 codes + one
    bigint per vector, ADC-score in the compressed domain."""
    import os

    from trendmachine_spark.extensions.similarity import (ivfpq_topk,
                                                          load_probe_matrix)

    path = os.path.join(sf_dir, "embeddings.parquet")
    return ivfpq_topk(_embeddings(spark, sf_dir), n_queries=10, k=5,
                      n_cells=16, n_probe=2,
                      probe=load_probe_matrix(path, 10),
                      seed_probe=load_probe_matrix(path, 16))


@register("similarity_ivfpq_residual_topk", _ivfpq_residual_topk_oracle())
def q_similarity_ivfpq_residual_topk(spark, sf_dir):
    """IVF+PQ with RESIDUAL encoding (round 12): the FAISS default —
    PQ codes quantize v − centroid(cell(v)) instead of the raw vector
    (residuals concentrate the quantizer's dynamic range; ANN_RECALL
    carries the raw-vs-residual recall delta at equal code budget).
    Centroids are exact floor-of-mean integers, so residual training
    stays bit-exact cross-engine — closing the divergence the r11
    ivfpq_topk docstring declared."""
    import os

    from trendmachine_spark.extensions.similarity import (
        ivfpq_residual_topk,
        load_probe_matrix,
    )

    path = os.path.join(sf_dir, "embeddings.parquet")
    return ivfpq_residual_topk(_embeddings(spark, sf_dir), n_queries=10, k=5,
                               n_cells=16, n_probe=2,
                               probe=load_probe_matrix(path, 10),
                               seed_probe=load_probe_matrix(path, 16))


def _ivfpq_rerank_auto_oracle(n_queries: int = 10, k: int = 5,
                              min_expand: int = 4, max_expand: int = 8,
                              n_cells: int = 16, n_probe: int = 2,
                              n_sub: int = 8, n_codes: int = 16,
                              ds: int = 8) -> str:
    """Exact mirror of similarity.ivfpq_rerank_auto_topk — the IVFPQ
    probe-and-scan chain (_ivfpq_topk_oracle verbatim through
    ivfpq_scored), stage-1 candidates capped at k*max_expand, then the
    widen-only band rule (floor rank <= k*min_expand OR score >=
    ``sk - (s1 - sk)``, expression order pinned) feeding the shared
    exact re-rank. Final ranking (cosine DESC, neighbor_id)."""
    return f"""WITH {_ivf_refined_ctes(n_cells)},
    {_pq_ctes(n_sub, n_codes, ds, include_base=False)},
    probes AS (
      SELECT vec_id AS query_id, q, norm2 AS qn, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY _aff DESC, cell) AS _rk
        FROM aff WHERE vec_id < {n_queries}
      ) WHERE _rk <= {n_probe}
    ),
    cand0 AS (
      SELECT p.query_id, p.q, p.qn, a.vec_id AS neighbor_id
      FROM probes p JOIN assigned a ON p.cell = a.cell AND p.query_id <> a.vec_id
    ),
    adc AS (
      SELECT c.query_id, c.neighbor_id, max(c.qn) AS qn,
             CAST(sum(list_sum(list_transform(generate_series(1, {ds}),
                  i -> c.q[kk.m * {ds} + i] * b.cvec[i]))) AS BIGINT) AS adot
      FROM cand0 c JOIN codes kk ON c.neighbor_id = kk.vec_id
           JOIN cb b ON kk.m = b.m AND kk.code = b.code
      GROUP BY c.query_id, c.neighbor_id
    ),
    recon AS (
      SELECT vec_id, CAST(sum(cn2) AS BIGINT) AS rnorm2 FROM codes GROUP BY vec_id
    ),
    ivfpq_scored AS (
      SELECT a.query_id, a.neighbor_id,
             CAST(a.adot AS DOUBLE)
               / (sqrt(CAST(a.qn AS DOUBLE)) * sqrt(CAST(r.rnorm2 AS DOUBLE))) AS adc_cosine
      FROM adc a JOIN recon r ON a.neighbor_id = r.vec_id
    ),
    cand_cap AS (
      SELECT query_id, neighbor_id, adc_cosine, _rk FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc_cosine DESC, neighbor_id) AS _rk
        FROM ivfpq_scored
      ) WHERE _rk <= {k * max_expand}
    ),
    qstats AS (
      SELECT query_id, max(adc_cosine) AS s1,
             min(adc_cosine) FILTER (WHERE _rk <= {k}) AS sk
      FROM cand_cap GROUP BY query_id
    ),
    queries AS (
      SELECT vec_id AS query_id, q, norm2 FROM nv WHERE vec_id < {n_queries}
    ),
    band AS (
      SELECT c.query_id, c.neighbor_id
      FROM cand_cap c JOIN qstats s USING (query_id)
      WHERE c.adc_cosine >= s.sk - (s.s1 - s.sk) OR c._rk <= {k * min_expand}
    ),
    exact AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(list_sum(list_transform(generate_series(1, len(qu.q)),
                  i -> qu.q[i] * nb.q[i])) AS DOUBLE)
               / (sqrt(CAST(qu.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))) AS cosine
      FROM band c JOIN queries qu ON c.query_id = qu.query_id
           JOIN nv nb ON c.neighbor_id = nb.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM exact
    ) WHERE rank <= {k}"""


@register("similarity_ivfpq_rerank_auto", _ivfpq_rerank_auto_oracle())
def q_similarity_ivfpq_rerank_auto(spark, sf_dir):
    """Density-adaptive two-stage ANN over IVF+PQ candidates (round
    14): cell pruning -> compressed ADC scan -> widen-only adaptive
    exact re-rank — the FAISS-standard serving stack with the r14
    band rule choosing the exact budget. Shares PQ's floor
    (min_expand=4) and density exposure; cell pruning only removes
    candidates, so the re-rank recall guarantee is inherited."""
    import os

    from trendmachine_spark.extensions.similarity import (
        ivfpq_rerank_auto_topk,
        load_probe_matrix,
    )

    path = os.path.join(sf_dir, "embeddings.parquet")
    return ivfpq_rerank_auto_topk(
        _embeddings(spark, sf_dir), n_queries=10, k=5, n_cells=16,
        n_probe=2, probe=load_probe_matrix(path, 10),
        seed_probe=load_probe_matrix(path, 16))


#: at-rest IVFPQ index memo per corpus content identity: the index
#: write is a build step (a nightly indexing job in production), not
#: part of the query — cache it so repeated builds in one session
#: query the same on-disk layout. /tmp is the sandbox-honest object
#: store; the on-disk path carries a per-process nonce so concurrent
#: processes can never overwrite an index another is mid-read on
#: (r12 ADVICE — the in-process memo alone bounds dirs per process).
_PQ_INDEX_CACHE: dict = {}


def _ivfpq_index_for(spark, sf_dir):
    """Build-or-reuse the full-corpus at-rest IVF+PQ index for this
    (process, corpus) — the shared nightly-build step behind both the
    batch serve (q_similarity_ivfpq_index) and the streaming serve
    (q_ann_serve_streaming). Returns ``(path, trained)``; ``trained``
    is None on an empty corpus."""
    import hashlib
    import os

    from trendmachine_spark.extensions.similarity import (
        ivfpq_index_write,
        load_probe_matrix,
    )

    # key the IN-PROCESS memo on the CONTENT identity of the corpus
    # (path + file stat), not applicationId: every new Spark
    # application would otherwise leave a fresh orphan index dir in
    # /tmp (round-12 advisory). The ON-DISK path additionally carries
    # a per-process nonce (r12 ADVICE follow-up): a deterministic
    # shared path let two concurrent processes benching the same
    # corpus overwrite the index mid-read, and size+mtime is not true
    # content identity (same-second rewrites alias) — the pid scopes
    # writes to this process while the memo still bounds dirs to one
    # per (process, corpus).
    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(emb_path)
        content_id = (emb_path, st.st_size, st.st_mtime_ns)
    except OSError:
        content_id = (emb_path, -1, -1)
    key = content_id
    if key not in _PQ_INDEX_CACHE:
        h = hashlib.md5(repr(key).encode()).hexdigest()[:10]
        path = f"/tmp/trendmachine_pq_index_{h}_pid{os.getpid()}"
        seeds = load_probe_matrix(
            os.path.join(sf_dir, "embeddings.parquet"), 16)
        trained = ivfpq_index_write(
            _embeddings(spark, sf_dir), path, seed_probe=seeds)
        # the pid nonce scopes writes to this process (no concurrent
        # cross-process overwrite), but it also means no other process
        # will ever reuse this dir — without cleanup every process
        # restart leaves a fresh orphan in /tmp, unbounded (r13
        # ADVICE). atexit removal bounds disk to live processes; a
        # crash can still orphan one dir, which the next same-corpus
        # run neither reads nor grows.
        import atexit
        import shutil

        atexit.register(shutil.rmtree, path, ignore_errors=True)
        _PQ_INDEX_CACHE[key] = (path, trained)
    return _PQ_INDEX_CACHE[key]


@register("similarity_ivfpq_index", _ivfpq_topk_oracle())
def q_similarity_ivfpq_index(spark, sf_dir):
    """IVF+PQ served from the AT-REST index (round 11): cells are
    parquet partitions, so the query's n_probe cells prune every
    other directory at the file level (PartitionFilters — asserted in
    tests/test_plan_shapes.py). Same trained structures, scoring, and
    tie-breaks as similarity_ivfpq_topk, hence the same oracle; what
    changes is WHERE candidate bytes come from — a pruned file scan
    instead of a full-corpus encode, the 100 TB serving path."""
    import os

    from trendmachine_spark.extensions.similarity import (
        ivfpq_topk_from_index,
        load_probe_matrix,
    )

    path, trained = _ivfpq_index_for(spark, sf_dir)
    if trained is None:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, adc_cosine double")
    probe = load_probe_matrix(
        os.path.join(sf_dir, "embeddings.parquet"), 10)
    return ivfpq_topk_from_index(
        spark, path, trained, n_queries=10, k=5, n_probe=2, probe=probe)


def _ivfpq_append_oracle(n_queries: int = 10, k: int = 5, n_cells: int = 16,
                         n_probe: int = 2, n_sub: int = 8,
                         n_codes: int = 16, ds: int = 8) -> str:
    """Exact mirror of the incremental-append lifecycle: centroids and
    codebooks train on the BASE 80% of the corpus only (train_bound =
    count * 4 // 5; the Lloyd refinement passes carry ``vec_id <
    train_bound`` via the builders' train_max_sql hook), every vector
    — base and delta alike — encodes against those FROZEN structures,
    and the probe-and-scan tail is the plain IVFPQ chain verbatim.
    This is the oracle-side statement of the append guarantee:
    serve(base index ∪ appended delta) == serve(an index built whole
    with the same frozen structures)."""
    bound = "(SELECT b FROM train_bound)"
    return f"""WITH train_bound AS (
      SELECT count(*) * 4 // 5 AS b FROM embeddings
    ),
    {_ivf_refined_ctes(n_cells, train_max_sql=bound)},
    {_pq_ctes(n_sub, n_codes, ds, include_base=False, train_max_sql=bound)},
    probes AS (
      SELECT vec_id AS query_id, q, norm2 AS qn, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY _aff DESC, cell) AS _rk
        FROM aff WHERE vec_id < {n_queries}
      ) WHERE _rk <= {n_probe}
    ),
    cand AS (
      SELECT p.query_id, p.q, p.qn, a.vec_id AS neighbor_id
      FROM probes p JOIN assigned a ON p.cell = a.cell AND p.query_id <> a.vec_id
    ),
    adc AS (
      SELECT c.query_id, c.neighbor_id, max(c.qn) AS qn,
             CAST(sum(list_sum(list_transform(generate_series(1, {ds}),
                  i -> c.q[kk.m * {ds} + i] * b.cvec[i]))) AS BIGINT) AS adot
      FROM cand c JOIN codes kk ON c.neighbor_id = kk.vec_id
           JOIN cb b ON kk.m = b.m AND kk.code = b.code
      GROUP BY c.query_id, c.neighbor_id
    ),
    recon AS (
      SELECT vec_id, CAST(sum(cn2) AS BIGINT) AS rnorm2 FROM codes GROUP BY vec_id
    ),
    ivfpq_scored AS (
      SELECT a.query_id, a.neighbor_id,
             CAST(a.adot AS DOUBLE)
               / (sqrt(CAST(a.qn AS DOUBLE)) * sqrt(CAST(r.rnorm2 AS DOUBLE))) AS adc_cosine
      FROM adc a JOIN recon r ON a.neighbor_id = r.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adc_cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_cosine DESC, neighbor_id) AS rank
      FROM ivfpq_scored
    ) WHERE rank <= {k}"""


#: (process, corpus) memo for the APPENDED index — separate from
#: _PQ_INDEX_CACHE because the two lifecycles train on different
#: populations (full corpus vs the base 80%) and append is NOT
#: idempotent: the memo is what guarantees exactly-once delta delivery
#: within a process (a second build+append against the same corpus
#: would duplicate every delta row).
_PQ_APPEND_CACHE: dict = {}


def _emb_row_count(sf_dir) -> int:
    """Corpus row count from parquet FOOTERS (no Spark job, no data
    read) — at 100 TB this is a metadata walk, not a scan."""
    import os

    import pyarrow.dataset as ds

    path = os.path.join(sf_dir, "embeddings.parquet")
    return sum(f.metadata.num_rows
               for f in ds.dataset(path).get_fragments())


@register("similarity_ivfpq_append", _ivfpq_append_oracle())
def q_similarity_ivfpq_append(spark, sf_dir):
    """Incremental at-rest index maintenance (round 14): the base 80%
    of the corpus trains centroids + codebooks and materializes the
    cell-partitioned index; the remaining 20% arrives as a delta and
    is encoded against the FROZEN structures and APPENDED — new files
    in existing cell directories, base bytes never rewritten
    (similarity.ivfpq_index_append). The serve path is the unchanged
    partition-pruned reader, so base and appended vectors are
    indistinguishable at query time. The oracle trains on the same
    base-only population and encodes everyone — asserting
    serve(base ∪ delta) == serve(built-whole-with-frozen-structures).
    In-process memo = exactly-once delta delivery (append is not
    idempotent by design; production owns this via its ingest log)."""
    import atexit
    import hashlib
    import os
    import shutil

    from trendmachine_spark.extensions.similarity import (
        ivfpq_index_append,
        ivfpq_index_write,
        ivfpq_topk_from_index,
        load_probe_matrix,
    )

    empty_schema = (
        "query_id long, neighbor_id long, rank int, adc_cosine double")
    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(emb_path)
        content_id = (emb_path, st.st_size, st.st_mtime_ns)
    except OSError:
        content_id = (emb_path, -1, -1)
    if content_id not in _PQ_APPEND_CACHE:
        n = _emb_row_count(sf_dir)
        base_n = n * 4 // 5
        h = hashlib.md5(repr(content_id).encode()).hexdigest()[:10]
        path = f"/tmp/trendmachine_pq_append_{h}_pid{os.getpid()}"
        emb = _embeddings(spark, sf_dir)
        seeds = load_probe_matrix(emb_path, 16)
        trained = ivfpq_index_write(
            emb.filter(F.col("vec_id") < base_n), path, seed_probe=seeds)
        if trained is not None:
            ivfpq_index_append(
                emb.filter(F.col("vec_id") >= base_n), path, trained)
            atexit.register(shutil.rmtree, path, ignore_errors=True)
        _PQ_APPEND_CACHE[content_id] = (path, trained)
    path, trained = _PQ_APPEND_CACHE[content_id]
    if trained is None:
        return spark.createDataFrame([], empty_schema)
    return ivfpq_topk_from_index(
        spark, path, trained, n_queries=10, k=5, n_probe=2,
        probe=load_probe_matrix(emb_path, 10))


@register("ann_serve_streaming", _ivfpq_topk_oracle())
def q_ann_serve_streaming(spark, sf_dir):
    """Streaming ANN serve (round 14) — the query-side completion of
    the index lifecycle (build at rest -> append increments -> SERVE
    a query stream): query vectors arrive as a readStream and each
    micro-batch is answered against the FROZEN at-rest index via
    foreachBatch running the batch serve path verbatim — partition
    pruning, ADC scoring, and tie-breaks are shared code
    (ivfpq_topk_from_index), so streamed answers are bit-identical to
    batch answers and this third streaming entry carries the plain
    IVFPQ value-hash oracle. Arriving vectors quantize through
    probe_from_vectors (the same Decimal ROUND_HALF_UP path the
    parquet probe uses), mirroring a production serving layer that
    receives queries over the wire rather than reading them back from
    the corpus.

    Per-query results depend only on the static index, so micro-batch
    boundaries cannot change values (arrival-order independent). The
    driver-side accumulation is bounded by contract: <= k rows per
    streamed query. SCALE: each micro-batch reads n_probe/n_cells of
    the index (file-level pruning) and shuffles once for the rank
    window over <= probed-cells rows."""
    import hashlib as _hashlib

    from trendmachine_spark.extensions.similarity import (
        ivfpq_topk_from_index,
        probe_from_vectors,
    )

    empty_schema = (
        "query_id long, neighbor_id long, rank int, adc_cosine double")
    path, trained = _ivfpq_index_for(spark, sf_dir)
    if trained is None:
        return spark.createDataFrame([], empty_schema)
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("pathGlobFilter", "embeddings*.parquet")
        .parquet(sf_dir)
        .filter(F.col("vec_id") < 10)
    )
    rows: list = []

    def serve_batch(bdf, _batch_id):
        qrows = bdf.select("vec_id", "embedding").collect()  # <= 10 rows
        if not qrows:
            return
        probe = probe_from_vectors(
            [r["vec_id"] for r in qrows], [r["embedding"] for r in qrows])
        out = ivfpq_topk_from_index(
            spark, path, trained, n_queries=10, k=5, n_probe=2,
            probe=probe)
        rows.extend(tuple(r) for r in out.collect())

    qname = ("_ann_serve_stream_q_"
             + _hashlib.md5(sf_dir.encode()).hexdigest()[:8])
    q = (
        stream.writeStream.foreachBatch(serve_batch)
        .queryName(qname)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.createDataFrame(rows, empty_schema)


@register("similarity_pq_rerank", _pq_rerank_oracle())
def q_similarity_pq_rerank(spark, sf_dir):
    """Two-stage ANN (round 11): PQ/ADC candidate generation at
    k*expand, exact quantized-cosine re-rank of the tiny candidate
    set — the production remedy for ADC's quantization-error ceiling."""
    import os

    from trendmachine_spark.extensions.similarity import (load_probe_matrix,
                                                          pq_rerank_topk)

    path = os.path.join(sf_dir, "embeddings.parquet")
    return pq_rerank_topk(
        _embeddings(spark, sf_dir), n_queries=10, k=5, expand=4,
        probe=load_probe_matrix(path, 10),
        seed_probe=load_probe_matrix(path, 16))


@register("similarity_pq_rerank_auto", _pq_rerank_auto_oracle())
def q_similarity_pq_rerank_auto(spark, sf_dir):
    """DENSITY-ADAPTIVE two-stage ANN (round 14, verdict #3): the
    candidate budget is measured per query from the ADC near-tie
    plateau (keep everything within one observed top-k spread below
    the rank-k score, never fewer than the k*min_expand floor, capped
    at k*max_expand) instead of a fixed expand — the x40 finding
    (fixed expand=2 recall 0.525 while x10 reads 1.0) made density a
    serving-time variable, so the API measures it instead of assuming
    it."""
    import os

    from trendmachine_spark.extensions.similarity import (
        load_probe_matrix,
        pq_rerank_auto_topk,
    )

    path = os.path.join(sf_dir, "embeddings.parquet")
    return pq_rerank_auto_topk(
        _embeddings(spark, sf_dir), n_queries=10, k=5,
        probe=load_probe_matrix(path, 10),
        seed_probe=load_probe_matrix(path, 16))


@register("similarity_pq_topk", _pq_topk_oracle())
def q_similarity_pq_topk(spark, sf_dir):
    """PQ/ADC ANN top-k (round 11): the corpus is scanned as 8 codes +
    one bigint per vector (64x memory collapse — the representation a
    100 TB in-memory ANN index stores); approximate by construction,
    deterministic end to end (exact-int codebook training + ADC)."""
    import os

    from trendmachine_spark.extensions.similarity import (load_probe_matrix,
                                                          pq_topk)

    path = os.path.join(sf_dir, "embeddings.parquet")
    probe = load_probe_matrix(path, 10)
    seeds = load_probe_matrix(path, 16)
    return pq_topk(_embeddings(spark, sf_dir), n_queries=10, k=5, probe=probe,
                   seed_probe=seeds)


@register("similarity_pq256_topk", _pq_topk_oracle(n_codes=256))
def q_similarity_pq256_topk(spark, sf_dir):
    """PQ/ADC at K=256 codes per subspace (round 13 — the equal-byte-
    budget point the r12 verdict asked for): same 8 subspaces, 8 bits
    per code instead of 4, i.e. 8 B of codes per vector (vs the K=16
    default's 4 B and SQ8's dim = 64 B). The K=16 codebook was doing
    the limiting in the r12 recall story (PQ 0.54 vs SQ8 0.95 at x20
    mixed budget with method) — ANN_RECALL.json's equal_byte_budget
    section now separates the axes, and this query pins the 256-code
    training + ADC path hash-exact against DuckDB (same exact-integer
    Lloyd machinery, seeds = lowest 256 ids, 8x compression of an
    int8-quantized corpus). Operating guidance in SCALE.md."""
    import os

    from trendmachine_spark.extensions.similarity import (load_probe_matrix,
                                                          pq_topk)

    path = os.path.join(sf_dir, "embeddings.parquet")
    return pq_topk(_embeddings(spark, sf_dir), n_queries=10, k=5,
                   n_codes=256, probe=load_probe_matrix(path, 10),
                   seed_probe=load_probe_matrix(path, 256))


@register(
    "pq_distortion",
    f"""WITH {_pq_ctes()}
    SELECT CAST(m AS INT) AS subspace,
           CAST(sum(dist) AS BIGINT) AS total_sq_err,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(count(DISTINCT code) AS BIGINT) AS codes_used
    FROM codes GROUP BY m""",
)
def q_pq_distortion(spark, sf_dir):
    """Per-subspace PQ quantization-error report (round 11) — the
    index health check: exact total squared L2 error, vector count,
    live code count per subspace."""
    import os

    from trendmachine_spark.extensions.similarity import (load_probe_matrix,
                                                          pq_distortion)

    seeds = load_probe_matrix(os.path.join(sf_dir, "embeddings.parquet"), 16)
    return pq_distortion(_embeddings(spark, sf_dir), seed_probe=seeds)


@register(
    "pq_encode_streaming",
    f"""WITH {_pq_ctes()}
    SELECT vec_id, CAST(m AS INT) AS subspace, CAST(code AS INT) AS code
    FROM codes""",
)
def q_pq_encode_streaming(spark, sf_dir):
    """Streaming PQ encode (round 11) — the production train-offline /
    encode-online pattern: codebooks are trained on the BATCH corpus
    (a nightly job), then a readStream of new vectors encodes against
    the FROZEN books in a stateless mapInPandas (append-safe, no
    state store). Unlike the other streaming twins, the output is
    fully deterministic — encoding has no arrival-order dependence —
    so this streaming query carries a full value-hash DuckDB oracle
    (the repo's first oracled streaming entry)."""
    import os

    from trendmachine_spark.extensions.similarity import (load_probe_matrix,
                                                          pq_codebooks,
                                                          pq_encode,
                                                          quantize_embeddings)

    emb = _embeddings(spark, sf_dir)
    seeds = load_probe_matrix(
        os.path.join(sf_dir, "embeddings.parquet"), 16)
    cb = pq_codebooks(quantize_embeddings(emb), seed_probe=seeds)
    if cb is None:
        return spark.createDataFrame(
            [], "vec_id long, subspace int, code int")
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("pathGlobFilter", "embeddings*.parquet")
        .parquet(sf_dir)
    )
    # r14 (guide §4.2/§5.3, measured in tools/exp_sq8_stream_decomp.py):
    # (a) the encoder reads only (vid, qvec) — without the explicit
    # select, mapInPandas ships EVERY input column, including the
    # interpreted-HOF norm2 fold quantize_embeddings derives and
    # pq_encode never uses (the prune alone halved the SQ8 stream leg);
    # (b) the memory sink driver-collects every sunk row, so sink the
    # COMPACT (vec_id, codes) rows and posexplode AFTER the sink read —
    # n_sub x fewer rows through the driver, bit-identical output.
    enc = pq_encode(quantize_embeddings(stream).select("vid", "qvec"), cb)
    out = enc.select(F.col("vid").alias("vec_id"), "codes")
    # per-source query/table name: a fixed name would fail on the
    # duplicate active query if two constructions ever overlap in one
    # session (round-12 advisory — re-entrancy, not a harness need)
    import hashlib as _hashlib

    qname = ("_pq_encode_stream_q_"
             + _hashlib.md5(sf_dir.encode()).hexdigest()[:8])
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {qname}").select(
        "vec_id", F.posexplode("codes").alias("subspace", "code"))


@register(
    "sq8_encode_streaming",
    """WITH qv AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS q
      FROM embeddings
    ),
    amax AS (
      SELECT i, max(abs(q[i])) AS a
      FROM qv, unnest(generate_series(1, len(q))) AS t(i)
      GROUP BY i
    ),
    sc AS (SELECT i, greatest(1, (a + 126) // 127) AS s FROM amax)
    SELECT vec_id, CAST(t.i - 1 AS INT) AS pos,
           CAST(greatest(-127, least(127, q[t.i] // s)) AS INT) AS code
    FROM qv, unnest(generate_series(1, len(q))) AS t(i), sc
    WHERE sc.i = t.i""",
)
def q_sq8_encode_streaming(spark, sf_dir):
    """Streaming SQ8 encode (round 12) — the scalar-quantizer twin of
    pq_encode_streaming: per-dimension scales train on the BATCH
    corpus, then a readStream of vectors encodes against the FROZEN
    scales in one stateless mapInPandas. Deterministic and
    arrival-order-independent, so this is the second streaming query
    carrying a full value-hash DuckDB oracle."""
    import hashlib as _hashlib

    from trendmachine_spark.extensions.similarity import (
        quantize_embeddings,
        sq8_encode,
        sq8_scales,
    )

    S = sq8_scales(quantize_embeddings(_embeddings(spark, sf_dir)))
    if S is None:
        return spark.createDataFrame([], "vec_id long, pos int, code int")
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("pathGlobFilter", "embeddings*.parquet")
        .parquet(sf_dir)
    )
    # r14 (guide §4.2/§5.3, measured in tools/exp_sq8_stream_decomp.py,
    # x10 stream leg 7.79 -> 1.25 s, value-identical on 1.28M rows):
    # (a) encode reads only (vid, qvec) — mapInPandas ships every input
    # column, and quantize_embeddings' interpreted-HOF norm2 fold (64
    # multiply-adds per row that sq8_encode never uses) was over half
    # the stream-leg wall; (b) the memory sink driver-collects every
    # sunk row, so sink the COMPACT (vec_id, codes) rows (1 per vector,
    # not dim per vector) and posexplode AFTER the sink read.
    enc = sq8_encode(quantize_embeddings(stream).select("vid", "qvec"), S)
    out = enc.select(F.col("vid").alias("vec_id"), "codes")
    qname = ("_sq8_encode_stream_q_"
             + _hashlib.md5(sf_dir.encode()).hexdigest()[:8])
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {qname}").select(
        "vec_id", F.posexplode("codes").alias("pos", "code")
    ).select("vec_id", F.col("pos").cast("int"), F.col("code").cast("int"))


@register("session_windows_streaming", None)  # native streaming sessions: rows-only
def q_session_windows_streaming(spark, sf_dir):
    """Native ``session_window`` on a readStream source (watermarked,
    append mode): emits sessions closed by the watermark. The
    batch-subset equivalence test lives in tests/test_streaming.py."""
    from trendmachine_spark.streaming.funnel_stream import events_raw_stream

    stream = events_raw_stream(spark, sf_dir)
    # session_window must consume the watermarked column ITSELF — any
    # wrapping cast severs the watermark association and append mode
    # is rejected (events_raw_stream already emits a plain timestamp)
    sw = F.session_window(F.col("event_time"), "30 minutes")
    agg = (
        stream.withWatermark("event_time", "1 day")
        .groupBy("user_id", sw)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("start_us"),
            F.unix_micros(F.col("session_window.end")).alias("end_us"),
            "n_events",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("_sw_stream_q")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql("SELECT * FROM _sw_stream_q")


@register("funnel_streaming", None)  # streaming stateful: rows-only
def q_funnel_streaming(spark, sf_dir):
    """Streaming ordered funnel driven to completion over the sf
    parquet (single micro-batch == batch-equivalent; the cross-batch
    equivalence test lives in tests/test_streaming.py)."""
    from trendmachine_spark.streaming.funnel_stream import (
        events_raw_stream,
        funnel_stream,
    )

    q = (
        funnel_stream(events_raw_stream(spark, sf_dir))
        .writeStream.format("memory")
        .queryName("_funnel_stream_q")
        .outputMode("update")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql("SELECT * FROM _funnel_stream_q")


@register("resilience_streaming", None)  # streaming stateful: rows-only
def q_resilience_streaming(spark, sf_dir):
    """Streaming O34 driven to completion over the sf parquet: the
    resilience projection of the day-close scorer (batch equivalence
    pinned in tests/test_streaming.py)."""
    from trendmachine_spark.streaming.capture_stream import events_capture_stream
    from trendmachine_spark.streaming.scored_stream import scored_daily_stream

    stream = events_capture_stream(spark, sf_dir)
    q = (
        scored_daily_stream(stream)
        .select("url", "day", "specimen", "resilience")
        .writeStream.format("memory")
        .queryName("_res_stream_q")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql("SELECT * FROM _res_stream_q")


@register("scored_daily_streaming", None)  # streaming stateful: rows-only
def q_scored_daily_streaming(spark, sf_dir):
    """Streaming O34+O35 (resilience + fixity at day close) driven to
    completion; batch equivalence pinned in tests/test_streaming.py."""
    from trendmachine_spark.streaming.capture_stream import events_capture_stream
    from trendmachine_spark.streaming.scored_stream import scored_daily_stream

    stream = events_capture_stream(spark, sf_dir)
    q = (
        scored_daily_stream(stream)
        .writeStream.format("memory")
        .queryName("_scored_stream_q")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql("SELECT * FROM _scored_stream_q")


@register("dedup_streaming", None)  # streaming, keeper partition-arbitrary
def q_dedup_streaming(spark, sf_dir):
    """Streaming ingest dedup (watermark-bounded state); digest-set
    equivalence with batch DISTINCT pinned in tests/test_streaming.py."""
    from trendmachine_spark.streaming.capture_stream import events_capture_stream
    from trendmachine_spark.streaming.dedup_stream import dedup_stream

    stream = events_capture_stream(spark, sf_dir)
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("_dedup_stream_q")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql("SELECT * FROM _dedup_stream_q")


@register("neardup_streaming", None)  # stateful LSH-bucket state: rows-only
def q_neardup_streaming(spark, sf_dir):
    """Watermarked stateful streaming NEAR-dup (round-5 closure of the
    r3 stretch item): applyInPandasWithState keyed by (band, bucket),
    TTL'd capped member state, flags in incremental_dedup's shape.
    Cross-trigger equivalence with iterated incremental_dedup (late
    data included), TTL re-admission, and the state cap are pinned in
    tests/test_neardup_stream.py; this entry smoke-runs the operator
    end-to-end on the documents corpus."""
    from trendmachine_spark.streaming.neardup_stream import (
        flags_from_rows,
        near_dup_flags_stream,
    )

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("pathGlobFilter", "documents*.parquet")
        .parquet(sf_dir)
        .withColumn("event_time", F.lit("2020-01-01 00:00:00").cast("timestamp"))
    )
    q = (
        near_dup_flags_stream(stream, watermark="1 day")
        .writeStream.format("memory")
        .queryName("_neardup_stream_q")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return flags_from_rows(spark.table("_neardup_stream_q"))


@register(
    "corpus_mix_temperature",
    """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    m AS (SELECT min(n) AS mn FROM c),
    r AS (SELECT source, sqrt(CAST(mn AS DOUBLE) / CAST(n AS DOUBLE)) AS rate FROM c, m)
    SELECT d.doc_id, d.source, d.lang
    FROM documents d JOIN r USING (source)
    WHERE ('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
          / 1152921504606846976.0 < r.rate""",
)
def q_corpus_mix_temperature(spark, sf_dir):
    """Temperature-balanced (alpha=0.5) source mixing: keep rate
    sqrt(min_n/n_s) per source — deterministic hash membership, rates
    via correctly-rounded sqrt so both engines agree bit-for-bit."""
    from trendmachine_spark.extensions.sampling import temperature_mix

    return temperature_mix(_docs(spark, sf_dir)).select("doc_id", "source", "lang")
