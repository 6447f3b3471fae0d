"""Registry queries: dedup_text (split from registry.py, round 14).

POSITION-CONTIGUOUS slice of the original registry.py — import
order of the registry_queries modules IS the driver-contract
registration order; do not reorder. Body lines are verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
import os

from trendmachine_spark.registry_core import (
    _docs,
    _embeddings,
    register,
)



# ===================================================================
# Extension operators (SURVEY.md §2.6): dedup / similarity / text /
# multimodal over documents + embeddings, and relational/TPC-H-style
# queries over the star schema.
# ===================================================================

from trendmachine_spark.extensions.dedup import (  # noqa: E402
    MAX_LSH_BUCKET, MAX_SHINGLE_FREQ, exact_dedup, minhash_near_dup,
    ngram_jaccard, simhash,
)
from trendmachine_spark.extensions.multimodal import media_metadata  # noqa: E402
from trendmachine_spark.extensions.similarity import ann_topk, brute_force_topk  # noqa: E402
from trendmachine_spark.extensions.text import (  # noqa: E402
    fingerprints, lang_id, quality_flags, text_profile,
)
from trendmachine_spark.sources.tables import load_table  # noqa: E402

#: word-shingle CTE shared by the dedup oracles (mirrors dedup.shingles)
_SHINGLES_SQL = """
words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
  FROM words, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS t(i)
)"""


@register(
    "dedup_exact",
    """SELECT md5(text) AS content_md5,
              CAST(min(doc_id) AS BIGINT) AS keeper_id,
              CAST(count(*) AS BIGINT) AS n_copies
       FROM documents GROUP BY md5(text)""",
)
def q_dedup_exact(spark, sf_dir):
    return exact_dedup(_docs(spark, sf_dir))


@register(
    "dedup_exact_norm",
    """SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS norm_md5,
              CAST(min(doc_id) AS BIGINT) AS keeper_id,
              CAST(count(*) AS BIGINT) AS n_copies,
              CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_raw_forms
       FROM documents
       GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))""",
)
def q_dedup_exact_norm(spark, sf_dir):
    """Normalization-insensitive exact dedup (round 11): the "fuzzy
    exact" pass between byte-exact and near-dup — families key on the
    canonicalized text's md5, counting collapsed byte-exact variants."""
    from trendmachine_spark.extensions.dedup import exact_norm_dedup

    return exact_norm_dedup(_docs(spark, sf_dir))


def _band_ctes(p: str = "", src: str | None = None) -> str:
    """The one SQL copy of the shingle -> hash -> signature -> band CTE
    chain (``dedup.shingle_hash``/``minhash_columns`` and the LSH
    banding of ``minhash_near_dup``), ending in ``{p}bands``. Over
    ``documents`` with ``bands`` MATERIALIZED by default; ``p``/``src``
    give one prefixed side of a two-corpus query reading CTE ``src``."""
    from trendmachine_spark.extensions.dedup import BANDS, HASH_MASKS, ROWS_PER_BAND

    sig_cols = ", ".join(
        f"min(xor(h, {m})) AS mh{j}" for j, m in enumerate(HASH_MASKS)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws('|', {cols})) AS bucket FROM {p}sig".format(
            b=b, p=p,
            cols=", ".join(f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)),
        )
        for b in range(BANDS)
    )
    if src is None:
        shingles, materialized = _SHINGLES_SQL, " MATERIALIZED"
    else:
        shingles, materialized = f"""{p}words AS (SELECT doc_id, string_split(text, ' ') AS w FROM {src}),
    {p}sh AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
      FROM {p}words, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS t(i)
    )""", ""
    return f"""{shingles},
    {p}hashed AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM {p}sh
    ),
    {p}sig AS (SELECT doc_id, {sig_cols} FROM {p}hashed GROUP BY doc_id),
    {p}bands AS{materialized} ({band_rows})"""


def _minhash_ctes() -> str:
    """CTE chain ending in ``cand`` = the LSH candidate pairs (bucket
    cap mirrored from dedup.minhash_near_dup: all-pairs for buckets up
    to MAX_LSH_BUCKET, md5-SHARDED chains above it — intra-shard
    consecutive ids plus one link per adjacent non-empty shard, the
    round-6 default over-cap path of _sharded_chain_pairs)."""
    from trendmachine_spark.extensions.dedup import MAX_LSH_BUCKET

    return f"""{_band_ctes()},
    bsizes AS (
      SELECT band, bucket, count(*) AS bn FROM bands GROUP BY band, bucket
    ),
    bshard AS MATERIALIZED (
      -- adaptive per-bucket shard count, integer-exact: mirrors
      -- _sharded_chain_pairs' (_bn - 1) DIV cap + 1 (shards="auto")
      SELECT b.doc_id, b.band, b.bucket, s.bn,
             ('0x' || substr(md5('shard:' || CAST(b.doc_id AS VARCHAR)), 1, 15))::BIGINT
               % ((s.bn - 1) // {MAX_LSH_BUCKET} + 1) AS shard
      FROM bands b JOIN bsizes s ON b.band = s.band AND b.bucket = s.bucket
    ),
    chain_intra AS (
      SELECT lag(doc_id) OVER (PARTITION BY band, bucket, shard ORDER BY doc_id) AS id_a,
             doc_id AS id_b
      FROM bshard WHERE bn > {MAX_LSH_BUCKET}
    ),
    chain_bounds AS (
      SELECT band, bucket, shard, min(doc_id) AS mn, max(doc_id) AS mx
      FROM bshard WHERE bn > {MAX_LSH_BUCKET}
      GROUP BY band, bucket, shard
    ),
    chain_cross AS (
      SELECT least(pmx, mn) AS id_a, greatest(pmx, mn) AS id_b FROM (
        SELECT mn, lag(mx) OVER (PARTITION BY band, bucket ORDER BY shard) AS pmx
        FROM chain_bounds
      ) WHERE pmx IS NOT NULL
    ),
    cand AS (
      SELECT DISTINCT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bshard a JOIN bshard b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        WHERE a.bn <= {MAX_LSH_BUCKET}
        UNION ALL
        SELECT id_a, id_b FROM chain_intra WHERE id_a IS NOT NULL
        UNION ALL
        SELECT id_a, id_b FROM chain_cross
      )
    )"""


@register("dedup_minhash_lsh", f"WITH {_minhash_ctes()} SELECT id_a, id_b FROM cand")
def q_dedup_minhash_lsh(spark, sf_dir):
    return minhash_near_dup(_docs(spark, sf_dir))


@register(
    "lsh_bucket_health",
    f"""WITH {_minhash_ctes()},
    sizes AS (SELECT band, bucket, count(*) AS n FROM bands GROUP BY band, bucket)
    SELECT CAST(band AS BIGINT) AS band,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(max(n) AS BIGINT) AS max_bucket_size,
           CAST(sum(CASE WHEN n > {MAX_LSH_BUCKET} THEN 1 ELSE 0 END) AS BIGINT) AS n_over_cap,
           CAST(sum(CASE WHEN n > {MAX_LSH_BUCKET} THEN n ELSE 0 END) AS BIGINT) AS docs_in_over_cap
    FROM sizes GROUP BY band""",
)
def q_lsh_bucket_health(spark, sf_dir):
    """'No silent caps' metric (round-4 ADVICE): whether and how much
    minhash_near_dup's bucket-size cap actually fired — n_over_cap = 0
    certifies candidate recall equals the uncapped run's."""
    from trendmachine_spark.extensions.dedup import lsh_bucket_stats

    return lsh_bucket_stats(_docs(spark, sf_dir))


@register(
    "minhash_accuracy",
    # est = matching signature components / n; exact jaccard UNGUARDED
    # (no freq cap) so the accuracy report measures the estimator, not
    # the skew guard; LEFT JOIN + 0.0 for bucket-collision pairs that
    # share no shingle
    f"""WITH {_minhash_ctes()},
    est AS (
      SELECT c.id_a, c.id_b,
             ({' + '.join(f'CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END' for j in range(16))})
               / 16.0 AS est_jaccard
      FROM cand c JOIN sig a ON c.id_a = a.doc_id JOIN sig b ON c.id_b = b.doc_id
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS ni
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    exact AS (
      SELECT id_a, id_b, CAST(ni AS DOUBLE) / (na.n + nb.n - ni) AS jaccard
      FROM inter JOIN sizes na ON inter.id_a = na.doc_id
                 JOIN sizes nb ON inter.id_b = nb.doc_id
    )
    SELECT est.id_a, est.id_b, est.est_jaccard,
           COALESCE(exact.jaccard, 0.0) AS jaccard,
           abs(est.est_jaccard - COALESCE(exact.jaccard, 0.0)) AS abs_err
    FROM est LEFT JOIN exact ON est.id_a = exact.id_a AND est.id_b = exact.id_b""",
)
def q_minhash_accuracy(spark, sf_dir):
    """Estimated-vs-exact jaccard for every LSH candidate pair."""
    from trendmachine_spark.extensions.dedup import minhash_accuracy

    return minhash_accuracy(_docs(spark, sf_dir))


#: deterministic 20% ingest-batch split for the incremental-dedup query
_INCR_U = ("('0x' || substr(md5('incr:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
           " / 1152921504606846976.0")


@register(
    "dedup_incremental",
    f"""WITH delta AS (SELECT doc_id, text FROM documents WHERE {_INCR_U} < 0.2),
    base AS (SELECT doc_id, text FROM documents WHERE {_INCR_U} >= 0.2),
    {_band_ctes('d', 'delta')},
    {_band_ctes('b', 'base')},
    dh AS (SELECT doc_id, md5(text) AS h FROM delta),
    bh AS (SELECT DISTINCT md5(text) AS h FROM base),
    keeper AS (SELECT h, min(doc_id) AS k FROM dh GROUP BY h),
    cand AS (
      SELECT DISTINCT b.doc_id AS base_id, d.doc_id AS delta_id
      FROM bbands b JOIN dbands d ON b.band = d.band AND b.bucket = d.bucket
    ),
    dn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM dsh GROUP BY doc_id),
    bn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM bsh GROUP BY doc_id),
    inter AS (
      SELECT c.delta_id, c.base_id, CAST(count(*) AS BIGINT) AS ni
      FROM cand c
      JOIN dsh ON dsh.doc_id = c.delta_id
      JOIN bsh ON bsh.doc_id = c.base_id AND bsh.shingle = dsh.shingle
      GROUP BY c.delta_id, c.base_id
    ),
    near AS (
      SELECT DISTINCT i.delta_id
      FROM inter i
      JOIN dn ON dn.doc_id = i.delta_id
      JOIN bn ON bn.doc_id = i.base_id
      WHERE CAST(ni AS DOUBLE) / (dn.n + bn.n - ni) >= 0.8
    )
    SELECT dh.doc_id,
           CAST(CASE WHEN bh.h IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS exact_dup_base,
           CAST(CASE WHEN keeper.k < dh.doc_id THEN 1 ELSE 0 END AS BIGINT) AS exact_dup_delta,
           CAST(CASE WHEN near.delta_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS near_dup_base,
           CAST(CASE WHEN bh.h IS NULL AND keeper.k >= dh.doc_id
                      AND near.delta_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_new
    FROM dh
    LEFT JOIN bh ON dh.h = bh.h
    JOIN keeper ON dh.h = keeper.h
    LEFT JOIN near ON dh.doc_id = near.delta_id""",
)
def q_dedup_incremental(spark, sf_dir):
    """New-batch-vs-corpus dedup: a deterministic 20% hash slice plays
    the arriving batch, the remaining 80% the existing corpus."""
    from trendmachine_spark.extensions.dedup import incremental_dedup
    from trendmachine_spark.extensions.sampling import hash_uniform

    docs = _docs(spark, sf_dir)
    u = hash_uniform(F.col("doc_id"), "incr")
    return incremental_dedup(docs.filter(u >= 0.2), docs.filter(u < 0.2))


@register(
    "dedup_clusters",
    # candidates (LSH) -> exact-Jaccard verify -> connected components
    # via recursive transitive closure (min reachable id per node)
    f"""WITH RECURSIVE {_minhash_ctes()},
    lists AS (
      SELECT doc_id, list(shingle) AS ls, CAST(count(*) AS BIGINT) AS n
      FROM sh GROUP BY doc_id
    ),
    verified AS (
      SELECT id_a, id_b
      FROM cand
      JOIN lists la ON cand.id_a = la.doc_id
      JOIN lists lb ON cand.id_b = lb.doc_id
      WHERE CAST(len(list_intersect(la.ls, lb.ls)) AS DOUBLE)
            / (la.n + lb.n - len(list_intersect(la.ls, lb.ls))) >= 0.8
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM verified
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM verified
    ),
    reach(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
    ),
    comp AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node)
    SELECT CAST(node AS BIGINT) AS doc_id,
           CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(CASE WHEN node = cluster_id THEN 1 ELSE 0 END AS BIGINT) AS is_keeper
    FROM comp""",
)
def q_dedup_clusters(spark, sf_dir):
    from trendmachine_spark.extensions.clusters import dedup_clusters

    return dedup_clusters(_docs(spark, sf_dir), min_jaccard=0.8)


@register(
    "training_corpus",
    # the composed training-data pipeline: exact dedup (md5 keeper) ->
    # near-dup cluster non-keepers removed -> quality gate -> lang id +
    # token counts. CTEs reuse the oracled building blocks verbatim.
    f"""WITH RECURSIVE {_minhash_ctes()},
    lists AS (
      SELECT doc_id, list(shingle) AS ls, CAST(count(*) AS BIGINT) AS n
      FROM sh GROUP BY doc_id
    ),
    verified AS (
      SELECT id_a, id_b
      FROM cand
      JOIN lists la ON cand.id_a = la.doc_id
      JOIN lists lb ON cand.id_b = lb.doc_id
      WHERE CAST(len(list_intersect(la.ls, lb.ls)) AS DOUBLE)
            / (la.n + lb.n - len(list_intersect(la.ls, lb.ls))) >= 0.8
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM verified
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM verified
    ),
    reach(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
    ),
    comp AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node),
    exact AS (
      SELECT doc_id, text, min(doc_id) OVER (PARTITION BY md5(text)) AS _kid
      FROM documents
    ),
    kept AS (
      SELECT doc_id, text FROM exact
      WHERE doc_id = _kid
        AND doc_id NOT IN (SELECT node FROM comp WHERE node <> cluster_id)
    ),
    w AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM kept),
    p AS (
      SELECT doc_id, text, len(words) AS n_words,
             CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS dr,
             CAST(len(list_filter(words, x -> x IN ('the','and','of'))) AS INT) AS s_en,
             CAST(len(list_filter(words, x -> x IN ('el','la','los'))) AS INT) AS s_es,
             CAST(len(list_filter(words, x -> x IN ('der','und','das'))) AS INT) AS s_de,
             CAST(len(list_filter(words, x -> x IN ('le','les','des'))) AS INT) AS s_fr
      FROM w
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_tokens,
           CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
                WHEN (CASE WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 1 ELSE 0 END
                    + CASE WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 1 ELSE 0 END
                    + CASE WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 1 ELSE 0 END
                    + CASE WHEN s_fr = greatest(s_en, s_es, s_de, s_fr) THEN 1 ELSE 0 END) > 1 THEN 'und'
                WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
                WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
                WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
                ELSE 'fr' END AS lang_pred
    FROM p WHERE n_words >= 20 AND dr >= 0.2""",
)
def q_training_corpus(spark, sf_dir):
    """End-to-end training-data pipeline over the documents corpus —
    every stage is an already-oracled operator, composed: exact dedup
    keeps min doc_id per content md5; near-dup cluster NON-keepers
    (LSH -> exact-Jaccard 0.8 -> connected components) are dropped;
    the quality gate (length + diversity) filters; language ID and
    token counts annotate the surviving corpus.

    Scale: exact keeper = one md5 window; the near-dup drop list is a
    left-anti hash join against the (tiny) clustered-doc set; quality +
    lang + tokens are narrow expressions. Nothing here adds a shuffle
    beyond the component operators' own budgets."""
    from trendmachine_spark.extensions.clusters import dedup_clusters
    from trendmachine_spark.extensions.text import lang_id, text_profile

    docs = _docs(spark, sf_dir)
    exact_keep = (
        docs.withColumn(
            "_kid", F.min("doc_id").over(Window.partitionBy(F.md5("text")))
        )
        .filter(F.col("doc_id") == F.col("_kid"))
        .select("doc_id", "text")
    )
    drop = (
        dedup_clusters(docs, min_jaccard=0.8)
        .filter(F.col("is_keeper") == 0)
        .select("doc_id")
    )
    kept = exact_keep.join(drop, "doc_id", "left_anti")
    prof = text_profile(kept).select("doc_id", "n_words", "n_tokens", "distinct_ratio")
    lang = lang_id(kept).select("doc_id", "lang_pred")
    return (
        prof.filter((F.col("n_words") >= 20) & (F.col("distinct_ratio") >= 0.2))
        .join(lang, "doc_id")
        .select("doc_id", "n_words", "n_tokens", "lang_pred")
    )


@register(
    "dedup_ngram_jaccard",
    # the freq CTE mirrors the engine's default max_shingle_freq guard;
    # sizes stay FULL-set so the jaccard of surviving pairs is exact
    f"""WITH {_SHINGLES_SQL},
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    freq AS (SELECT shingle FROM sh GROUP BY shingle
             HAVING count(*) <= {MAX_SHINGLE_FREQ}),
    shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN freq USING (shingle)),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_common
      FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, n_common,
           CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) AS jaccard
    FROM inter
    JOIN sizes na ON inter.id_a = na.doc_id
    JOIN sizes nb ON inter.id_b = nb.doc_id""",
)
def q_dedup_ngram_jaccard(spark, sf_dir):
    return ngram_jaccard(_docs(spark, sf_dir))


@register(
    "dedup_containment",
    # same inverted-index CTEs as dedup_ngram_jaccard; containment is
    # n_common over each side's FULL set size (exact integer ratios)
    f"""WITH {_SHINGLES_SQL},
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    freq AS (SELECT shingle FROM sh GROUP BY shingle
             HAVING count(*) <= {MAX_SHINGLE_FREQ}),
    shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN freq USING (shingle)),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_common
      FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT * FROM (
      SELECT id_a, id_b, n_common,
             CAST(n_common AS DOUBLE) / na.n AS containment_a,
             CAST(n_common AS DOUBLE) / nb.n AS containment_b,
             CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) AS jaccard
      FROM inter
      JOIN sizes na ON inter.id_a = na.doc_id
      JOIN sizes nb ON inter.id_b = nb.doc_id
    ) WHERE greatest(containment_a, containment_b) >= 0.5""",
)
def q_dedup_containment(spark, sf_dir):
    """Subset-duplication pairs: either direction >= 50% contained."""
    from trendmachine_spark.extensions.dedup import ngram_containment

    return ngram_containment(_docs(spark, sf_dir), min_containment=0.5)


@register(
    "dedup_simhash",
    """WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    hashed AS (SELECT doc_id, md5(w) AS h FROM words),
    pos AS (SELECT doc_id, h, unnest(generate_series(0, 31)) AS p FROM hashed),
    bits AS (
      SELECT doc_id, p,
             ((CAST(strpos('0123456789abcdef', substr(h, (p // 4) + 1, 1)) AS INT) - 1)
              // CAST(pow(2, 3 - p % 4) AS INT)) % 2 AS bit
      FROM pos
    ),
    votes AS (
      SELECT doc_id, p, SUM(bit * 2 - 1) AS vote FROM bits GROUP BY doc_id, p
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN vote > 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id""",
)
def q_dedup_simhash(spark, sf_dir):
    return simhash(_docs(spark, sf_dir))


@register(
    "dedup_simhash_near_dup",
    """WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    hashed AS (SELECT doc_id, md5(w) AS h FROM words),
    pos AS (SELECT doc_id, h, unnest(generate_series(0, 31)) AS p FROM hashed),
    bits AS (
      SELECT doc_id, p,
             ((CAST(strpos('0123456789abcdef', substr(h, (p // 4) + 1, 1)) AS INT) - 1)
              // CAST(pow(2, 3 - p % 4) AS INT)) % 2 AS bit
      FROM pos
    ),
    votes AS (
      SELECT doc_id, p, SUM(bit * 2 - 1) AS vote FROM bits GROUP BY doc_id, p
    ),
    fp AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN vote > 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    ),
    bandsx AS (
      SELECT doc_id, simhash, b, (simhash >> CAST(b * 8 AS BIGINT)) & 255 AS bv
      FROM fp, unnest(generate_series(0, 3)) t(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.simhash AS sa, b.simhash AS sb
      FROM bandsx a JOIN bandsx b ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= 3""",
)
def q_dedup_simhash_near_dup(spark, sf_dir):
    """Banded hamming LSH over simhash — EXACT for hamming<=3 with 4
    bands (pigeonhole); same bucketed equi-join shape as minhash LSH."""
    from trendmachine_spark.extensions.dedup import simhash_near_dup

    return simhash_near_dup(_docs(spark, sf_dir))


@register(
    "similarity_topk",
    """WITH qv AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS q
      FROM embeddings
    ),
    nv AS (
      SELECT vec_id, q,
             CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS norm2
      FROM qv
    ),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(generate_series(1, len(a.q)),
                                          i -> a.q[i] * b.q[i])) AS DOUBLE)
               / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) AS cosine
      FROM nv a, nv b
      WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id
    )
    SELECT query_id, neighbor_id, rank, cosine FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      FROM scored
    ) WHERE rank <= 5""",
)
def q_similarity_topk(spark, sf_dir):
    # probe set resolved driver-side from parquet (no Spark job at
    # construction — round 7; bit-identical quantization, see
    # load_probe_matrix + its parity test)
    import os

    from trendmachine_spark.extensions.similarity import load_probe_matrix

    probe = load_probe_matrix(os.path.join(sf_dir, "embeddings.parquet"), 10)
    return brute_force_topk(_embeddings(spark, sf_dir), n_queries=10, k=5,
                            probe=probe)


def _ann_lsh_oracle(n_queries: int = 10, k: int = 5, n_planes: int = 8,
                    n_flip: int = 0) -> str:
    """Exact mirror of similarity.ann_topk: approximate w.r.t. true
    neighbors (bucket-restricted recall) but fully DETERMINISTIC —
    md5-derived buckets, exact integer cosine, (cosine DESC,
    neighbor_id) tie-break — so the value hash is checkable. With
    ``n_flip`` > 0 it also mirrors the multi-probe set: each query
    probes its own bucket plus the ``n_flip`` single-bit flips of its
    lowest-|projection| planes, tie-broken (abs(proj) ASC, plane ASC)
    exactly like srp_probe_buckets."""
    bits = []
    for p in range(n_planes):
        sign = (
            f"((('0x' || substr(md5(concat('{p}', ':', CAST(i - 1 AS VARCHAR))), 32, 1))::INT % 2) * 2 - 1)"
        )
        bits.append(
            "CASE WHEN CAST(list_sum(list_transform(generate_series(1, len(q)), "
            f"i -> q[i] * {sign})) AS BIGINT) > 0 THEN '1' ELSE '0' END"
        )
    bucket = "concat(" + ", ".join(bits) + ")"
    # sign expression with the plane as a COLUMN (for the long-form
    # projection CTE) — same md5 bit as the per-plane literals above
    sign_p = ("((('0x' || substr(md5(concat(CAST(t.p AS VARCHAR), ':', "
              "CAST(i - 1 AS VARCHAR))), 32, 1))::INT % 2) * 2 - 1)")
    if n_flip > 0:
        probes = f"""
    projs AS (
      SELECT vec_id, t.p AS p,
             CAST(list_sum(list_transform(generate_series(1, len(q)),
                                          i -> q[i] * {sign_p})) AS BIGINT) AS proj
      FROM qv, unnest(generate_series(0, {n_planes - 1})) t(p)
      WHERE vec_id < {n_queries}
    ),
    flips AS (
      SELECT vec_id, p FROM (
        SELECT vec_id, p,
               row_number() OVER (PARTITION BY vec_id ORDER BY abs(proj), p) AS rk
        FROM projs
      ) WHERE rk <= {n_flip}
    ),
    probes AS (
      SELECT vec_id, bucket FROM nv WHERE vec_id < {n_queries}
      UNION ALL
      SELECT f.vec_id,
             concat(substr(b.bucket, 1, f.p),
                    CASE WHEN substr(b.bucket, f.p + 1, 1) = '1'
                         THEN '0' ELSE '1' END,
                    substr(b.bucket, f.p + 2)) AS bucket
      FROM flips f JOIN nv b ON b.vec_id = f.vec_id
    ),"""
        scored_from = f"""FROM probes pb
      JOIN nv qs ON qs.vec_id = pb.vec_id
      JOIN nv n ON n.bucket = pb.bucket AND n.vec_id != pb.vec_id"""
    else:
        probes = ""
        scored_from = f"""FROM nv qs JOIN nv n ON qs.bucket = n.bucket AND qs.vec_id != n.vec_id
      WHERE qs.vec_id < {n_queries}"""
    return f"""WITH qv AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS q
      FROM embeddings
    ),
    nv AS (
      SELECT vec_id, q,
             CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS norm2,
             {bucket} AS bucket
      FROM qv
    ),{probes}
    scored AS (
      SELECT qs.vec_id AS query_id, n.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(generate_series(1, len(qs.q)),
                                          i -> qs.q[i] * n.q[i])) AS DOUBLE)
               / (sqrt(CAST(qs.norm2 AS DOUBLE)) * sqrt(CAST(n.norm2 AS DOUBLE))) AS cosine
      {scored_from}
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {k}"""


@register("similarity_ann_lsh", _ann_lsh_oracle(n_flip=2))
def q_similarity_ann_lsh(spark, sf_dir):
    """Multi-probe SRP ANN top-k (round 5: each query also probes the
    2 lowest-margin single-bit-flip buckets) — approximate recall by
    design, but deterministic end to end, so it carries a full
    value-hash oracle including the probe-set CTE. Recall note
    (ANN_RECALL.json): on the ×10 corpus recall@10 is ceilinged at
    ~0.90 by the DATA, not the index — replica families have exactly 9
    true neighbors (rank-9 cosine = 1.0) and the 10th-ranked
    "neighbor" is isotropic noise at cosine ≈ 0.41, which any LSH is
    designed to exclude; recall@9 is 1.0 even single-probe. Multi-probe
    still widens boundary coverage where boundaries matter (+0.3pp at
    2.8x candidates here, more on corpora with graded similarity)."""
    return ann_topk(_embeddings(spark, sf_dir), n_queries=10, k=5, n_flip=2)


_TOKEN_RE_SQL = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


@register(
    "text_profile",
    f"""WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents)
    SELECT doc_id,
           CAST(len(words) AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(text, '{_TOKEN_RE_SQL}')) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct_words,
           CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE) / len(words) AS avg_word_len,
           CAST(len(list_filter(words, x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
             / len(words) AS stopword_ratio,
           CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS distinct_ratio
    FROM w""",
)
def q_text_profile(spark, sf_dir):
    return text_profile(_docs(spark, sf_dir))


@register(
    "text_quality_flags",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    p AS (
      SELECT doc_id, len(words) AS n_words,
             CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS distinct_ratio
      FROM w
    )
    SELECT doc_id,
           CAST(CASE WHEN n_words >= 20 THEN 1 ELSE 0 END AS BIGINT) AS passes_length,
           CAST(CASE WHEN distinct_ratio >= 0.2 THEN 1 ELSE 0 END AS BIGINT) AS passes_diversity,
           CAST(CASE WHEN n_words >= 20 AND distinct_ratio >= 0.2 THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM p""",
)
def q_text_quality_flags(spark, sf_dir):
    return quality_flags(_docs(spark, sf_dir))


@register(
    "text_lang_id",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    s AS (
      SELECT doc_id,
             CAST(len(list_filter(words, x -> x IN ('the','and','of'))) AS INT) AS s_en,
             CAST(len(list_filter(words, x -> x IN ('el','la','los'))) AS INT) AS s_es,
             CAST(len(list_filter(words, x -> x IN ('der','und','das'))) AS INT) AS s_de,
             CAST(len(list_filter(words, x -> x IN ('le','les','des'))) AS INT) AS s_fr
      FROM w
    )
    SELECT doc_id, s_en, s_es, s_de, s_fr,
           CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
                WHEN (CASE WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 1 ELSE 0 END
                    + CASE WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 1 ELSE 0 END
                    + CASE WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 1 ELSE 0 END
                    + CASE WHEN s_fr = greatest(s_en, s_es, s_de, s_fr) THEN 1 ELSE 0 END) > 1 THEN 'und'
                WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
                WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
                WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
                ELSE 'fr' END AS lang_pred
    FROM s""",
)
def q_text_lang_id(spark, sf_dir):
    return lang_id(_docs(spark, sf_dir))


@register(
    "text_fingerprints",
    """WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents),
    g AS (
      SELECT doc_id, text,
             list_transform(generate_series(1, greatest(len(words) - 4, 0)),
                            i -> md5(array_to_string(words[i:i+4], ' '))) AS grams
      FROM w
    )
    SELECT doc_id,
           md5(text) AS content_md5,
           md5(regexp_replace(lower(text), ' +', ' ', 'g')) AS normalized_md5,
           list_min(grams) AS min_shingle_md5,
           list_max(grams) AS max_shingle_md5
    FROM g""",
)
def q_text_fingerprints(spark, sf_dir):
    return fingerprints(_docs(spark, sf_dir))


@register(
    "multimodal_metadata",
    """SELECT doc_id,
              CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
              md5(text) AS content_md5,
              CAST(octet_length(encode(text)) % 1920 AS INT) AS fake_width,
              CAST(octet_length(encode(text)) % 1080 AS INT) AS fake_height,
              CAST(3 AS INT) AS fake_channels
       FROM documents""",
)
def q_multimodal_metadata(spark, sf_dir):
    return media_metadata(_docs(spark, sf_dir))


@register(
    "training_corpus_safe",
    r"""WITH words AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
    prof AS (
      SELECT doc_id, text, w, len(w) AS n_words,
             CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS dr
      FROM words
    ),
    g5 AS (
      SELECT doc_id, array_to_string(w[i:i+4], ' ') AS g
      FROM words, unnest(generate_series(1, greatest(len(w) - 4, 0))) AS t(i)
    ),
    c5 AS (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY doc_id, g),
    d5 AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE) / SUM(c) AS dup5
      FROM c5 GROUP BY doc_id
    ),
    tr8 AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS s
      FROM words, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS t(i)
      WHERE doc_id % 20 <> 0
    ),
    ev8 AS (
      SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS s
      FROM words, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS t(i)
      WHERE doc_id % 20 = 0
    ),
    contaminated AS (SELECT DISTINCT tr8.doc_id FROM tr8 JOIN ev8 USING (s))
    SELECT p.doc_id,
           CAST(p.n_words AS BIGINT) AS n_words,
           d5.dup5 AS dup_5gram_frac
    FROM prof p
    JOIN d5 ON p.doc_id = d5.doc_id
    WHERE p.doc_id % 20 <> 0
      AND p.n_words >= 20 AND p.dr >= 0.2
      AND d5.dup5 < 0.3
      AND len(regexp_extract_all(p.text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) = 0
      AND len(regexp_extract_all(p.text, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) = 0
      AND len(regexp_extract_all(p.text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) = 0
      AND len(regexp_extract_all(p.text, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) = 0
      AND p.doc_id NOT IN (SELECT doc_id FROM contaminated)
      AND ('0x' || substr(md5('safe:' || CAST(p.doc_id AS VARCHAR)), 1, 15))::BIGINT
          / 1152921504606846976.0 < 0.5""",
)
def q_training_corpus_safe(spark, sf_dir):
    """The modern data-prep funnel composed from the oracled building
    blocks: quality gate (length+diversity) -> repetition cap
    (dup-5gram < 0.3) -> PII-free -> eval-decontaminated (8-gram,
    19:1 demo split) -> deterministic 50% hash sample.

    Scale: profile/PII/sample are narrow projections on the scan;
    repetition adds its two gram aggregations; the contamination drop
    is a left-anti hash join against the (tiny) flagged set. Filters
    compose as predicates — Catalyst pushes the cheap ones below the
    joins."""
    from trendmachine_spark.extensions.dedup import decontaminate
    from trendmachine_spark.extensions.sampling import hash_uniform
    from trendmachine_spark.extensions.text import (
        pii_stats, repetition_stats, text_profile,
    )

    docs = _docs(spark, sf_dir)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    evals = docs.filter(F.col("doc_id") % 20 == 0)
    prof = text_profile(train).select("doc_id", "n_words", "distinct_ratio")
    rep = repetition_stats(train).select("doc_id", "dup_5gram_frac")
    pii = pii_stats(train).select("doc_id", "has_pii")
    flagged = decontaminate(train, evals, k=8).select("doc_id")
    return (
        train.select("doc_id")
        .join(prof, "doc_id")
        .join(rep, "doc_id")
        .join(pii, "doc_id")
        .join(flagged, "doc_id", "left_anti")
        .filter(
            (F.col("n_words") >= 20)
            & (F.col("distinct_ratio") >= 0.2)
            & (F.col("dup_5gram_frac") < 0.3)
            & (F.col("has_pii") == 0)
            & (hash_uniform(F.col("doc_id"), "safe") < 0.5)
        )
        .select("doc_id", "n_words", "dup_5gram_frac")
    )


@register(
    "text_pii_stats",
    r"""SELECT doc_id,
              CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
              CAST(len(regexp_extract_all(text, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ipv4,
              CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
              CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS BIGINT) AS n_ssn_like,
              CAST((len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) > 0
                 OR len(regexp_extract_all(text, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) > 0
                 OR len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) > 0
                 OR len(regexp_extract_all(text, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) > 0) AS BIGINT) AS has_pii
       FROM documents""",
)
def q_text_pii_stats(spark, sf_dir):
    """PII pattern counts (email / ipv4 / phone / ssn-like) — RE2-safe
    regexes count identically in Spark and DuckDB."""
    from trendmachine_spark.extensions.text import pii_stats

    return pii_stats(_docs(spark, sf_dir))


@register(
    "text_repetition_stats",
    """WITH words AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
    bg AS (
      SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g
      FROM words, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS t(i)
    ),
    bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
    topb AS (
      SELECT doc_id, g, c FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rk
        FROM bc
      ) WHERE rk = 1
    ),
    g5 AS (
      SELECT doc_id, array_to_string(w[i:i+4], ' ') AS g
      FROM words, unnest(generate_series(1, greatest(len(w) - 4, 0))) AS t(i)
    ),
    c5 AS (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY doc_id, g),
    d5 AS (
      SELECT doc_id,
             SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_occ,
             SUM(c) AS tot
      FROM c5 GROUP BY doc_id
    ),
    chars AS (SELECT doc_id, length(text) AS nc FROM documents)
    SELECT chars.doc_id,
           topb.g AS top_bigram,
           CAST(topb.c AS BIGINT) AS top_bigram_count,
           CAST(topb.c * length(topb.g) AS DOUBLE) / nc AS top_bigram_char_frac,
           CAST(dup_occ AS DOUBLE) / tot AS dup_5gram_frac
    FROM chars
    JOIN topb ON chars.doc_id = topb.doc_id
    JOIN d5 ON chars.doc_id = d5.doc_id""",
)
def q_text_repetition_stats(spark, sf_dir):
    """Gopher-style repetition metrics (top-bigram coverage, duplicate
    5-gram fraction) — the boilerplate/spam filter axis."""
    from trendmachine_spark.extensions.text import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


@register(
    "corpus_decontaminate",
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    tr AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS s
      FROM words, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS t(i)
      WHERE doc_id % 20 <> 0
    ),
    ev AS (
      SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS s
      FROM words, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS t(i)
      WHERE doc_id % 20 = 0
    )
    SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated_ngrams
    FROM tr JOIN ev USING (s) GROUP BY tr.doc_id""",
)
def q_corpus_decontaminate(spark, sf_dir):
    """Eval decontamination demo split: every 20th doc plays the eval
    benchmark, the rest are the training corpus; flags train docs
    sharing an 8-gram with eval (broadcast eval shingle set)."""
    from trendmachine_spark.extensions.dedup import decontaminate

    docs = _docs(spark, sf_dir)
    return decontaminate(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
        k=8,
    )


@register(
    "corpus_sample_stratified",
    """SELECT doc_id, lang, source
       FROM documents
       WHERE ('0x' || substr(md5('tm:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             / 1152921504606846976.0
             < CASE WHEN lang = 'en' THEN 0.5 ELSE 0.2 END""",
)
def q_corpus_sample_stratified(spark, sf_dir):
    """Deterministic per-language hash sampling (keep 50% en / 20%
    rest) — membership is a pure function of (salt, doc_id), so the
    sample is reproducible across runs, engines, and partitionings."""
    from trendmachine_spark.extensions.sampling import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir), strata_col="lang", rates={"en": 0.5},
        default_rate=0.2,
    ).select("doc_id", "lang", "source")


@register(
    "training_splits",
    """WITH assigned AS (
      SELECT source,
             CASE WHEN u < 0.05 THEN 'valid'
                  WHEN u < 0.1 THEN 'test'
                  ELSE 'train' END AS split,
             chars
      FROM (SELECT source, length(text) AS chars,
            ('0x' || substr(md5('split3:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
              / 1152921504606846976.0 AS u FROM documents))
    SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(chars) AS BIGINT) AS total_chars
    FROM assigned GROUP BY source, split""",
)
def q_training_splits(spark, sf_dir):
    """Deterministic train/valid/test assignment (sampling.split_assign:
    one hash uniform, two thresholds — disjoint, exhaustive,
    partition-independent) rolled up per (source, split). The split
    column is a narrow codegen projection; the report is one
    map-combined aggregate."""
    from trendmachine_spark.extensions.sampling import split_assign

    docs = _docs(spark, sf_dir)
    return (
        split_assign(docs)
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
        )
    )


@register(
    "split_leakage_report",
    """WITH assigned AS (
      SELECT CASE WHEN u < 0.05 THEN 'valid'
                  WHEN u < 0.1 THEN 'test'
                  ELSE 'train' END AS split,
             md5(array_to_string((string_split(text, ' '))[1:8], ' ')) AS m
      FROM (SELECT doc_id, text,
            ('0x' || substr(md5('split3:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
              / 1152921504606846976.0 AS u FROM documents)),
    fam AS (
      SELECT split,
             count(*) OVER (PARTITION BY m) AS fam_n,
             count(DISTINCT split) OVER (PARTITION BY m) AS fam_splits
      FROM assigned)
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN fam_n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
           CAST(sum(CASE WHEN fam_splits > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked_docs
    FROM fam GROUP BY split""",
)
def q_split_leakage_report(spark, sf_dir):
    """Train/eval contamination measurement for a naive id-hash split
    (sampling.split_leakage): documents whose opening-8-gram family
    straddles splits are leaked eval content. Spark mirrors DuckDB's
    count(DISTINCT) window with size(collect_set) — one fingerprint
    exchange, then a 3-row aggregate."""
    from trendmachine_spark.extensions.sampling import split_leakage

    return split_leakage(_docs(spark, sf_dir))


@register(
    "multimodal_resize",
    """SELECT doc_id,
              CAST(64 AS INT) AS out_width,
              CAST(64 AS INT) AS out_height,
              CAST(length(text) AS BIGINT) AS n_chars_in,
              CAST(least(length(text), 4096) AS BIGINT) AS n_chars_out,
              md5(substr(text, 1, 4096)) AS resized_md5
       FROM documents""",
)
def q_multimodal_resize(spark, sf_dir):
    """Deterministic fake resize (PIL slot) over binary assets —
    char-truncate + md5, engine-portable (see resize_assets)."""
    from trendmachine_spark.extensions.multimodal import resize_assets, to_binary_assets

    return resize_assets(to_binary_assets(_docs(spark, sf_dir)))


@register(
    "multimodal_frame_sample",
    """WITH f AS (
      SELECT doc_id, text, length(text) // 32 AS n_frames FROM documents
    ),
    g AS (
      SELECT doc_id, text,
             unnest(range(0, CAST(least(n_frames, 32) AS BIGINT))) AS i
      FROM f
    )
    SELECT doc_id,
           CAST(i AS INT) AS frame_idx,
           CAST(i // 4 AS INT) AS sample_ord,
           md5(substr(text, CAST(i*32 + 1 AS BIGINT), 32)) AS frame_md5
    FROM g WHERE i % 4 = 0""",
)
def q_multimodal_frame_sample(spark, sf_dir):
    """Deterministic fake frame sampling (ffmpeg slot): every 4th
    32-char frame, at most 8 samples per asset (cap = 4*8 = 32 frames,
    mirrored in the oracle as ``least(n_frames, 32)``)."""
    from trendmachine_spark.extensions.multimodal import frame_sample, to_binary_assets

    return frame_sample(to_binary_assets(_docs(spark, sf_dir)))


#: side = doc_id % 2 over ``bands`` and the per-side bucket counts,
#: shared by the two cross-corpus oracles
_SIDED_SQL = """sided AS (SELECT doc_id, band, bucket, doc_id % 2 AS side FROM bands),
    scnt AS (
      SELECT band, bucket,
             sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS na,
             sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS nb
      FROM sided GROUP BY band, bucket
    )"""


def _cross_corpus_oracle(min_jaccard: float = 0.8) -> str:
    """Exact mirror of dedup.cross_corpus_near_dup on the even/odd
    doc_id split: the _band_ctes chain, side = doc_id % 2
    (_SIDED_SQL), candidate buckets must hold BOTH sides with NEITHER
    side over MAX_LSH_BUCKET (the
    boilerplate-template drop, mirrored), pairs are A x B only, and
    the verifier recomputes exact distinct-shingle jaccard as one
    double division of exact integers (same expression order as the
    Spark filter)."""
    from trendmachine_spark.extensions.dedup import MAX_LSH_BUCKET

    return f"""WITH {_band_ctes()},
    {_SIDED_SQL},
    ok AS (
      SELECT band, bucket FROM scnt
      WHERE na > 0 AND nb > 0
        AND na <= {MAX_LSH_BUCKET} AND nb <= {MAX_LSH_BUCKET}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM sided a
           JOIN ok o ON a.band = o.band AND a.bucket = o.bucket
           JOIN sided b ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.side = 0 AND b.side = 1
    ),
    dsizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.a_id, c.b_id, count(*) AS i
      FROM cand c JOIN sh x ON x.doc_id = c.a_id
           JOIN sh y ON y.doc_id = c.b_id AND y.shingle = x.shingle
      GROUP BY c.a_id, c.b_id
    )
    SELECT t.a_id, t.b_id,
           CAST(t.i AS DOUBLE) / (sa.n + sb.n - t.i) AS jaccard
    FROM inter t JOIN dsizes sa ON sa.doc_id = t.a_id
         JOIN dsizes sb ON sb.doc_id = t.b_id
    WHERE CAST(t.i AS DOUBLE) / (sa.n + sb.n - t.i) >= {min_jaccard}"""


@register("dedup_cross_corpus", _cross_corpus_oracle())
def q_dedup_cross_corpus(spark, sf_dir):
    """Cross-corpus near-dup (round 14) — the corpus-MERGE shape: two
    large corpora (even/odd doc_id halves standing in for two crawls)
    where neither side broadcasts; candidates come from a
    co-partitioned (band, bucket) equi-join emitting ONLY cross-side
    pairs, buckets where either side exceeds MAX_LSH_BUCKET dropped as
    non-discriminative boilerplate (oracle-mirrored), and every
    candidate verified by exact distinct-shingle jaccard >= 0.8.
    Complements incremental_dedup (broadcast-delta asymmetric shape)
    and minhash_near_dup (within-corpus self-join)."""
    from trendmachine_spark.extensions.dedup import cross_corpus_near_dup

    docs = _docs(spark, sf_dir)
    return cross_corpus_near_dup(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1))


def _cross_corpus_health_oracle() -> str:
    """Per-band health of the cross-corpus candidate generation —
    shares the _SIDED_SQL chain with _cross_corpus_oracle and reports
    the exact candidate-pair volume the per-side cap dropped vs kept
    (the no-silent-caps metric for the merge shape)."""
    from trendmachine_spark.extensions.dedup import MAX_LSH_BUCKET

    return f"""WITH {_band_ctes()},
    {_SIDED_SQL},
    shared AS (
      SELECT band, bucket, na, nb,
             CASE WHEN na > {MAX_LSH_BUCKET} OR nb > {MAX_LSH_BUCKET}
                  THEN 1 ELSE 0 END AS dropped
      FROM scnt WHERE na > 0 AND nb > 0
    )
    SELECT CAST(band AS BIGINT) AS band,
           CAST(count(*) AS BIGINT) AS n_shared_buckets,
           CAST(sum(dropped) AS BIGINT) AS n_dropped,
           CAST(max(na) AS BIGINT) AS max_side_a,
           CAST(max(nb) AS BIGINT) AS max_side_b,
           CAST(sum(CASE WHEN dropped = 0 THEN na * nb ELSE 0 END) AS BIGINT) AS pairs_kept,
           CAST(sum(CASE WHEN dropped = 1 THEN na * nb ELSE 0 END) AS BIGINT) AS pairs_dropped
    FROM shared GROUP BY band"""


@register("cross_corpus_bucket_health", _cross_corpus_health_oracle())
def q_cross_corpus_bucket_health(spark, sf_dir):
    """No-silent-caps metric for the cross-corpus merge (round 14):
    per band, shared buckets, buckets the per-side cap dropped, and
    the exact candidate-pair volume dropped vs kept."""
    from trendmachine_spark.extensions.dedup import cross_corpus_bucket_health

    docs = _docs(spark, sf_dir)
    return cross_corpus_bucket_health(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1))


@register(
    "corpus_merge_report",
    f"""WITH verified AS ({{CROSS}}),
    bdocs AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 2 = 1
    ),
    adocs AS (
      SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0
    ),
    kmin AS (
      SELECT doc_id, h, min(doc_id) OVER (PARTITION BY h) AS km FROM bdocs
    ),
    near AS (SELECT DISTINCT b_id FROM verified)
    SELECT k.doc_id,
           CAST(CASE WHEN a.h IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS exact_dup_a,
           CAST(CASE WHEN k.km < k.doc_id THEN 1 ELSE 0 END AS BIGINT) AS exact_dup_b,
           CAST(CASE WHEN n.b_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS near_dup_a,
           CAST(CASE WHEN a.h IS NULL AND k.km >= k.doc_id AND n.b_id IS NULL
                THEN 1 ELSE 0 END AS BIGINT) AS admit
    FROM kmin k LEFT JOIN adocs a ON k.h = a.h
         LEFT JOIN near n ON k.doc_id = n.b_id""".replace(
        "{CROSS}", _cross_corpus_oracle()),
)
def q_corpus_merge_report(spark, sf_dir):
    """Per-document decision output of a symmetric corpus merge (round
    14): every odd-half (incoming) doc classified against the even
    half (existing) — exact cross dup (co-partitioned md5 equi-join,
    no broadcast), within-incoming dup (hash-window keeper), verified
    cross near-dup (the cross_corpus_near_dup plan), and the admit bit
    a merge job acts on. The symmetric sibling of dedup_incremental."""
    from trendmachine_spark.extensions.dedup import corpus_merge_report

    docs = _docs(spark, sf_dir)
    return corpus_merge_report(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1))
