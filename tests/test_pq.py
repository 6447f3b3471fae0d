"""Product-quantization ANN (round 11): codebook training
determinism, encode compression contract, ADC ranking invariants,
and the distortion report's conservation properties.

The hash-exact DuckDB parity for ``similarity_pq_topk`` and
``pq_distortion`` lives in test_oracle_parity.py like every other
oracled query; these tests pin the properties the oracle can't see —
partition invariance of the trained codebooks, the no-member seed
fallback, and the LUT scorer's agreement with a direct reconstruction
dot product.
"""
from __future__ import annotations

import numpy as np
import pytest

from trendmachine_spark.extensions.similarity import (
    pq_codebooks,
    pq_distortion,
    pq_encode,
    pq_topk,
    quantize_embeddings,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def qv(spark, emb):
    return quantize_embeddings(emb)


def test_codebooks_partition_invariant(qv):
    """Lloyd training aggregates exact int64 partials, so the trained
    books must be bit-identical under any input partitioning."""
    cb1 = pq_codebooks(qv, refine=1)
    cb2 = pq_codebooks(qv.repartition(7), refine=1)
    assert np.array_equal(cb1, cb2)


def test_codebooks_shape_and_refine_zero_is_seeds(qv):
    cb0 = pq_codebooks(qv, refine=0)
    assert cb0.shape == (8, 16, 8)
    rows = sorted(
        qv.filter("vid < 16").collect(), key=lambda r: r["vid"]
    )
    S = np.array([r["qvec"] for r in rows], dtype=np.int64)
    for m in range(8):
        assert np.array_equal(cb0[m], S[:, m * 8:(m + 1) * 8])


def test_empty_corpus_paths(spark):
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int")
    assert pq_topk(empty).count() == 0
    assert pq_distortion(empty).count() == 0


def test_encode_is_compressed_and_in_code_range(qv):
    cb = pq_codebooks(qv)
    enc = pq_encode(qv, cb).collect()
    n = qv.count()
    assert len(enc) == n
    for r in enc:
        assert len(r["codes"]) == 8
        assert all(0 <= c < 16 for c in r["codes"])
        assert r["rnorm2"] >= 0


def test_encode_rnorm2_matches_codebook_norms(qv):
    cb = pq_codebooks(qv)
    cbn2 = (cb ** 2).sum(axis=2)
    for r in pq_encode(qv, cb).limit(50).collect():
        expect = sum(int(cbn2[m, c]) for m, c in enumerate(r["codes"]))
        assert r["rnorm2"] == expect


def test_adc_score_matches_reconstruction_dot(qv, emb):
    """LUT gather scoring == dot(query, concat(codewords)) — the ADC
    identity; checked against a driver-side reconstruction."""
    cb = pq_codebooks(qv)
    codes = {r["vid"]: (list(r["codes"]), r["rnorm2"])
             for r in pq_encode(qv, cb).collect()}
    qrows = {r["vid"]: (np.array(r["qvec"], dtype=np.int64), r["norm2"])
             for r in qv.filter("vid < 10").collect()}
    out = pq_topk(emb, n_queries=10, k=5).collect()
    assert out, "expected non-empty top-k"
    for r in out:
        q, qn2 = qrows[r["query_id"]]
        cds, rn2 = codes[r["neighbor_id"]]
        recon = np.concatenate([cb[m, c] for m, c in enumerate(cds)])
        adot = int(q @ recon)
        expect = adot / (np.sqrt(float(qn2)) * np.sqrt(float(rn2)))
        assert r["adc_cosine"] == pytest.approx(expect, abs=0.0), (
            r["query_id"], r["neighbor_id"])


def test_topk_shape_and_rank_contract(emb):
    out = pq_topk(emb, n_queries=10, k=5)
    rows = out.collect()
    by_q: dict = {}
    for r in rows:
        assert r["query_id"] != r["neighbor_id"]
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        cos = [r["adc_cosine"] for r in rs]
        assert cos == sorted(cos, reverse=True)


def test_topk_partition_invariant(emb):
    a = {(r["query_id"], r["rank"]): r["neighbor_id"]
         for r in pq_topk(emb, n_queries=5, k=3).collect()}
    b = {(r["query_id"], r["rank"]): r["neighbor_id"]
         for r in pq_topk(emb.repartition(9), n_queries=5, k=3).collect()}
    assert a == b


def test_distortion_conservation(qv, emb):
    """Every vector contributes to every subspace exactly once, and
    total_sq_err equals the sum of per-vector best distances."""
    rows = pq_distortion(emb).collect()
    assert len(rows) == 8
    n = qv.count()
    cb = pq_codebooks(qv)
    V = np.array(
        [r["qvec"] for r in sorted(qv.collect(), key=lambda r: r["vid"])],
        dtype=np.int64,
    )
    for r in rows:
        assert r["n_vecs"] == n
        assert 1 <= r["codes_used"] <= 16
        m = r["subspace"]
        sub = V[:, m * 8:(m + 1) * 8]
        d = ((sub[:, None, :] - cb[m][None]) ** 2).sum(axis=2)
        assert r["total_sq_err"] == int(d.min(axis=1).sum())


def test_ivfpq_neighbors_come_from_probed_cells(qv, emb):
    """Every returned neighbor must sit in one of its query's n_probe
    best cells — the candidate-restriction contract."""
    import numpy as np

    from trendmachine_spark.extensions.similarity import (
        ivf_centroids,
        ivfpq_topk,
    )

    cells, Cm, cnm = ivf_centroids(qv, 16, refine=1)
    rows = sorted(qv.collect(), key=lambda r: r["vid"])
    V = np.array([r["qvec"] for r in rows], dtype=np.int64)
    vids = np.array([r["vid"] for r in rows], dtype=np.int64)
    aff = (V @ Cm.T) / cnm[None, :]
    cell_of = {int(v): int(cells[i])
               for v, i in zip(vids, np.argmax(aff, axis=1))}
    probed: dict[int, set] = {}
    for q in range(10):
        j = int(np.where(vids == q)[0][0])
        key = np.where(np.isnan(aff[j]), np.inf, -aff[j])
        order = np.lexsort((cells, key))[:2]
        probed[q] = {int(cells[i]) for i in order}
    out = ivfpq_topk(emb, n_queries=10, k=5, n_cells=16, n_probe=2).collect()
    assert out
    for r in out:
        assert cell_of[r["neighbor_id"]] in probed[r["query_id"]], r


def test_ivfpq_partition_invariant(emb):
    from trendmachine_spark.extensions.similarity import ivfpq_topk

    a = {(r["query_id"], r["rank"]): r["neighbor_id"]
         for r in ivfpq_topk(emb, n_queries=5, k=3).collect()}
    b = {(r["query_id"], r["rank"]): r["neighbor_id"]
         for r in ivfpq_topk(emb.repartition(9), n_queries=5, k=3).collect()}
    assert a == b


def test_ivfpq_empty_corpus(spark):
    from trendmachine_spark.extensions.similarity import ivfpq_topk

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int")
    assert ivfpq_topk(empty).count() == 0


def test_ivfpq_full_probe_equals_pq_on_probed_union(emb):
    """With n_probe = n_cells every cell is probed, so IVFPQ must
    reduce exactly to the full-corpus PQ scan."""
    from trendmachine_spark.extensions.similarity import ivfpq_topk, pq_topk

    a = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["adc_cosine"])
         for r in ivfpq_topk(emb, n_queries=5, k=3,
                             n_cells=16, n_probe=16).collect()}
    b = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["adc_cosine"])
         for r in pq_topk(emb, n_queries=5, k=3).collect()}
    assert a == b


def test_pq_rerank_candidates_come_from_adc_stage(emb):
    from trendmachine_spark.extensions.similarity import (
        pq_rerank_topk,
        pq_topk,
    )

    cand = {(r["query_id"], r["neighbor_id"])
            for r in pq_topk(emb, n_queries=5, k=12).collect()}
    out = pq_rerank_topk(emb, n_queries=5, k=3, expand=4).collect()
    assert out
    for r in out:
        assert (r["query_id"], r["neighbor_id"]) in cand


def test_pq_rerank_full_expand_equals_brute_force(emb):
    """With k*expand >= corpus size every vector is a candidate, so
    the exact re-rank must reproduce brute-force exactly (values
    included)."""
    from trendmachine_spark.extensions.similarity import (
        brute_force_topk,
        pq_rerank_topk,
    )

    a = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
         for r in pq_rerank_topk(emb, n_queries=5, k=3, expand=200).collect()}
    b = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
         for r in brute_force_topk(emb, n_queries=5, k=3).collect()}
    assert a == b


def test_pq_rerank_partition_invariant(emb):
    from trendmachine_spark.extensions.similarity import pq_rerank_topk

    a = {(r["query_id"], r["rank"]): r["neighbor_id"]
         for r in pq_rerank_topk(emb, n_queries=5, k=3).collect()}
    b = {(r["query_id"], r["rank"]): r["neighbor_id"]
         for r in pq_rerank_topk(emb.repartition(9), n_queries=5,
                                 k=3).collect()}
    assert a == b


def test_pq_rerank_auto_defaults_pinned(emb):
    """r14 verdict #3: the density-adaptive serving defaults are API
    contract — min_expand=4 (the tuned fixed-expand floor the rule may
    only widen), max_expand=PQ_RERANK_MAX_EXPAND=8 (the stage-1 cap
    that bounds the broadcast side at n_queries*k*8 rows)."""
    import inspect

    from trendmachine_spark.extensions.similarity import (
        PQ_RERANK_MAX_EXPAND,
        pq_rerank_auto_topk,
        pq_topk,
    )

    assert PQ_RERANK_MAX_EXPAND == 8
    sig = inspect.signature(pq_rerank_auto_topk)
    assert sig.parameters["min_expand"].default == 4
    assert sig.parameters["max_expand"].default == PQ_RERANK_MAX_EXPAND
    # candidates can only come from the capped stage-1 set
    cand = {(r["query_id"], r["neighbor_id"])
            for r in pq_topk(emb, n_queries=5, k=3 * 8).collect()}
    out = pq_rerank_auto_topk(emb, n_queries=5, k=3).collect()
    assert out
    for r in out:
        assert (r["query_id"], r["neighbor_id"]) in cand


@pytest.fixture(scope="module")
def plateau_emb(spark):
    """64 near-copies of one vector — the x40 replica regime in
    miniature: true separations are tiny, so the ADC scan's top ranks
    are a near-tie plateau. Aperiodic integer perturbations (101 is
    coprime to everything in sight) give 64 DISTINCT patterns that 16
    codewords per subspace cannot memorize, so ADC has genuine
    quantization error here (the 7-periodic variant collapses to 7
    patterns and ADC becomes exact — too easy)."""
    base = np.arange(1, 65, dtype=np.float64)
    base /= np.linalg.norm(base)
    rows = []
    for i in range(64):
        pert = np.array([(((i * i * 31 + j * 17 + i * j * 13) % 101) - 50)
                         * 2e-4 for j in range(64)])
        rows.append((i, [float(x) for x in (base + pert)], 0))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")


def _recall_sets(rows_):
    import collections

    s = collections.defaultdict(set)
    for r in rows_:
        s[r["query_id"]].add(r["neighbor_id"])
    return s


def test_pq_rerank_auto_widen_only_dominates_floor(plateau_emb):
    """The rule's safety contract: the measured plateau band may only
    WIDEN the candidate set beyond the min_expand floor, so auto
    recall can never fall below the fixed-expand default's — pinned on
    the worst-case corpus where the pure-band variant measured 0.70 vs
    the floor's 0.85 (ADC error dwarfs even the observed top-k
    spread)."""
    from trendmachine_spark.extensions.similarity import (
        brute_force_topk,
        pq_rerank_auto_topk,
        pq_rerank_topk,
    )

    bf = _recall_sets(brute_force_topk(plateau_emb, 4, 5).collect())

    def recall(rows_):
        s = _recall_sets(rows_)
        return sum(len(s[q] & bf[q]) for q in bf) / (5 * len(bf))

    r_auto = recall(pq_rerank_auto_topk(plateau_emb, 4, 5).collect())
    r_floor = recall(pq_rerank_topk(plateau_emb, 4, 5, expand=4).collect())
    assert r_auto >= r_floor


def test_pq_rerank_auto_band_widens_on_exact_tie_mass(spark):
    """The rule's reason to exist: when the retrieved set is one
    exact-tie plateau (64 identical vectors — s1 == sk, the band
    degenerates to 'everything at the plateau score'), the rule must
    select candidates BEYOND the min_expand floor so the whole tie
    mass reaches the exact stage — verified by applying the pinned
    rule to the stage-1 scores directly."""
    import collections

    from trendmachine_spark.extensions.similarity import pq_topk

    base = np.arange(1, 65, dtype=np.float64)
    base /= np.linalg.norm(base)
    vec = [float(x) for x in base]
    emb_ties = spark.createDataFrame(
        [(i, vec, 0) for i in range(64)],
        "vec_id long, embedding array<float>, label int")
    k = 5
    byq = collections.defaultdict(list)
    for r in sorted(pq_topk(emb_ties, 4, k * 8).collect(),
                    key=lambda r: (r["query_id"], r["rank"])):
        byq[r["query_id"]].append(r["adc_cosine"])
    assert byq
    for scores in byq.values():
        s1, sk = scores[0], scores[min(k, len(scores)) - 1]
        thr = sk - (s1 - sk)
        kept = sum(1 for i, s in enumerate(scores)
                   if s >= thr or i < k * 4)
        assert kept > k * 4  # the tie mass (40 retrieved) > floor (20)


def test_ivfpq_rerank_auto_defaults_and_candidates(emb):
    """r14: the IVFPQ auto serving defaults are API contract —
    min_expand=4 (PQ's floor: same quantizer precision, same density
    exposure), max_expand=8 — and candidates can only come from the
    capped, cell-pruned stage-1 set."""
    import inspect

    from trendmachine_spark.extensions.similarity import (
        PQ_RERANK_MAX_EXPAND,
        ivfpq_rerank_auto_topk,
        ivfpq_topk,
    )

    sig = inspect.signature(ivfpq_rerank_auto_topk)
    assert sig.parameters["min_expand"].default == 4
    assert sig.parameters["max_expand"].default == PQ_RERANK_MAX_EXPAND
    cand = {(r["query_id"], r["neighbor_id"])
            for r in ivfpq_topk(emb, n_queries=5, k=3 * 8,
                                n_cells=16, n_probe=2).collect()}
    out = ivfpq_rerank_auto_topk(emb, n_queries=5, k=3,
                                 n_cells=16, n_probe=2).collect()
    assert out
    for r in out:
        assert (r["query_id"], r["neighbor_id"]) in cand


# ---------------------------- incremental index append (round 14)


def test_ivfpq_append_equals_built_whole(spark, emb, tmp_path):
    """The append guarantee, Spark-side: base-trained structures +
    appended delta serve bit-identically to an index built WHOLE with
    the same frozen structures, and the combined index holds every
    vector exactly once (append added files, never rewrote base)."""
    from trendmachine_spark.extensions.similarity import (
        _ivfpq_encode_fn,
        ivfpq_index_append,
        ivfpq_index_write,
        ivfpq_topk_from_index,
        load_probe_matrix,
    )

    n = emb.count()
    base_n = n * 4 // 5
    seeds = load_probe_matrix(f"{SF}/embeddings.parquet", 16)
    pa = str(tmp_path / "appended")
    trained = ivfpq_index_write(
        emb.filter(f"vec_id < {base_n}"), pa, seed_probe=seeds)
    ivfpq_index_append(emb.filter(f"vec_id >= {base_n}"), pa, trained)

    pw = str(tmp_path / "whole")
    cells, Cm, cnm, cb = trained
    quantize_embeddings(emb).mapInPandas(
        _ivfpq_encode_fn(cells, Cm, cnm, cb),
        "vid long, cell long, codes array<int>, rnorm2 long",
    ).write.mode("overwrite").partitionBy("cell").parquet(pw)

    probe = load_probe_matrix(f"{SF}/embeddings.parquet", 10)
    a = ivfpq_topk_from_index(spark, pa, trained, probe=probe).collect()
    b = ivfpq_topk_from_index(spark, pw, trained, probe=probe).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) > 0
    assert spark.read.parquet(pa).count() == n


def test_probe_from_vectors_matches_parquet_probe():
    """The arrival-time probe path (streaming serve) must quantize
    bit-identically to the parquet probe path — same ids, Q, norm2."""
    import pyarrow.dataset as ds

    from trendmachine_spark.extensions.similarity import (
        load_probe_matrix,
        probe_from_vectors,
    )

    path = f"{SF}/embeddings.parquet"
    tbl = ds.dataset(path).to_table(
        columns=["vec_id", "embedding"], filter=ds.field("vec_id") < 10)
    pm_file = load_probe_matrix(path, 10)
    pm_wire = probe_from_vectors(
        tbl["vec_id"].to_numpy(), tbl["embedding"].to_pylist())
    for a, b in zip(pm_file, pm_wire):
        assert np.array_equal(np.asarray(a), np.asarray(b))


def test_train_cte_builders_default_unchanged():
    """train_max_sql=None must emit the historical SQL (no training
    WHERE clause) — the hook exists only for the append oracle."""
    from trendmachine_spark.registry_queries.ml_ann import (
        _ivf_refined_ctes,
        _pq_ctes,
    )

    assert "WHERE v.vec_id <" not in _ivf_refined_ctes(16)
    assert "WHERE s.vec_id <" not in _pq_ctes()
    bound = "(SELECT b FROM train_bound)"
    assert f"WHERE v.vec_id < {bound}" in _ivf_refined_ctes(
        16, train_max_sql=bound)
    assert f"WHERE s.vec_id < {bound}" in _pq_ctes(
        include_base=False, train_max_sql=bound)


# ---------------------------- filtered ANN serving (round 14)


def test_sq8_filtered_pre_vs_post_semantics(spark, emb):
    """Pre (selector) returns exactly k matching rows per query with
    every neighbor satisfying the predicate; post is a subset of
    stage-1 ∩ predicate and STARVES when the filter is selective —
    the measured trade the pre/post pair exists to expose."""
    from trendmachine_spark.extensions.similarity import (
        sq8_topk,
        sq8_topk_filtered,
    )

    labels = {r["vec_id"]: r["label"]
              for r in emb.select("vec_id", "label").collect()}
    n_label3 = sum(1 for v in labels.values() if v == 3)
    assert n_label3 >= 5  # predicate satisfiable at k=5

    pre = sq8_topk_filtered(emb, n_queries=5, k=5, label_value=3,
                            mode="pre").collect()
    assert len(pre) == 5 * 5
    assert all(labels[r["neighbor_id"]] == 3 for r in pre)
    per_q = {}
    for r in pre:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())

    stage1 = {(r["query_id"], r["neighbor_id"])
              for r in sq8_topk(emb, n_queries=5, k=20).collect()}
    post = sq8_topk_filtered(emb, n_queries=5, k=5, label_value=3,
                             mode="post", expand=4).collect()
    assert all((r["query_id"], r["neighbor_id"]) in stage1 for r in post)
    assert all(labels[r["neighbor_id"]] == 3 for r in post)
    # selective filter (~10% of the corpus) starves the naive pipeline
    assert len(post) < len(pre)

    with pytest.raises(ValueError):
        sq8_topk_filtered(emb, mode="nope")


# ---------------------------- numpy-kernel properties (no Spark jobs)

from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def _corpus_and_books(draw):
    rng = np.random.RandomState(draw(st.integers(0, 2**31 - 1)))
    n_sub = draw(st.sampled_from([2, 4]))
    ds = draw(st.sampled_from([2, 4]))
    n_k = draw(st.sampled_from([2, 4, 8]))
    n = draw(st.integers(1, 40))
    V = rng.randint(-5000, 5000, size=(n, n_sub * ds)).astype(np.int64)
    cb = rng.randint(-5000, 5000, size=(n_sub, n_k, ds)).astype(np.int64)
    return V, cb


@given(_corpus_and_books())
@settings(max_examples=60, deadline=None)
def test_pq_assign_matches_bruteforce_with_lowest_tie(data):
    """_pq_assign == per-row per-subspace argmin L2 with ties to the
    LOWEST code (the oracle's ORDER BY dist, code)."""
    from trendmachine_spark.extensions.similarity import _pq_assign

    V, cb = data
    n_sub, n_k, ds = cb.shape
    codes = _pq_assign(V, cb)
    for i in range(len(V)):
        for m in range(n_sub):
            sub = V[i, m * ds:(m + 1) * ds]
            dists = [int(((sub - cb[m, j]) ** 2).sum()) for j in range(n_k)]
            best = min(range(n_k), key=lambda j: (dists[j], j))
            assert codes[i, m] == best


@given(_corpus_and_books())
@settings(max_examples=60, deadline=None)
def test_adc_lut_gather_equals_reconstruction_dot(data):
    """LUT[q, m, code] summed over m == dot(q, concat(codewords)) —
    the ADC identity the scorer relies on, for arbitrary codes."""
    V, cb = data
    n_sub, n_k, ds = cb.shape
    Q = V[: min(len(V), 5)]
    lut = np.einsum("qmd,mkd->qmk", Q.reshape(len(Q), n_sub, ds), cb)
    rng = np.random.RandomState(7)
    codes = rng.randint(0, n_k, size=(len(V), n_sub))
    adc = np.zeros((len(Q), len(V)), dtype=np.int64)
    for m in range(n_sub):
        adc += lut[:, m, codes[:, m]]
    for qi in range(len(Q)):
        for vi in range(len(V)):
            recon = np.concatenate([cb[m, codes[vi, m]]
                                    for m in range(n_sub)])
            assert adc[qi, vi] == int(Q[qi] @ recon)


def test_codebooks_reject_indivisible_dim(spark):
    from trendmachine_spark.extensions.similarity import pq_codebooks

    emb = spark.createDataFrame(
        [(i, [float(i)] * 10) for i in range(20)],
        "vec_id long, embedding array<float>")
    qv = quantize_embeddings(emb)
    with pytest.raises(ValueError, match="not divisible"):
        pq_codebooks(qv, n_sub=4)


def test_seed_probe_equals_collect_path(qv):
    """pq_codebooks(seed_probe=...) must train identical books to the
    collect path — the bit-identity contract the pyarrow fast path
    rides on."""
    from trendmachine_spark.extensions.similarity import load_probe_matrix

    probe = load_probe_matrix(f"{SF}/embeddings.parquet", 16)
    a = pq_codebooks(qv, refine=1)
    b = pq_codebooks(qv, refine=1, seed_probe=probe)
    assert np.array_equal(a, b)


def test_seed_probe_with_fewer_rows_than_codes(spark):
    """A probe resolved at a smaller id bound still trains (fewer
    codes), matching the collect path on the same corpus."""
    from trendmachine_spark.extensions.similarity import load_probe_matrix

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    small = emb.filter("vec_id < 40")
    qv_small = quantize_embeddings(small)
    probe = load_probe_matrix(f"{SF}/embeddings.parquet", 16)
    sids, SQ, n2 = probe
    cut = [i for i, s in enumerate(sids) if s < 8]
    sub_probe = (sids[cut], SQ[cut], n2[cut])
    a = pq_codebooks(qv_small, n_codes=8, refine=1)
    b = pq_codebooks(qv_small, n_codes=8, refine=1, seed_probe=sub_probe)
    assert a.shape[1] == 8
    assert np.array_equal(a, b)


def test_ivfpq_index_serve_equals_in_memory(spark, emb):
    """The at-rest index serve must reproduce the in-memory IVFPQ
    exactly — same trained structures, scoring, tie-breaks; only the
    byte source differs."""
    import tempfile

    from trendmachine_spark.extensions.similarity import (
        ivfpq_index_write,
        ivfpq_topk,
        ivfpq_topk_from_index,
        load_probe_matrix,
    )

    with tempfile.TemporaryDirectory() as td:
        trained = ivfpq_index_write(emb, f"{td}/idx")
        probe = load_probe_matrix(f"{SF}/embeddings.parquet", 10)
        served = {(r["query_id"], r["rank"]): (r["neighbor_id"],
                                               r["adc_cosine"])
                  for r in ivfpq_topk_from_index(
                      spark, f"{td}/idx", trained, n_queries=10, k=5,
                      n_probe=2, probe=probe).collect()}
        mem = {(r["query_id"], r["rank"]): (r["neighbor_id"],
                                            r["adc_cosine"])
               for r in ivfpq_topk(emb, n_queries=10, k=5,
                                   n_probe=2).collect()}
    assert served == mem and served


# ---------------------------------------------------------------- residual


def test_residual_exact_when_codes_cover_corpus(spark, emb):
    """With n_codes >= corpus size and refine=0, every residual is its
    own seed codeword, so reconstruction is EXACT and full-probe
    residual ADC must equal brute-force exact cosine bit-for-bit —
    dot(q, c) + dot(q, r) = dot(q, v) in exact int64, identical IEEE
    normalization. The strongest end-to-end check of the residual
    encode/score arithmetic."""
    from trendmachine_spark.extensions.similarity import (
        brute_force_topk,
        ivfpq_residual_topk,
    )

    small = emb.filter("vec_id < 16")
    a = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["adc_cosine"])
         for r in ivfpq_residual_topk(small, n_queries=4, k=3, n_cells=4,
                                      n_probe=4, n_codes=16,
                                      refine=0).collect()}
    b = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
         for r in brute_force_topk(small, n_queries=4, k=3).collect()}
    assert a == b


def test_residual_partition_invariant(emb):
    from trendmachine_spark.extensions.similarity import ivfpq_residual_topk

    a = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["adc_cosine"])
         for r in ivfpq_residual_topk(emb, n_queries=5, k=3).collect()}
    b = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["adc_cosine"])
         for r in ivfpq_residual_topk(emb.repartition(9), n_queries=5,
                                      k=3).collect()}
    assert a == b


def test_residual_neighbors_come_from_probed_cells(qv, emb):
    """Candidate restriction carries over unchanged from ivfpq_topk:
    cells come from the SAME coarse quantizer (residuals change the
    fine codes, not the partitioning)."""
    from trendmachine_spark.extensions.similarity import (
        ivf_centroids,
        ivfpq_residual_topk,
    )

    cells, Cm, cnm = ivf_centroids(qv, 16, refine=1)
    rows = sorted(qv.collect(), key=lambda r: r["vid"])
    V = np.array([r["qvec"] for r in rows], dtype=np.int64)
    vids = np.array([r["vid"] for r in rows], dtype=np.int64)
    aff = (V @ Cm.T) / cnm[None, :]
    cell_of = {int(v): int(cells[i])
               for v, i in zip(vids, np.argmax(aff, axis=1))}
    probed: dict[int, set] = {}
    for q in range(10):
        j = int(np.where(vids == q)[0][0])
        key = np.where(np.isnan(aff[j]), np.inf, -aff[j])
        order = np.lexsort((cells, key))[:2]
        probed[q] = {int(cells[i]) for i in order}
    out = ivfpq_residual_topk(emb, n_queries=10, k=5, n_cells=16,
                              n_probe=2).collect()
    assert out
    for r in out:
        assert cell_of[r["neighbor_id"]] in probed[r["query_id"]], r


def test_residual_probe_paths_equal_collect(emb):
    """probe/seed_probe fast paths must be value-neutral for the
    residual variant too (the driver-side residual-seed transform must
    match the distributed assignment bit-for-bit)."""
    from trendmachine_spark.extensions.similarity import (
        ivfpq_residual_topk,
        load_probe_matrix,
    )

    path = f"{SF}/embeddings.parquet"
    a = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["adc_cosine"])
         for r in ivfpq_residual_topk(emb, n_queries=5, k=3).collect()}
    b = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["adc_cosine"])
         for r in ivfpq_residual_topk(
             emb, n_queries=5, k=3,
             probe=load_probe_matrix(path, 10),
             seed_probe=load_probe_matrix(path, 16)).collect()}
    assert a == b


def test_residual_empty_corpus(spark):
    from trendmachine_spark.extensions.similarity import ivfpq_residual_topk

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int")
    assert ivfpq_residual_topk(empty).count() == 0


def test_seed_probe_bound_guard(qv):
    """A probe resolved at an id bound below n_codes must raise, not
    silently train fewer codebook entries (round-12 advisory)."""
    from trendmachine_spark.extensions.similarity import load_probe_matrix

    probe = load_probe_matrix(f"{SF}/embeddings.parquet", 8)
    with pytest.raises(ValueError, match="bound 8 < n_codes=16"):
        pq_codebooks(qv, refine=1, seed_probe=probe)


# ---------------------------------------------------------------- SQ8


def test_sq8_exact_when_scales_unit(spark):
    """Components within ±127 quantized units give s_d = 1 everywhere,
    so reconstruction is EXACT and SQ8 must equal brute-force cosine
    bit-for-bit — the end-to-end check of the train/encode/score
    arithmetic."""
    from trendmachine_spark.extensions.similarity import (
        brute_force_topk,
        sq8_topk,
    )

    rows = [(i, [((i * 7 + j * 3) % 255 - 127) / 1000.0
                 for j in range(8)]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["sq_cosine"])
         for r in sq8_topk(emb, n_queries=4, k=3).collect()}
    b = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
         for r in brute_force_topk(emb, n_queries=4, k=3).collect()}
    assert a == b


def test_sq8_partition_invariant(emb):
    from trendmachine_spark.extensions.similarity import sq8_topk

    a = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["sq_cosine"])
         for r in sq8_topk(emb, n_queries=5, k=3).collect()}
    b = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["sq_cosine"])
         for r in sq8_topk(emb.repartition(9), n_queries=5, k=3).collect()}
    assert a == b


def test_sq8_codes_in_range_and_empty(spark, qv):
    """Trained scales bound every code to ±127 by construction; empty
    corpus short-circuits."""
    import numpy as np

    from trendmachine_spark.extensions.similarity import sq8_scales, sq8_topk

    S = sq8_scales(qv)
    rows = qv.collect()
    V = np.array([r["qvec"] for r in rows], dtype=np.int64)
    C = np.sign(V) * (np.abs(V) // S[None, :])
    assert np.abs(C).max() <= 127
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int")
    assert sq8_topk(empty).count() == 0


def test_ivfsq8_full_probe_equals_sq8(emb):
    """With every cell probed, IVF+SQ8 must reduce exactly to the
    full-corpus SQ8 scan — the composition contract."""
    from trendmachine_spark.extensions.similarity import ivfsq8_topk, sq8_topk

    a = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["sq_cosine"])
         for r in ivfsq8_topk(emb, n_queries=5, k=3,
                              n_cells=16, n_probe=16).collect()}
    b = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["sq_cosine"])
         for r in sq8_topk(emb, n_queries=5, k=3).collect()}
    assert a == b


def test_ivfsq8_partition_invariant_and_empty(spark, emb):
    from trendmachine_spark.extensions.similarity import ivfsq8_topk

    a = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["sq_cosine"])
         for r in ivfsq8_topk(emb, n_queries=5, k=3).collect()}
    b = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["sq_cosine"])
         for r in ivfsq8_topk(emb.repartition(9), n_queries=5, k=3).collect()}
    assert a == b
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int")
    assert ivfsq8_topk(empty).count() == 0


def test_probe_truncation_by_value_with_id_gaps(spark, tmp_path):
    """r12 ADVICE: the probe-path truncation must filter ids BY VALUE,
    not position. With gaps among vec_ids below the resolve bound
    (here ids 0,2,4,... resolved at bound 10), positional [:5] would
    answer queries {0,2,4,6,8} while the collect path's vid < 5
    filter answers {0,2,4} — the results must instead be identical."""
    from trendmachine_spark.extensions.similarity import (
        _resolve_queries,
        brute_force_topk,
        load_probe_matrix,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    gapped = emb.filter("vec_id % 2 = 0").limit(64)
    path = str(tmp_path / "gapped.parquet")
    gapped.coalesce(1).write.parquet(path)
    gdf = spark.read.parquet(path)

    probe = load_probe_matrix(path, 10)
    qids, Q, qn = _resolve_queries(None, 5, probe)
    assert qids.tolist() == [0, 2, 4]  # by value, not first-5-by-sort

    pq_seeds = load_probe_matrix(path, 16)
    for with_probe, collect_path in (
        (pq_topk(gdf, n_queries=5, k=3, probe=probe, seed_probe=pq_seeds),
         pq_topk(gdf, n_queries=5, k=3, seed_probe=pq_seeds)),
        (brute_force_topk(gdf, n_queries=5, k=3, probe=probe),
         brute_force_topk(gdf, n_queries=5, k=3)),
    ):
        a = sorted(map(tuple, with_probe.collect()))
        b = sorted(map(tuple, collect_path.collect()))
        assert a == b
        assert {r[0] for r in a} == {0, 2, 4}


def test_sq8_rerank_full_expand_equals_brute_force(emb):
    """r13: with k*expand >= corpus size every vector is a candidate,
    so the shared exact re-rank over SQ8 candidates must reproduce
    brute-force exactly (values included) — same contract as the PQ
    two-stage."""
    from trendmachine_spark.extensions.similarity import (
        brute_force_topk,
        sq8_rerank_topk,
    )

    a = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
         for r in sq8_rerank_topk(emb, n_queries=5, k=3, expand=200).collect()}
    b = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
         for r in brute_force_topk(emb, n_queries=5, k=3).collect()}
    assert a == b


def test_sq8_rerank_candidates_come_from_sq8_stage(emb):
    """Every re-ranked neighbor must be one of the SQ8 stage's
    k*expand candidates for that query (the exact stage re-orders,
    never re-opens, the candidate set)."""
    from trendmachine_spark.extensions.similarity import (
        sq8_rerank_topk,
        sq8_topk,
    )

    k, expand = 3, 2
    cand = {}
    for r in sq8_topk(emb, n_queries=5, k=k * expand).collect():
        cand.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in sq8_rerank_topk(emb, n_queries=5, k=k, expand=expand).collect():
        assert r["neighbor_id"] in cand[r["query_id"]]


def test_sq8_rerank_partition_invariant(emb):
    from trendmachine_spark.extensions.similarity import sq8_rerank_topk

    a = {(r["query_id"], r["rank"]): r["neighbor_id"]
         for r in sq8_rerank_topk(emb, n_queries=5, k=3).collect()}
    b = {(r["query_id"], r["rank"]): r["neighbor_id"]
         for r in sq8_rerank_topk(emb.repartition(13), n_queries=5,
                                  k=3).collect()}
    assert a and a == b


def test_pq256_codebooks_use_256_seed_rows(spark):
    """similarity_pq256_topk trains on the lowest 256 ids; on a corpus
    with >= 256 vectors the codebook's second axis must be 256 and the
    encode's code range must use it (codes above 15 must appear —
    the K=16 default could never emit them)."""
    import numpy as np

    from trendmachine_spark.extensions.similarity import (
        pq_codebooks,
        pq_encode,
        quantize_embeddings,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qv = quantize_embeddings(emb)
    cb = pq_codebooks(qv, n_codes=256)
    assert cb.shape[1] == 256
    codes = np.stack([r["codes"] for r in pq_encode(qv, cb).collect()])
    assert codes.max() > 15 and codes.max() <= 255


def test_pq_assign_expanded_matches_direct_form():
    """r14 optimization round: _pq_assign's expanded-form argmin
    (|c|^2 - 2 v.c via float64 matmul, the row-constant |v|^2 dropped)
    must reproduce the direct (v-c)^2 int64 argmin EXACTLY — every term
    is an integer far below 2^53, so the float arithmetic is exact and
    ties (planted duplicate codebook rows) still resolve to the lowest
    code. Sweeps K=16 and K=256 and the residual magnitude range."""
    from trendmachine_spark.extensions.similarity import _pq_assign

    rng = np.random.RandomState(11)
    for K, lim in ((16, 5001), (256, 5001), (16, 10001)):
        V = rng.randint(-lim, lim, size=(3000, 64)).astype(np.int64)
        cb = rng.randint(-lim, lim, size=(8, K, 8)).astype(np.int64)
        cb[:, K // 2] = cb[:, 0]          # exact ties across codes
        V[0, :8] = cb[0, 0]               # exact zero-distance row
        got = _pq_assign(V, cb)
        n_sub, _, ds = cb.shape
        want = np.empty((len(V), n_sub), dtype=np.int64)
        for m in range(n_sub):
            sub = V[:, m * ds:(m + 1) * ds]
            d = ((sub[:, None, :] - cb[m][None]) ** 2).sum(axis=2)
            want[:, m] = np.argmin(d, axis=1)
        assert (got == want).all(), (K, lim)
        assert got[0, 0] == 0             # tie -> lowest code
