"""Unit tests for the LLM-data-pipeline extension operators (§2.6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trendmachine_spark.extensions.dedup import (
    exact_dedup, minhash_near_dup, ngram_jaccard, shingles, simhash64,
)
from trendmachine_spark.extensions.multimodal import decode_assets, to_binary_assets
from trendmachine_spark.extensions.similarity import ann_topk, brute_force_topk
from trendmachine_spark.extensions.text import lang_id, quality_flags, text_profile


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog", "en"),   # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat", "en"),   # near dup of 0
        (3, "el perro la gata los pajaros el sol la luna", "es"),
        (4, "completely different words about spark engines here now", "en"),
        (5, "a b", "short"),                                        # < 3 words: no shingles
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.001, 0.0]),   # nearly parallel to 0
        (2, [0.0, 1.0, 0.0]),     # orthogonal to 0
        (3, [-1.0, 0.0, 0.0]),    # antiparallel to 0
        (4, [0.7, 0.7, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_exact_dedup(spark, docs):
    out = {r["keeper_id"]: r["n_copies"] for r in exact_dedup(docs).collect()}
    assert out[0] == 2           # docs 0 and 1 identical
    assert out.get(2, 1) == 1
    assert sum(out.values()) == 6


def test_exact_norm_dedup_collapses_variants(spark):
    """Casing/punctuation/whitespace variants are one family with the
    min-id keeper; n_raw_forms counts the byte-exact variants; a
    genuinely different doc stays its own family."""
    from trendmachine_spark.extensions.dedup import exact_norm_dedup

    rows = [
        (0, "The quick brown fox!"),
        (1, "the  quick   brown fox"),      # whitespace + case variant
        (2, "THE QUICK, BROWN... FOX?!"),   # punctuation + case variant
        (3, "the quick brown fox"),         # already canonical
        (4, "an entirely different doc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["keeper_id"]: r for r in exact_norm_dedup(docs).collect()}
    assert set(out) == {0, 4}
    assert out[0]["n_copies"] == 4
    assert out[0]["n_raw_forms"] == 4       # all four byte-distinct
    assert out[4]["n_copies"] == 1 and out[4]["n_raw_forms"] == 1


def test_exact_norm_dedup_counts_byte_exact_copies_once(spark):
    from trendmachine_spark.extensions.dedup import exact_norm_dedup

    docs = spark.createDataFrame(
        [(0, "same text"), (1, "same text"), (2, "Same Text")],
        "doc_id long, text string")
    fam = exact_norm_dedup(docs).collect()
    assert len(fam) == 1
    assert fam[0]["n_copies"] == 3
    assert fam[0]["n_raw_forms"] == 2       # two byte-exact forms


def test_shingles_short_doc_empty(spark, docs):
    sh = shingles(docs).filter(F.col("doc_id") == 5)
    assert sh.count() == 0


def test_minhash_finds_exact_dup_pair(spark, docs):
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_near_dup(docs).collect()}
    assert (0, 1) in pairs       # identical docs share every band
    assert all(a < b for a, b in pairs)


def test_ngram_jaccard_values(spark, docs):
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard(docs).collect()}
    assert out[(0, 1)] == 1.0
    # 9-word docs differing in last word: 7 shingles each, 6 shared
    assert out[(0, 2)] == pytest.approx(6 / 8)
    assert (0, 4) not in out     # no shared shingles


def test_quality_score_monotone_and_topk(spark):
    rows = [
        (0, "src_a", "the cat sat on the mat and it is a fine day in town today ok yes"),
        (1, "src_a", "word word word word word word word word word word word word"),
        (2, "src_a", "x"),
        (3, "src_b", "a reasonable sentence with the usual mixture of words in it"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    from trendmachine_spark.extensions.text import quality_score
    from trendmachine_spark.operators.topk import top_per_group
    from pyspark.sql import functions as FF

    q = {r["doc_id"]: r for r in quality_score(docs).collect()}
    # diverse stopword-bearing text beats pure repetition and a bare token
    assert q[0]["quality"] > q[1]["quality"]
    assert q[0]["quality"] > q[2]["quality"]
    assert all(r["keep_quality"] in (0, 1) for r in q.values())

    scored = quality_score(docs, keep_cols=("source",))
    top = top_per_group(
        scored.select("doc_id", "source", "quality"),
        ["source"], [FF.col("quality").desc(), FF.col("doc_id")], k=2,
    ).collect()
    by_src = {}
    for r in top:
        by_src.setdefault(r["source"], []).append(r)
    assert len(by_src["src_a"]) == 2          # k caps the group
    assert len(by_src["src_b"]) == 1          # smaller group keeps all
    ranks = sorted(r["rank"] for r in by_src["src_a"])
    assert ranks == [1, 2]
    best_a = min(by_src["src_a"], key=lambda r: r["rank"])
    assert best_a["doc_id"] == 0              # highest quality ranks first


def test_embedding_outliers_flags_antiparallel(spark):
    rows = [
        (0, [1.0, 0.0], 1),
        (1, [0.9, 0.1], 1),
        (2, [-1.0, 0.0], 1),   # antiparallel to its label's mass
        (3, [0.0, 1.0], 2),    # singleton label: cos to own centroid = 1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    from trendmachine_spark.extensions.similarity import embedding_outliers

    out = {r["vec_id"]: r for r in embedding_outliers(emb).collect()}
    assert out[0]["is_outlier"] == 0 and out[0]["cos_centroid"] > 0.5
    assert out[2]["is_outlier"] == 1 and out[2]["cos_centroid"] < 0
    assert out[3]["cos_centroid"] == pytest.approx(1.0)
    assert set(out) == {0, 1, 2, 3}


def test_corpus_card_hand_values(spark):
    rows = [
        (0, "s1", "aa bb"),            # 5 chars, 2 toks
        (1, "s1", "aa bb"),            # exact dup of 0
        (2, "s1", "ccc ddd eee"),      # 11 chars, 3 toks
        (3, "s2", "x y z"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    from trendmachine_spark.extensions.text import corpus_card

    card = {
        (r["source"], r["metric"]): r["value"] for r in corpus_card(docs).collect()
    }
    assert card[("s1", "n_docs")] == 3.0
    assert card[("s1", "total_tokens")] == 7.0
    assert card[("s1", "mean_chars")] == pytest.approx((5 + 5 + 11) / 3)
    # ranks by (chars, doc_id): [5@0, 5@1, 11@2]; p50 rank=(3-1)//2+1=2 -> 5
    assert card[("s1", "p50_chars")] == 5.0
    assert card[("s1", "p90_chars")] == 5.0  # rank ((3-1)*9)//10+1 = 2
    assert card[("s1", "exact_dup_rate")] == pytest.approx(1 - 2 / 3)
    assert card[("s2", "n_docs")] == 1.0 and card[("s2", "exact_dup_rate")] == 0.0
    assert {m for s, m in card if s == "s2"} == {
        "n_docs", "total_tokens", "mean_chars", "p50_chars", "p90_chars",
        "exact_dup_rate", "quality_rate",
    }


def test_minhash_narrow_matches_explode(spark, docs):
    from trendmachine_spark.extensions.dedup import (
        minhash_signatures, minhash_signatures_narrow,
    )

    wide = sorted(map(tuple, minhash_signatures(docs).collect()))
    narrow = sorted(map(tuple, minhash_signatures_narrow(docs).collect()))
    assert wide == narrow
    # and the narrow form really is a pure map: zero exchanges
    plan = (
        minhash_signatures_narrow(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_incremental_dedup_flags(spark):
    base = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog today ok"),
            (101, "completely unrelated corpus content about spark engines"),
        ],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [
            # exact copy of a base doc
            (1, "the quick brown fox jumps over the lazy dog today ok"),
            # near-dup of base 100 (one word changed)
            (2, "the quick brown fox jumps over the lazy cat today ok"),
            # exact dup WITHIN delta (of doc 3)
            (3, "novel fresh content no corpus overlap here at all now"),
            (4, "novel fresh content no corpus overlap here at all now"),
            # genuinely new
            (5, "another brand new document with its own unique words"),
        ],
        "doc_id long, text string",
    )
    from trendmachine_spark.extensions.dedup import incremental_dedup

    out = {r["doc_id"]: r for r in incremental_dedup(base, delta, min_jaccard=0.5).collect()}
    assert out[1]["exact_dup_base"] == 1 and out[1]["is_new"] == 0
    assert out[2]["exact_dup_base"] == 0 and out[2]["near_dup_base"] == 1
    assert out[3]["exact_dup_delta"] == 0 and out[3]["is_new"] == 1  # keeper
    assert out[4]["exact_dup_delta"] == 1 and out[4]["is_new"] == 0
    assert out[5]["is_new"] == 1
    assert set(out) == {1, 2, 3, 4, 5}


def test_cross_corpus_near_dup_semantics(spark):
    """r14: cross pairs only (within-side dups never reported), exact
    jaccard filter, and the per-side hot-bucket drop."""
    from trendmachine_spark.extensions.dedup import cross_corpus_near_dup

    a = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog today ok"),
            # within-A exact dup of 0 — must NOT appear in the output
            (2, "the quick brown fox jumps over the lazy dog today ok"),
            (4, "completely unrelated corpus content about spark engines"),
        ],
        "doc_id long, text string",
    )
    b = spark.createDataFrame(
        [
            # near-dup of A:0 (one word changed) — the cross pair
            (1, "the quick brown fox jumps over the lazy cat today ok"),
            (3, "some other novel document with entirely distinct words"),
        ],
        "doc_id long, text string",
    )
    rows = cross_corpus_near_dup(a, b, min_jaccard=0.5).collect()
    pairs = {(r["a_id"], r["b_id"]) for r in rows}
    assert pairs == {(0, 1), (2, 1)}
    for r in rows:
        assert 0.5 <= r["jaccard"] <= 1.0

    # hot-bucket drop: every A doc identical (boilerplate) — with the
    # side cap below the family size the bucket is non-discriminative
    # and emits nothing; at the default cap the pairs come back
    a_hot = spark.createDataFrame(
        [(i * 2, "shared boilerplate template text repeated here")
         for i in range(4)],
        "doc_id long, text string",
    )
    b_one = spark.createDataFrame(
        [(1, "shared boilerplate template text repeated here")],
        "doc_id long, text string",
    )
    dropped = cross_corpus_near_dup(a_hot, b_one, min_jaccard=0.5,
                                    max_side_bucket=2).collect()
    assert dropped == []
    kept = cross_corpus_near_dup(a_hot, b_one, min_jaccard=0.5).collect()
    assert {(r["a_id"], r["b_id"]) for r in kept} == {
        (0, 1), (2, 1), (4, 1), (6, 1)}

    # the health metric makes the drop visible: same corpus, same cap
    # -> every band reports its shared bucket dropped with the exact
    # na*nb pair volume; at the default cap the volume moves to kept
    from trendmachine_spark.extensions.dedup import cross_corpus_bucket_health

    h = cross_corpus_bucket_health(a_hot, b_one, max_side_bucket=2).collect()
    assert h and all(
        r["n_dropped"] == 1 and r["pairs_dropped"] == 4
        and r["pairs_kept"] == 0 and r["max_side_a"] == 4 for r in h)
    h2 = cross_corpus_bucket_health(a_hot, b_one).collect()
    assert h2 and all(
        r["n_dropped"] == 0 and r["pairs_kept"] == 4 for r in h2)

    # empty-side robustness: no signatures -> no shared buckets -> empty
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert cross_corpus_near_dup(a, empty).count() == 0
    assert cross_corpus_bucket_health(a, empty).count() == 0


def test_corpus_merge_report_flags(spark):
    """r14: the symmetric merge decision report — same contract as
    incremental_dedup's flags, built on the no-broadcast plan."""
    from trendmachine_spark.extensions.dedup import corpus_merge_report

    a = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog today ok"),
            (101, "completely unrelated corpus content about spark engines"),
        ],
        "doc_id long, text string",
    )
    b = spark.createDataFrame(
        [
            # exact copy of an A doc
            (1, "the quick brown fox jumps over the lazy dog today ok"),
            # near-dup of A:100 (one word changed)
            (2, "the quick brown fox jumps over the lazy cat today ok"),
            # exact dup WITHIN b (of doc 3)
            (3, "novel fresh content no corpus overlap here at all now"),
            (4, "novel fresh content no corpus overlap here at all now"),
            # genuinely new
            (5, "another brand new document with its own unique words"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r
           for r in corpus_merge_report(a, b, min_jaccard=0.5).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[1]["exact_dup_a"] == 1 and out[1]["admit"] == 0
    assert out[2]["exact_dup_a"] == 0 and out[2]["near_dup_a"] == 1
    assert out[3]["exact_dup_b"] == 0 and out[3]["admit"] == 1  # keeper
    assert out[4]["exact_dup_b"] == 1 and out[4]["admit"] == 0
    assert out[5]["admit"] == 1


def test_bpe_pair_stats_hand_counts(spark):
    # "low" x2, "lower" x1 — the Sennrich et al. worked example shape
    docs = spark.createDataFrame(
        [(0, "low low"), (1, "lower")], "doc_id long, text string"
    )
    from trendmachine_spark.extensions.text import bpe_pair_stats

    out = {
        (r["left_sym"], r["right_sym"]): r["pair_count"]
        for r in bpe_pair_stats(docs).collect()
    }
    assert out == {
        ("l", "o"): 3, ("o", "w"): 3, ("w", "</w>"): 2,
        ("w", "e"): 1, ("e", "r"): 1, ("r", "</w>"): 1,
    }


def test_vocab_coverage_hand_counts(spark):
    docs = spark.createDataFrame(
        [(0, "a a a b"), (1, "b c")], "doc_id long, text string"
    )
    from trendmachine_spark.extensions.text import vocab_coverage

    rows = {r["term"]: r for r in vocab_coverage(docs, top_k=2).collect()}
    assert set(rows) == {"a", "b"}          # c cut by top_k
    assert rows["a"]["rank"] == 1 and rows["a"]["cnt"] == 3
    assert rows["a"]["cum_coverage"] == pytest.approx(3 / 6)
    assert rows["b"]["rank"] == 2 and rows["b"]["cnt"] == 2
    # denominator is the FULL corpus (6 tokens), not just the top-k's
    assert rows["b"]["cum_coverage"] == pytest.approx(5 / 6)
    # top_k beyond the vocab returns everything, coverage reaching 1.0
    full = vocab_coverage(docs, top_k=100).collect()
    assert max(r["cum_coverage"] for r in full) == pytest.approx(1.0)


def test_ngram_containment_catches_embedded_quote(spark):
    # doc 1 is quoted wholesale inside doc 0: containment on the short
    # side is 1.0 while jaccard is diluted by the long doc's union
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon"),
        (1, "eta theta iota kappa lam mu"),
        (2, "unrelated words entirely about something else altogether"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    from trendmachine_spark.extensions.dedup import ngram_containment

    out = {(r["id_a"], r["id_b"]): r for r in ngram_containment(docs).collect()}
    pair = out[(0, 1)]
    # all 4 of doc 1's 3-gram shingles appear in doc 0 (18 shingles)
    assert pair["containment_b"] == 1.0
    assert pair["containment_a"] == pytest.approx(4 / 18)
    assert pair["jaccard"] == pytest.approx(4 / 18)  # union == doc 0's set
    assert (0, 2) not in out and (1, 2) not in out
    # the filtered form keeps the quote pair, drops nothing else
    kept = ngram_containment(docs, min_containment=0.5).collect()
    assert {(r["id_a"], r["id_b"]) for r in kept} == {(0, 1)}
    # and jaccard at the same threshold would have missed it
    jac = ngram_jaccard(docs, min_jaccard=0.5).collect()
    assert {(r["id_a"], r["id_b"]) for r in jac} == set()


def test_simhash_close_for_near_dups(spark, docs):
    fp = {r["doc_id"]: r["simhash"] for r in simhash64(docs).collect()}
    assert fp[0] == fp[1]
    ham02 = bin(fp[0] ^ fp[2]).count("1")
    ham04 = bin(fp[0] ^ fp[4]).count("1")
    assert ham02 < ham04


def test_brute_force_topk(spark, vectors):
    out = brute_force_topk(vectors, n_queries=1, k=4)
    rows = out.orderBy("rank").collect()
    assert [r["neighbor_id"] for r in rows] == [1, 4, 2, 3]
    assert rows[0]["cosine"] == pytest.approx(1.0, abs=1e-5)
    assert rows[-1]["cosine"] == pytest.approx(-1.0, abs=1e-9)


def test_ann_is_subset_of_bucket(spark, vectors):
    out = ann_topk(vectors, n_queries=2, k=4, n_planes=2)
    for r in out.collect():
        assert r["query_id"] != r["neighbor_id"]
        assert -1.0 <= r["cosine"] <= 1.0


def test_text_profile(spark, docs):
    p = {r["doc_id"]: r for r in text_profile(docs).collect()}
    assert p[0]["n_words"] == 9
    assert p[0]["n_distinct_words"] == 8          # 'the' twice
    assert p[0]["stopword_ratio"] == pytest.approx(2 / 9)
    assert p[5]["n_words"] == 2
    q = {r["doc_id"]: r["keep"] for r in quality_flags(docs, min_words=5).collect()}
    assert q[0] == 1 and q[5] == 0


def test_lang_id(spark, docs):
    out = {r["doc_id"]: r["lang_pred"] for r in lang_id(docs).collect()}
    assert out[0] == "en"
    assert out[3] == "es"
    assert out[5] == "und"


def test_multimodal_plumbing(spark, docs):
    assets = to_binary_assets(docs)
    assert dict(assets.dtypes)["payload"] == "binary"
    meta = {r["doc_id"]: r for r in decode_assets(assets).collect()}
    assert meta[0]["n_bytes"] == len("the quick brown fox jumps over the lazy dog")
    import hashlib
    want = hashlib.md5(b"the quick brown fox jumps over the lazy dog").hexdigest()
    assert meta[0]["content_md5"] == want
    with pytest.raises(Exception):
        decode_assets(assets, real_decode=True).collect()


def test_simhash_near_dup(spark, docs):
    from trendmachine_spark.extensions.dedup import simhash, simhash_near_dup

    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_near_dup(docs, max_hamming=3).collect()}
    assert pairs[(0, 1)] == 0        # identical docs: hamming 0
    assert all(h <= 3 for h in pairs.values())
    # exactness: every fingerprint pair within hamming<=3 is reported
    fps = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    want = {
        (a, b)
        for a in fps for b in fps
        if a < b and bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    assert set(pairs) == want


def test_multimodal_resize(spark, docs):
    from trendmachine_spark.extensions.multimodal import resize_assets

    assets = to_binary_assets(docs)
    out = {r["doc_id"]: r for r in resize_assets(assets, 4, 2).collect()}
    import hashlib

    # doc 0: 43 chars, budget 4*2=8 -> first 8 chars md5'd
    assert out[0]["n_chars_in"] == 43
    assert out[0]["n_chars_out"] == 8
    assert out[0]["resized_md5"] == hashlib.md5(b"the quic").hexdigest()
    # doc 5 ("a b"): shorter than the budget -> whole text
    assert out[5]["n_chars_out"] == 3
    assert out[5]["resized_md5"] == hashlib.md5(b"a b").hexdigest()
    assert out[0]["out_width"] == 4 and out[0]["out_height"] == 2
    with pytest.raises(Exception):
        resize_assets(assets, real_resize=True).collect()


def test_multimodal_frame_sample(spark, docs):
    from trendmachine_spark.extensions.multimodal import frame_sample

    assets = to_binary_assets(docs)
    # frame_len=4: doc 0 (43 chars) has 10 full frames; every 2nd, max 3
    rows = (
        frame_sample(assets, frame_len=4, every_n=2, max_frames=3)
        .filter(F.col("doc_id") == 0)
        .orderBy("frame_idx")
        .collect()
    )
    import hashlib

    text = "the quick brown fox jumps over the lazy dog"
    assert [r["frame_idx"] for r in rows] == [0, 2, 4]
    assert [r["sample_ord"] for r in rows] == [0, 1, 2]
    for r in rows:
        frame = text[r["frame_idx"] * 4:(r["frame_idx"] + 1) * 4]
        assert r["frame_md5"] == hashlib.md5(frame.encode()).hexdigest()
    # doc 5 ("a b", 3 chars) is shorter than one frame -> zero rows
    short = frame_sample(assets, frame_len=4).filter(F.col("doc_id") == 5)
    assert short.count() == 0
    # per-asset output is bounded by max_frames even for long payloads
    all_rows = frame_sample(assets, frame_len=2, every_n=1, max_frames=2)
    counts = all_rows.groupBy("doc_id").count().collect()
    assert all(r["count"] <= 2 for r in counts)


def test_pii_stats(spark):
    from trendmachine_spark.extensions.text import pii_stats

    docs = spark.createDataFrame(
        [
            (0, "contact me at alice@example.com or bob@test.org thanks"),
            (1, "server 192.168.1.1 and 10.0.0.255 are up"),
            (2, "call 555-123-4567 ssn 123-45-6789"),
            (3, "no personal information in this document at all"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pii_stats(docs).collect()}
    assert out[0]["n_emails"] == 2 and out[0]["has_pii"] == 1
    assert out[1]["n_ipv4"] == 2
    assert out[2]["n_phones"] == 1 and out[2]["n_ssn_like"] == 1
    assert out[3]["has_pii"] == 0
    assert all(out[3][c] == 0 for c in
               ("n_emails", "n_ipv4", "n_phones", "n_ssn_like"))


def test_repetition_stats(spark):
    from trendmachine_spark.extensions.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (0, "spam spam spam spam spam spam"),          # total repetition
            (1, "one two three four five six seven"),      # no repeats
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    # doc 0: 5 bigrams, all "spam spam" -> count 5, covers 5*9/29 chars
    assert out[0]["top_bigram"] == "spam spam"
    assert out[0]["top_bigram_count"] == 5
    assert out[0]["top_bigram_char_frac"] == pytest.approx(45 / 29)
    assert out[0]["dup_5gram_frac"] == 1.0        # both 5-grams identical
    # doc 1: every bigram unique -> lexicographic tie-break, zero dup
    assert out[1]["top_bigram_count"] == 1
    assert out[1]["top_bigram"] == "five six"
    assert out[1]["dup_5gram_frac"] == 0.0


def test_decontaminate(spark):
    from trendmachine_spark.extensions.dedup import decontaminate

    train = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta"),   # contains eval 4-gram
            (1, "one two three four five six"),           # clean
            (2, "x alpha beta gamma delta y"),            # same 4-gram, shifted
        ],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["n_contaminated_ngrams"]
           for r in decontaminate(train, evals, k=4).collect()}
    assert out == {0: 1, 2: 1}     # doc 1 absent = clean
    # stricter k: the 4-gram no longer matches at k=5
    assert decontaminate(train, evals, k=5).count() == 0


def test_sampling_deterministic_and_stratified(spark):
    from trendmachine_spark.extensions.sampling import (
        corpus_sample, stratified_sample, train_eval_split,
    )

    docs = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 4 == 0, "en").otherwise("de").alias("lang"),
    )
    # determinism: same salt -> identical membership across invocations
    s1 = {r["doc_id"] for r in corpus_sample(docs, 0.3, salt="a").collect()}
    s2 = {r["doc_id"] for r in corpus_sample(docs, 0.3, salt="a").collect()}
    assert s1 == s2
    # a different salt gives a different (independent) sample
    s3 = {r["doc_id"] for r in corpus_sample(docs, 0.3, salt="b").collect()}
    assert s1 != s3
    # rate is approximately honored
    assert 0.2 < len(s1) / 2000 < 0.4
    # nested rates: a doc kept at 0.1 is always kept at 0.3 (same salt)
    s_small = {r["doc_id"] for r in corpus_sample(docs, 0.1, salt="a").collect()}
    assert s_small <= s1
    # stratified: en kept at ~0.8, de at ~0.1
    st = stratified_sample(docs, rates={"en": 0.8}, default_rate=0.1)
    by_lang = {r["lang"]: r["n"] for r in
               st.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert by_lang["en"] / 500 > 0.6
    assert by_lang["de"] / 1500 < 0.2
    # split: disjoint and exhaustive
    train, ev = train_eval_split(docs, eval_rate=0.2)
    t = {r["doc_id"] for r in train.collect()}
    e = {r["doc_id"] for r in ev.collect()}
    assert t.isdisjoint(e)
    assert len(t) + len(e) == 2000


def test_split_assign_and_leakage(spark):
    """r10 split ops: (a) split_assign is disjoint+exhaustive, its
    fractions roughly honored, and stable across invocations; (b)
    by_content=True co-locates exact-duplicate docs in one split by
    construction; (c) split_leakage counts exactly the planted
    straddling family and content-keyed splitting eliminates it."""
    from trendmachine_spark.extensions.sampling import (
        split_assign, split_leakage,
    )

    docs = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        F.lit("srcA").alias("source"),
        # 10 exact-duplicate families of 10 docs each, 900 uniques;
        # the distinguishing token leads so the opening-8-gram
        # fingerprint separates families exactly like full content
        F.concat(
            F.when(F.col("id") < 100, (F.col("id") % 10).cast("string"))
             .otherwise(F.col("id").cast("string")),
            F.lit(" alpha beta gamma delta epsilon zeta eta theta body"),
        ).alias("text"),
    )
    assigned = split_assign(docs, valid_frac=0.1, test_frac=0.1)
    counts = {r["split"]: r["n"] for r in
              assigned.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 1000
    assert set(counts) <= {"train", "valid", "test"}
    assert counts["train"] > 600
    # determinism
    a1 = sorted(map(tuple, assigned.select("doc_id", "split").collect()))
    a2 = sorted(map(tuple, split_assign(
        docs, valid_frac=0.1, test_frac=0.1).select("doc_id", "split").collect()))
    assert a1 == a2
    # content-keyed: every duplicate family lands in ONE split
    by_content = split_assign(docs, valid_frac=0.1, test_frac=0.1,
                              by_content=True)
    fam_splits = (by_content.filter(F.col("doc_id") < 100)
                  .groupBy(F.col("doc_id") % 10)
                  .agg(F.countDistinct("split").alias("k")).collect())
    assert all(r["k"] == 1 for r in fam_splits)
    # id-keyed leakage: the 10-doc families straddle with high odds;
    # leaked docs are a subset of dup docs, and every family member of
    # a straddling family is counted in its own split's row
    rep = {r["split"]: r for r in split_leakage(
        docs, valid_frac=0.1, test_frac=0.1).collect()}
    assert sum(r["n_docs"] for r in rep.values()) == 1000
    for r in rep.values():
        assert r["n_leaked_docs"] <= r["n_dup_docs"] <= r["n_docs"]
    assert sum(r["n_dup_docs"] for r in rep.values()) == 100
    assert sum(r["n_leaked_docs"] for r in rep.values()) > 0


def test_ivf_topk(spark, vectors):
    from trendmachine_spark.extensions.similarity import ivf_topk

    out = ivf_topk(vectors, n_queries=2, k=3, n_cells=3, n_probe=2).collect()
    assert len(out) > 0
    for r in out:
        assert r["query_id"] != r["neighbor_id"]
        assert -1.0 <= r["cosine"] <= 1.0
    # more probes can only widen the candidate set
    wide = ivf_topk(vectors, n_queries=2, k=3, n_cells=3, n_probe=3).collect()
    assert len(wide) >= len(out)


def test_ivf_lloyd_refinement(spark):
    """One Lloyd pass (round 6): refined component = floor(sum/count)
    of the members the SEED assignment captured; a seed cell with no
    members keeps its seed vector; refine=0 reproduces the historical
    untrained centroids."""
    import numpy as np

    from trendmachine_spark.extensions.similarity import (
        ivf_assign,
        ivf_centroids,
        quantize_embeddings,
    )

    # two tight clusters far apart + seeds 0,1 inside cluster A: seed 1
    # loses all members to seed 0 (it is strictly closer to every A
    # vector than to any B vector? -> construct so cell 1 is EMPTY)
    rows = [
        (0, [1.0, 0.0]), (1, [0.9999, 0.0001]),     # seeds, both ~+x
        (2, [1.0, 0.01]), (3, [1.0, -0.01]),        # cluster A (+x)
        (4, [-1.0, 0.02]), (5, [-1.0, -0.02]),      # cluster B (-x)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qv = quantize_embeddings(emb)
    cells, C, cn = ivf_centroids(qv, n_cells=2, refine=1)
    seed = {r["vid"]: np.array(r["qvec"])
            for r in qv.filter(F.col("vid") < 2).collect()}
    assign0 = {r["vid"]: r["cell"]
               for r in ivf_assign(qv, 2, refine=0).collect()}
    # hand-compute the refinement from the seed assignment
    for i, c in enumerate(cells):
        members = [np.array(r["qvec"]) for r in qv.collect()
                   if assign0[r["vid"]] == c]
        if members:
            want = np.floor(np.stack(members).sum(axis=0) / len(members))
            assert np.array_equal(C[i], want.astype(np.int64)), c
        else:
            assert np.array_equal(C[i], seed[int(c)]), c
    # refine=0 equals the seed centroids
    cells0, C0, _ = ivf_centroids(qv, n_cells=2, refine=0)
    assert np.array_equal(C0, np.stack([seed[int(c)] for c in cells0]))


def test_training_corpus_invariants(spark):
    """Composed pipeline invariants the oracle can't state directly:
    kept docs are unique by content md5 and never cluster non-keepers."""
    from pyspark.sql import functions as F

    from trendmachine_spark.extensions.clusters import dedup_clusters
    from trendmachine_spark.registry import QUERIES
    from trendmachine_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    kept = QUERIES["training_corpus"].builder(spark, sf)
    docs = load_table(spark, sf, "documents")

    joined = kept.join(docs, "doc_id").select("doc_id", F.md5("text").alias("h"))
    per_hash = joined.groupBy("h").count().filter(F.col("count") > 1)
    assert per_hash.count() == 0  # exact dedup held

    non_keepers = dedup_clusters(docs, min_jaccard=0.8).filter(F.col("is_keeper") == 0)
    leaked = kept.join(non_keepers, "doc_id")
    assert leaked.count() == 0  # near-dup drop held

    # quality gate floor: every survivor satisfies the length bound
    assert kept.filter(F.col("n_words") < 20).count() == 0


def test_training_corpus_safe_invariants(spark):
    """Funnel invariants: survivors carry no PII, no eval contamination,
    bounded repetition, and membership is sample-deterministic."""
    from pyspark.sql import functions as F

    from trendmachine_spark.extensions.dedup import decontaminate
    from trendmachine_spark.extensions.text import pii_stats
    from trendmachine_spark.registry import QUERIES, clear_cache
    from trendmachine_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    safe = QUERIES["training_corpus_safe"].builder(spark, sf)
    docs = load_table(spark, sf, "documents")
    train = docs.filter(F.col("doc_id") % 20 != 0)
    evals = docs.filter(F.col("doc_id") % 20 == 0)

    # no eval doc ids, no contaminated docs, no PII carriers
    assert safe.filter(F.col("doc_id") % 20 == 0).count() == 0
    flagged = decontaminate(train, evals, k=8).select("doc_id")
    assert safe.join(flagged, "doc_id").count() == 0
    pii = pii_stats(train).filter(F.col("has_pii") == 1).select("doc_id")
    assert safe.join(pii, "doc_id").count() == 0
    # repetition bound holds on the output column itself
    assert safe.filter(F.col("dup_5gram_frac") >= 0.3).count() == 0
    # determinism: a rebuild selects the identical membership
    ids1 = {r["doc_id"] for r in safe.select("doc_id").collect()}
    clear_cache()
    ids2 = {r["doc_id"] for r in
            QUERIES["training_corpus_safe"].builder(spark, sf)
            .select("doc_id").collect()}
    assert ids1 == ids2


def test_pack_sequences_invariants(spark):
    """Packing contract: every doc assigned exactly once; packs respect
    the budget except single-overflow docs; offsets are the contiguous
    running sum within each pack; assignment is invariant to the
    shuffle-partition count (determinism at any cluster size)."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from trendmachine_spark.extensions.packing import pack_sequences
    from trendmachine_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    budget = 512
    out = pack_sequences(docs, budget=budget, n_buckets=8).collect()

    # exhaustive + unique assignment
    assert sorted(r["doc_id"] for r in out) == sorted(
        r["doc_id"] for r in docs.select("doc_id").collect()
    )
    # token counts match the whitespace tokenizer
    want_tokens = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", F.size(F.split("text", " ")).alias("n")
        ).collect()
    }
    packs = defaultdict(list)
    for r in out:
        assert r["n_tokens"] == want_tokens[r["doc_id"]]
        packs[r["pack_id"]].append(r)
    assert len(packs) > 1
    saw_multi = saw_overflow = False
    for rows in packs.values():
        rows.sort(key=lambda r: r["offset"])
        total = sum(r["n_tokens"] for r in rows)
        if total > budget:
            assert len(rows) == 1, "overflow pack must be a single doc"
            saw_overflow = True
        if len(rows) > 1:
            saw_multi = True
        # contiguous offsets: each doc starts where the previous ended
        run = 0
        for r in rows:
            assert r["offset"] == run, r
            run += r["n_tokens"]
    assert saw_multi  # budget actually packs multiple docs

    # partition invariance: same assignment at 1 shuffle partition
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        again = {(r["pack_id"], r["doc_id"], r["offset"])
                 for r in pack_sequences(docs, budget=budget, n_buckets=8).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert again == {(r["pack_id"], r["doc_id"], r["offset"]) for r in out}


def test_temperature_mix_balances_sources(spark):
    """alpha=0.5 mixing: the smallest source keeps everything; larger
    sources keep ~sqrt(min_n/n_s) of their docs; membership is the
    deterministic hash uniform (subset-stable under re-runs)."""
    from pyspark.sql import functions as F

    from trendmachine_spark.extensions.sampling import temperature_mix
    from trendmachine_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    before = {r["source"]: r["n"] for r in
              docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    mixed = temperature_mix(docs)
    after = {r["source"]: r["n"] for r in
             mixed.groupBy("source").agg(F.count("*").alias("n")).collect()}
    mn = min(before.values())
    smallest = min(before, key=before.get)
    assert after[smallest] == before[smallest]
    import math
    for s, n in before.items():
        expect = n * math.sqrt(mn / n)
        assert abs(after.get(s, 0) - expect) <= 4 * math.sqrt(expect) + 2, s
    # deterministic: rebuild yields identical membership
    ids1 = {r["doc_id"] for r in mixed.select("doc_id").collect()}
    ids2 = {r["doc_id"] for r in temperature_mix(docs).select("doc_id").collect()}
    assert ids1 == ids2


def test_segment_dedup_semantics(spark):
    from trendmachine_spark.extensions.dedup import segment_dedup

    boiler = "x1 x2 x3"  # 3-word segment shared by docs 0,1,2 (> cap 1)
    rows = [
        (0, boiler + " a1 a2 a3"),
        (1, boiler + " b1 b2 b3"),
        (2, boiler + " c1 c2 c3"),
        (3, "u1 u2 u3 u4 u5"),      # unique: untouched (partial 2nd seg)
        (4, boiler),                # fully boilerplate: survives, empty
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in segment_dedup(docs, seg_words=3, max_doc_freq=1).collect()
    }
    assert len(out) == 5                      # every doc has a row
    for d in (0, 1, 2):
        assert out[d]["n_removed"] == 1
        assert not out[d]["clean_text"].startswith("x1")
    assert out[0]["clean_text"] == "a1 a2 a3"
    assert out[3]["n_removed"] == 0
    assert out[3]["clean_text"] == "u1 u2 u3 u4 u5"   # order + partial seg
    assert out[3]["n_segments"] == 2
    assert out[4]["clean_text"] == ""
    assert out[4]["n_removed"] == 1


def test_segment_dedup_order_preserved(spark):
    from trendmachine_spark.extensions.dedup import segment_dedup

    # no segment repeats -> clean_text must reconstruct text verbatim
    rows = [(i, " ".join(f"d{i}w{j}" for j in range(25))) for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for r in segment_dedup(docs, seg_words=10, max_doc_freq=1).collect():
        assert r["clean_text"] == dict(rows)[r["doc_id"]]
        assert r["n_removed"] == 0
        assert r["n_segments"] == 3


def test_semantic_dedup_subset_of_exact(spark, vectors):
    from trendmachine_spark.extensions.similarity import (
        embedding_near_dup, ivf_assign, quantize_embeddings, semantic_dedup,
    )

    sem = semantic_dedup(vectors, n_cells=2, min_cosine=0.3).collect()
    assert sem  # vectors 0/1 are nearly parallel -> at least one pair
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup(vectors, min_cosine=0.3).collect()
    }
    cells = {
        r["vid"]: r["cell"]
        for r in ivf_assign(quantize_embeddings(vectors), n_cells=2).collect()
    }
    for r in sem:
        assert (r["id_a"], r["id_b"]) in exact          # subset of exact pairs
        assert cells[r["id_a"]] == cells[r["id_b"]] == r["cell"]  # same cell


def test_chunk_documents_reconstruction(spark):
    from trendmachine_spark.extensions.text import chunk_documents

    texts = {
        0: " ".join(f"w{j}" for j in range(50)),  # 2 chunks (stride 24)
        1: " ".join(f"v{j}" for j in range(10)),  # shorter than one chunk
        2: " ".join(f"u{j}" for j in range(32)),  # exactly one chunk
        3: " ".join(f"t{j}" for j in range(33)),  # one word over -> 2 chunks
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    chunks = chunk_documents(docs, chunk_words=32, overlap=8).collect()
    by_doc: dict = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert {d: len(c) for d, c in by_doc.items()} == {0: 2, 1: 1, 2: 1, 3: 2}
    for d, rows in by_doc.items():
        words = texts[d].split(" ")
        for r in sorted(rows, key=lambda r: r["chunk_id"]):
            expect = words[r["start_pos"]: r["start_pos"] + 32]
            assert r["chunk_text"].split(" ") == expect
            assert r["n_tokens"] == len(expect)
            assert r["start_pos"] == r["chunk_id"] * 24
        # stitching chunks minus their 8-word overlaps reconstructs the doc
        stitched = rows[0]["chunk_text"].split(" ")
        for r in sorted(rows, key=lambda r: r["chunk_id"])[1:]:
            stitched += r["chunk_text"].split(" ")[len(stitched) - r["start_pos"]:]
        assert stitched == words


def test_corpus_stats_exact_quantiles(spark):
    from trendmachine_spark.extensions.text import corpus_stats

    # source A: lengths 1..10 chars ("x"*k); nearest-rank-lower:
    # p50 -> rank (10-1)//2+1 = 5 -> 5 chars; p90 -> (9*9)//10+1 = 9 -> 9
    rows = [(k, "x" * k, "A") for k in range(1, 11)]
    # source B: a single doc — every quantile is that doc
    rows.append((100, "hello world", "B"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in corpus_stats(docs).collect()}
    a = out["A"]
    assert (a["n_docs"], a["p50_chars"], a["p90_chars"]) == (10, 5, 9)
    assert a["total_tokens"] == 10          # each single-word doc
    assert a["mean_chars"] == sum(range(1, 11)) / 10
    b = out["B"]
    assert (b["n_docs"], b["total_tokens"], b["p50_chars"], b["p90_chars"]) == (1, 2, 11, 11)


def test_semantic_keepers_cover_all_pairs(spark, vectors):
    from trendmachine_spark.extensions.clusters import semantic_keepers
    from trendmachine_spark.extensions.similarity import semantic_dedup

    pairs = semantic_dedup(vectors, n_cells=2, min_cosine=0.3).collect()
    out = semantic_keepers(vectors, n_cells=2, min_cosine=0.3).collect()
    label = {r["vec_id"]: r["cluster_id"] for r in out}
    # every paired vector is in a cluster, both ends share a label
    for p in pairs:
        assert label[p["id_a"]] == label[p["id_b"]]
    # cluster id is the min member; exactly that member is the keeper
    members: dict = {}
    for r in out:
        members.setdefault(r["cluster_id"], []).append(r)
    for cid, ms in members.items():
        assert cid == min(m["vec_id"] for m in ms)
        assert sorted(m["is_keeper"] for m in ms) == [0] * (len(ms) - 1) + [1]
        keeper = [m for m in ms if m["is_keeper"]][0]
        assert keeper["vec_id"] == cid


def test_corpus_ops_short_text_edges(spark):
    """Empty and single-word docs flow through the new corpus ops with
    the same boundary semantics as the DuckDB mirrors (split('') ->
    [''] -> one empty segment/chunk)."""
    from trendmachine_spark.extensions.dedup import segment_dedup
    from trendmachine_spark.extensions.text import chunk_documents, corpus_stats

    docs = spark.createDataFrame(
        [(0, "", "A"), (1, "solo", "A"), (2, "two words", "B")],
        "doc_id long, text string, source string")
    seg = {r["doc_id"]: r for r in segment_dedup(docs, seg_words=3, max_doc_freq=1).collect()}
    assert seg[0]["n_segments"] == 1 and seg[0]["clean_text"] == ""
    assert seg[1]["clean_text"] == "solo" and seg[1]["n_removed"] == 0
    assert seg[2]["clean_text"] == "two words"

    ch = {r["doc_id"]: r for r in chunk_documents(docs, chunk_words=32, overlap=8).collect()}
    assert (ch[0]["chunk_id"], ch[0]["n_tokens"], ch[0]["chunk_text"]) == (0, 1, "")
    assert ch[1]["chunk_text"] == "solo" and ch[1]["n_tokens"] == 1

    st = {r["source"]: r for r in corpus_stats(docs).collect()}
    assert st["A"]["n_docs"] == 2 and st["A"]["p50_chars"] == 0  # lengths 0,4 -> rank 1
    assert st["B"]["p90_chars"] == 9


def test_semantic_dedup_empty_and_tiny(spark):
    from trendmachine_spark.extensions.similarity import semantic_dedup

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert semantic_dedup(empty).count() == 0
    one = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, embedding array<float>")
    assert semantic_dedup(one).count() == 0  # no pair from a single vector


def test_packed_text_token_additivity(spark):
    from trendmachine_spark.extensions.packing import packed_text

    rows = [(i, " ".join(f"d{i}w{j}" for j in range(i % 7 + 1))) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    packs = packed_text(docs, budget=10, n_buckets=4).collect()
    # single-space concatenation keeps whitespace token counts additive
    for p in packs:
        assert len(p["text"].split(" ")) == p["total_tokens"]
    assert sum(p["n_docs"] for p in packs) == 40   # exhaustive, no dup
    # every source word survives exactly once across the packed corpus
    all_words = sorted(w for p in packs for w in p["text"].split(" "))
    assert all_words == sorted(w for _, t in rows for w in t.split(" "))


def test_connected_components_chain_graph_escalates(spark):
    """A 200-node path graph (diameter 199) blows the hash-min budget;
    connected_components must escalate to large-star/small-star and
    still return exact min-id components — a RuntimeError here is the
    template-drift failure mode the escalation exists to remove."""
    import random

    from trendmachine_spark.extensions.clusters import connected_components

    rng = random.Random(7)
    perm = list(range(200))
    rng.shuffle(perm)  # chain over shuffled ids: min sits mid-chain
    chain = [(perm[i], perm[i + 1]) for i in range(199)]
    # plus two dense near-clique components (the common near-dup shape)
    clique1 = [(1000 + i, 1000 + j) for i in range(5) for j in range(i + 1, 5)]
    clique2 = [(2000, 2001), (2001, 2002), (2000, 2002)]
    edges = spark.createDataFrame(chain + clique1 + clique2, "id_a long, id_b long")

    got = {r["node"]: r["cluster"] for r in connected_components(edges).collect()}
    assert len(got) == 208
    for n in perm:
        assert got[n] == 0
    for n in range(1000, 1005):
        assert got[n] == 1000
    for n in range(2000, 2003):
        assert got[n] == 2000


def test_star_components_matches_hashmin_on_dense_graph(spark):
    """Both component paths agree on a random graph (cross-validation of
    the escalation path against the plain hash-min path)."""
    import random

    from trendmachine_spark.extensions.clusters import (
        _star_components,
        connected_components,
    )

    rng = random.Random(11)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    via_star = {(r["node"], r["cluster"]) for r in _star_components(df).collect()}
    via_hashmin = {
        (r["node"], r["cluster"])
        for r in connected_components(df, max_iter=25).collect()
    }
    assert via_star == via_hashmin


def test_lsh_bucket_cap_chains_hot_buckets(spark):
    """A bucket over MAX_LSH_BUCKET must emit a chain (linear pairs),
    not all-pairs (quadratic) — and for the transitive-similarity case
    (identical docs, the real hot-bucket shape) downstream clustering
    recovers the full component via the chain."""
    from trendmachine_spark.extensions.clusters import dedup_clusters
    from trendmachine_spark.extensions.dedup import minhash_near_dup

    n = 120  # one boilerplate family > MAX_LSH_BUCKET = 100
    docs = spark.createDataFrame(
        [(i, "the same boilerplate sentence repeated for every page")
         for i in range(n)],
        "doc_id long, text string",
    )
    chained = minhash_near_dup(docs)
    got = sorted((r["id_a"], r["id_b"]) for r in chained.collect())
    assert len(got) == n - 1  # chain volume, not clique
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in got:
        parent[find(a)] = find(b)
    assert len({find(i) for i in range(n)}) == 1  # spanning chain

    # shards=1 reproduces the historical consecutive-id single chain
    single = sorted(
        (r["id_a"], r["id_b"])
        for r in minhash_near_dup(docs, chain_shards=1).collect()
    )
    assert single == [(i, i + 1) for i in range(n - 1)]

    unguarded = minhash_near_dup(docs, max_bucket_size=None)
    assert unguarded.count() == n * (n - 1) // 2  # the quadratic shape

    clusters = dedup_clusters(docs, min_jaccard=0.9)
    rows = clusters.collect()
    assert len(rows) == n
    assert {r["cluster_id"] for r in rows} == {0}  # one component survives
    assert sum(r["is_keeper"] for r in rows) == 1


def test_substring_dup_report_hand_case(spark):
    """Cross-doc and within-doc duplicated spans, island merging, and
    zero false positives — values computed by hand for win=10."""
    from trendmachine_spark.extensions.dedup import duplicated_spans

    span = [f"s{i}" for i in range(12)]
    docs = spark.createDataFrame(
        [
            (1, " ".join([f"a{i}" for i in range(5)] + span)),        # 17 toks
            (2, " ".join(span + [f"b{i}" for i in range(5)])),        # 17 toks
            (3, " ".join([f"t{i}" for i in range(10)] + ["f0"]
                         + [f"t{i}" for i in range(10)])),            # 21 toks
            (4, " ".join(f"u{i}" for i in range(30))),                # unique
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in duplicated_spans(docs, win=10).collect()}
    assert (got[1]["dup_tokens"], got[1]["n_islands"]) == (12, 1)
    assert (got[2]["dup_tokens"], got[2]["n_islands"]) == (12, 1)
    # within-doc repeat: two islands (gap token f0 between them)
    assert (got[3]["dup_tokens"], got[3]["n_islands"]) == (20, 2)
    assert (got[4]["dup_tokens"], got[4]["n_islands"]) == (0, 0)
    assert got[1]["dup_fraction"] == 12 / 17


def test_strip_duplicated_spans_keeps_first_occurrence(spark):
    from trendmachine_spark.extensions.dedup import strip_duplicated_spans

    span = [f"s{i}" for i in range(12)]
    a_text = " ".join([f"a{i}" for i in range(5)] + span)
    docs = spark.createDataFrame(
        [
            (1, a_text),
            (2, " ".join(span + [f"b{i}" for i in range(5)])),
            (3, " ".join([f"t{i}" for i in range(10)] + ["f0"]
                         + [f"t{i}" for i in range(10)])),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in strip_duplicated_spans(docs, win=10).collect()}
    # doc 1 holds the first occurrence: untouched
    assert got[1]["n_removed_tokens"] == 0 and got[1]["clean_text"] == a_text
    # doc 2's copy removed wholesale
    assert got[2]["n_removed_tokens"] == 12
    assert got[2]["clean_text"] == " ".join(f"b{i}" for i in range(5))
    # within-doc repeat: second copy removed, first + filler survive
    assert got[3]["n_removed_tokens"] == 10
    assert got[3]["clean_text"] == " ".join(
        [f"t{i}" for i in range(10)] + ["f0"])


@pytest.mark.parametrize("family", [120, 1500])
def test_sharded_chain_oracle_parity_over_cap(spark, family):
    """The sf0.01 driver corpus never trips MAX_LSH_BUCKET (max bucket
    3), so the oracle CTE's over-cap branch is exercised HERE: a
    planted boilerplate family (> cap) must hash-match the DuckDB
    oracle edge-for-edge, proving the md5-sharded chain in
    _sharded_chain_pairs and the mirrored CTE compute identical
    spanning paths. Two sizes pin the ADAPTIVE shard count's regimes:
    120 members -> 2 shards (one cross-shard link), 1500 -> 15 shards
    (a full multi-shard linking pass over md5-uneven shard sizes)."""
    import duckdb
    import pandas as pd

    from trendmachine_spark.extensions.dedup import minhash_near_dup
    from trendmachine_spark.registry import QUERIES

    rows = [(i, "the same boilerplate sentence repeated for every page")
            for i in range(family)]
    rows += [(2 * family + i,
              f"unique{i} filler{i} words{i} and{i} more{i} text{i}")
             for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted((r["id_a"], r["id_b"])
                 for r in minhash_near_dup(docs).collect())

    con = duckdb.connect()
    con.register("documents",
                 pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = sorted(map(tuple,
                      con.sql(QUERIES["dedup_minhash_lsh"].oracle).fetchall()))
    con.close()
    assert got == want
    assert len(got) >= family - 1  # spanning volume for the hot family


def test_chain_shards_preserves_connectivity_and_volume(spark):
    """The sharded chain (bounded window tasks for hot buckets) must
    keep every over-cap bucket candidate-CONNECTED with exactly n-1
    chain pairs, and must be a no-op on corpora without over-cap
    buckets."""
    from trendmachine_spark.extensions.dedup import minhash_near_dup
    from trendmachine_spark.sources.tables import load_table

    # no over-cap bucket at sf0.001 -> byte-identical output
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    plain = sorted(map(tuple, minhash_near_dup(docs).collect()))
    sharded = sorted(map(tuple,
                         minhash_near_dup(docs, chain_shards=4).collect()))
    assert plain == sharded

    # planted hot family: 30 identical docs with cap 10
    fam = [(i, "alpha beta gamma delta epsilon zeta eta") for i in range(30)]
    other = [(100 + i, f"unique{i} words{i} here{i} now{i}") for i in range(5)]
    hot_docs = spark.createDataFrame(fam + other, "doc_id long, text string")
    for shards in (1, 4, 7):
        rows = minhash_near_dup(
            hot_docs, max_bucket_size=10, chain_shards=shards).collect()
        pairs = {(r["id_a"], r["id_b"]) for r in rows}
        fam_pairs = {p for p in pairs if p[0] < 30 and p[1] < 30}
        # exactly n-1 chain pairs for the 30-member family
        assert len(fam_pairs) == 29, (shards, len(fam_pairs))
        # spanning connectivity via union-find
        parent = list(range(30))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in fam_pairs:
            parent[find(a)] = find(b)
        assert len({find(i) for i in range(30)}) == 1, shards
    # default (sharded, LSH_CHAIN_SHARDS) agrees on volume for the family
    rows = minhash_near_dup(hot_docs, max_bucket_size=10).collect()
    fam_pairs = {(r["id_a"], r["id_b"]) for r in rows
                 if r["id_a"] < 30 and r["id_b"] < 30}
    assert len(fam_pairs) == 29

    with pytest.raises(ValueError):
        minhash_near_dup(hot_docs, chain_shards=0).collect()


def test_mark_salt_identical_results(spark):
    """The salted mark-back join (replicated-build skew join for the
    beyond-broadcast regime) must be result-identical to the plain
    semi-join for ANY salt."""
    from trendmachine_spark.extensions.dedup import (
        duplicated_spans,
        strip_duplicated_spans,
    )
    from trendmachine_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    plain = sorted(map(tuple, duplicated_spans(docs, win=10).collect()))
    salted = sorted(map(tuple, duplicated_spans(docs, win=10, mark_salt=4).collect()))
    assert plain == salted
    plain = sorted(map(tuple, strip_duplicated_spans(docs, win=10).collect()))
    salted = sorted(map(tuple,
                        strip_duplicated_spans(docs, win=10, mark_salt=4).collect()))
    assert plain == salted


def test_mark_salt_auto_engages_beyond_threshold(spark):
    """'auto' (the round-6 default) must salt exactly when the
    dup-gram set exceeds auto_salt_grams — and stay result-identical
    either way. A zero/negative forced salt must raise instead of
    silently dropping every occurrence (round-5 ADVICE)."""
    import pytest as _pytest

    from trendmachine_spark.extensions.dedup import (
        duplicated_spans,
        strip_duplicated_spans,
    )
    from trendmachine_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    plain = sorted(map(tuple,
                       duplicated_spans(docs, win=10, mark_salt=None).collect()))
    # threshold 0 forces the salted branch on any corpus with dup grams
    forced = sorted(map(tuple,
                        duplicated_spans(docs, win=10, auto_salt_grams=0).collect()))
    assert plain == forced
    plain = sorted(map(tuple,
                       strip_duplicated_spans(docs, win=10, mark_salt=None).collect()))
    forced = sorted(map(tuple,
                        strip_duplicated_spans(docs, win=10, auto_salt_grams=0).collect()))
    assert plain == forced

    for bad in (0, -3):
        with _pytest.raises(ValueError):
            duplicated_spans(docs, win=10, mark_salt=bad)
        with _pytest.raises(ValueError):
            strip_duplicated_spans(docs, win=10, mark_salt=bad)
    # a string typo must raise the SAME ValueError naming the accepted
    # values, not a str-vs-int TypeError (round-6 ADVICE)
    for typo in ("Auto", "AUTO", "always"):
        with _pytest.raises(ValueError, match="'auto'"):
            duplicated_spans(docs, win=10, mark_salt=typo)


def test_materialization_persist_mode_parity(spark):
    """set_materialization('persist') — the lazy, lineage-retaining,
    fault-tolerant mode for multi-executor clusters (round-6 ADVICE) —
    must produce results identical to the default localCheckpoint mode
    on every path that pins a shared intermediate (LSH band table,
    over-cap chain, auto-salt dup-gram set)."""
    import pytest as _pytest

    from trendmachine_spark.extensions import dedup
    from trendmachine_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    base_pairs = sorted(map(tuple, dedup.minhash_near_dup(docs).collect()))
    base_spans = sorted(map(tuple, dedup.duplicated_spans(docs, win=10).collect()))
    dedup.set_materialization("persist")
    try:
        assert sorted(map(tuple, dedup.minhash_near_dup(docs).collect())) == base_pairs
        assert sorted(
            map(tuple, dedup.duplicated_spans(docs, win=10).collect())) == base_spans
    finally:
        dedup.set_materialization("localCheckpoint")
        spark.catalog.clearCache()
    with _pytest.raises(ValueError):
        dedup.set_materialization("checkpoint")


def test_quality_logit_fit_apply_separable(spark):
    """One Fisher step must separate a cleanly separable corpus: long
    diverse docs (label keep=1) score above short repetitive ones
    (keep=0), and predicted_keep matches the label on every doc."""
    from trendmachine_spark.extensions.text import (
        fit_quality_logit,
        quality_score_trained,
    )

    # varied lengths within each class: two distinct feature points
    # would make (bias, f1, f2) rank-deficient (det=0 by construction)
    good = [(i, " ".join(f"w{i}_{j}" for j in range(25 + i)))
            for i in range(20)]
    bad = [(100 + i, " ".join(["dup"] * (22 + i))) for i in range(20)]
    docs = spark.createDataFrame(good + bad, "doc_id long, text string")
    out = quality_score_trained(docs).collect()
    by_label = {0: [], 1: []}
    for r in out:
        assert r["predicted_keep"] == r["label_keep"], r
        by_label[r["label_keep"]].append(r["score_trained"])
    assert min(by_label[1]) > max(by_label[0])
    w = fit_quality_logit(docs)
    assert w["det"] != 0 and w["n"] == 40


def test_quality_logit_train_apply_split(spark):
    """The train/apply split: weights fit on corpus A applied to
    corpus B must equal the closed-form w0 + w1*f1 + w2*f2 on B's
    integer features — apply is a pure projection of the fitted
    constants (no refit)."""
    from trendmachine_spark.extensions.text import (
        _quality_logit_features,
        fit_quality_logit,
        quality_score_trained,
    )
    from trendmachine_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    train = docs.filter("doc_id % 2 = 0")
    apply_to = docs.filter("doc_id % 2 = 1")
    w = fit_quality_logit(train)
    scored = {r["doc_id"]: r["score_trained"]
              for r in quality_score_trained(apply_to, weights=w).collect()}
    feats = {r["doc_id"]: (r["f1"], r["f2"])
             for r in _quality_logit_features(apply_to, "text", "doc_id").collect()}
    assert scored.keys() == feats.keys() and len(scored) > 0
    for did, (f1, f2) in feats.items():
        assert scored[did] == w["w0"] + w["w1"] * f1 + w["w2"] * f2


def test_quality_logit_degenerate_corpus(spark):
    """Identical docs make X rank-deficient: det = 0 must yield zero
    weights and predicted_keep = 0 everywhere, never a divide-by-zero."""
    from trendmachine_spark.extensions.text import (
        fit_quality_logit,
        quality_score_trained,
    )

    docs = spark.createDataFrame(
        [(i, "same text twice same text twice") for i in range(10)],
        "doc_id long, text string")
    w = fit_quality_logit(docs)
    assert w["det"] == 0 and w["w0"] == w["w1"] == w["w2"] == 0.0
    rows = quality_score_trained(docs).collect()
    assert all(r["score_trained"] == 0.0 and r["predicted_keep"] == 0
               for r in rows)


def test_suffix_match_lengths_semantics(spark):
    """Bounded suffix-array pass on a hand-built corpus: exact span
    lengths per position (cross-doc and within-doc), min_span filter,
    and the bound cap."""
    from trendmachine_spark.extensions.dedup import suffix_match_lengths

    docs = spark.createDataFrame([
        (1, "x1 x2 a b c d e f g y1 y2"),
        (2, "z1 a b c d e f g z2 z3 z4"),
        (3, "p q r s t m1 m2 p q r s t m3"),
        (4, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),
    ], "doc_id long, text string")
    rows = sorted(map(tuple, suffix_match_lengths(
        docs, min_span=5, bound=32, max_group=None).collect()))
    # doc1/doc2 share the 7-token "a b c d e f g": positions inside it
    # report 7,6,5 (the <5 tail is filtered); doc3's internal 5-token
    # repeat reports 5 at both occurrences; doc4 reports nothing.
    assert rows == [(1, 3, 7), (1, 4, 6), (1, 5, 5),
                    (2, 2, 7), (2, 3, 6), (2, 4, 5),
                    (3, 1, 5), (3, 8, 5)]

    # bound cap: a 12-token duplicate under bound=8 reports exactly 8
    long_docs = spark.createDataFrame([
        (1, "a b c d e f g h i j k l"),
        (2, "a b c d e f g h i j k l"),
    ], "doc_id long, text string")
    capped = sorted(map(tuple, suffix_match_lengths(
        long_docs, min_span=5, bound=8, max_group=None).collect()))
    assert max(m for _, _, m in capped) == 8
    assert (1, 1, 8) in capped and (2, 1, 8) in capped


def test_suffix_coverage_equals_window_coverage(spark):
    """The union of [pos, pos+match_len) intervals from the suffix
    pass must cover EXACTLY the tokens duplicated_spans(win=min_span)
    marks — the SA pass refines per-span lengths without changing
    coverage (the equivalence the operator docstring claims)."""
    from trendmachine_spark.extensions.dedup import (
        duplicated_spans,
        suffix_match_lengths,
    )
    from trendmachine_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    per_doc: dict[int, set[int]] = {}
    for r in suffix_match_lengths(docs, min_span=5, max_group=None).collect():
        per_doc.setdefault(r["doc_id"], set()).update(
            range(r["pos"], r["pos"] + r["match_len"]))
    suffix_cov = {d: len(s) for d, s in per_doc.items()}
    window_cov = {
        r["doc_id"]: r["dup_tokens"]
        for r in duplicated_spans(docs, win=5, mark_salt=None).collect()
        if r["dup_tokens"] > 0
    }
    assert suffix_cov == window_cov


def test_suffix_hot_gram_guard_observable(spark):
    """max_group excludes hot grams from exact resolution (bounded
    recall, the documented skew stance) and suffix_group_stats reports
    exactly what was excluded — no silent caps."""
    from trendmachine_spark.extensions.dedup import (
        suffix_group_stats,
        suffix_match_lengths,
    )

    hot = [(i, "h1 h2 h3 h4 h5 end%d" % i) for i in range(30)]
    rare = [(100, "r1 r2 r3 r4 r5 r6 q"), (101, "z r1 r2 r3 r4 r5 r6")]
    docs = spark.createDataFrame(hot + rare, "doc_id long, text string")
    m = suffix_match_lengths(docs, min_span=5, bound=16, max_group=10)
    got = sorted(map(tuple, m.collect()))
    # the 30x "h1..h5" gram is excluded (freq 30 > 10); the rare
    # 6-token overlap still resolves exactly — including its 5-token
    # sub-suffixes ("r2..r6" is itself a duplicated 5-token span)
    assert got == [(100, 1, 6), (100, 2, 5), (101, 2, 6), (101, 3, 5)]
    st = suffix_group_stats(docs, min_span=5, max_group=10).collect()[0]
    assert st["n_hot_grams"] == 1 and st["positions_excluded"] == 30
    # guard off: the hot family resolves too
    full = suffix_match_lengths(docs, min_span=5, bound=16, max_group=None)
    assert full.filter("doc_id < 30").count() == 30


def test_probe_matrix_bit_identical_to_spark_quantization(spark):
    """load_probe_matrix (driver-side pyarrow read + Decimal HALF_UP
    quantization, round 7) must reproduce quantize_embeddings'
    BigDecimal HALF_UP values EXACTLY for every vector — it feeds the
    same scoring matmul the oracle pins bit-for-bit. Checked over the
    ENTIRE sf0.01 table, not just the probe ids."""
    import numpy as np

    from trendmachine_spark.extensions.similarity import (
        load_probe_matrix,
        quantize_embeddings,
    )
    from trendmachine_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    qids, Q, n2 = load_probe_matrix(
        "/root/testdata/sf0.01/embeddings.parquet", n_queries=1 << 60)
    rows = {r["vid"]: (r["qvec"], r["norm2"])
            for r in quantize_embeddings(emb).collect()}
    assert set(qids.tolist()) == set(rows)
    for i, vid in enumerate(qids.tolist()):
        qvec, norm2 = rows[vid]
        assert Q[i].tolist() == qvec, f"vec {vid} quantization mismatch"
        assert int(n2[i]) == norm2
    assert Q.dtype == np.int64


def test_brute_force_topk_probe_path_equals_collect_path(spark):
    """brute_force_topk(probe=...) must return the exact rows of the
    historical collect-based path (same plan downstream, same probe
    values by the parity test above)."""
    from trendmachine_spark.extensions.similarity import (
        brute_force_topk,
        load_probe_matrix,
    )
    from trendmachine_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    probe = load_probe_matrix(
        "/root/testdata/sf0.001/embeddings.parquet", n_queries=10)
    a = sorted(map(tuple, brute_force_topk(emb, 10, 5).collect()))
    b = sorted(map(tuple, brute_force_topk(emb, 10, 5, probe=probe).collect()))
    assert a == b and len(a) == 50


def test_srp_probe_buckets_structure(spark):
    """Multi-probe set: first probe is the own bucket, each flip
    differs in exactly one bit, flipped planes are the n_flip
    lowest-|projection| planes (ties by plane index)."""
    import numpy as np

    from trendmachine_spark.extensions.similarity import (
        _srp_matrix,
        quantize_embeddings,
        srp_buckets,
        srp_probe_buckets,
    )
    from trendmachine_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qv = quantize_embeddings(emb).filter(F.col("vid") < 8)
    own = {r["vid"]: r["bucket"] for r in srp_buckets(qv, 8).collect()}

    # n_flip=0 degenerates to srp_buckets exactly
    zero = {r["vid"]: r["bucket"] for r in srp_probe_buckets(qv, 8, 0).collect()}
    assert zero == own

    probes = {}
    for r in srp_probe_buckets(qv, 8, 3).collect():
        probes.setdefault(r["vid"], []).append(r["bucket"])
    dim = len(qv.first()["qvec"])
    S = _srp_matrix(dim, 8)
    vecs = {r["vid"]: np.array(r["qvec"], dtype=np.int64) for r in qv.collect()}
    for vid, bks in probes.items():
        assert len(bks) == 4 and len(set(bks)) == 4
        assert bks[0] == own[vid]
        proj = vecs[vid] @ S
        want_flips = np.lexsort((np.arange(8), np.abs(proj)))[:3]
        got_flips = []
        for b in bks[1:]:
            diff = [i for i in range(8) if b[i] != own[vid][i]]
            assert len(diff) == 1
            got_flips.append(diff[0])
        assert got_flips == list(want_flips)


def test_ann_multi_probe_improves_monotonically(spark):
    """More probes can only widen the candidate set, so the k-th best
    cosine per query is monotonically non-decreasing in n_flip."""
    from trendmachine_spark.extensions.similarity import ann_topk
    from trendmachine_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")

    def kth(n_flip):
        rows = ann_topk(emb, n_queries=8, k=5, n_planes=8, n_flip=n_flip).collect()
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], []).append(r["cosine"])
        return {q: sorted(cs, reverse=True) for q, cs in out.items()}

    k0, k2 = kth(0), kth(2)
    assert set(k0) <= set(k2)  # probing more buckets never loses a query
    for q, cs in k0.items():
        for i, c in enumerate(cs):
            assert k2[q][i] >= c - 1e-12


@pytest.mark.parametrize("scorer, kwargs", [
    ("brute_force_topk", {}),
    ("sq8_topk", {}),
    ("ivfsq8_topk", {"n_cells": 1}),
], ids=["brute_force_topk", "sq8_topk", "ivfsq8_topk"])
def test_brute_force_topk_zero_norm_vector_never_crowds_quota(spark, scorer, kwargs):
    """A zero-norm corpus vector scores 0/0 = NaN, which crosses Arrow
    as NULL and sorts LAST in the final DESC window; the map-side
    top-k prune must bury it the same way, or (single-partition case)
    it would eat a slot of the task's k-quota and drop a real
    candidate. The SQ8 scorers reconstruct the zero vector as 0, so it
    scores 0/0 there too (one IVF cell keeps every vector a
    candidate)."""
    from trendmachine_spark.extensions import similarity

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0]),
         (3, [0.5, 0.5]), (4, [0.8, 0.2])],
        "vec_id long, embedding array<float>",
    ).coalesce(1)
    rows = getattr(similarity, scorer)(emb, n_queries=1, k=2, **kwargs).collect()
    assert [(r["neighbor_id"], r["rank"]) for r in rows] == [(1, 1), (4, 2)]


def test_ann_topk_edges_after_vectorization(spark):
    """The matmul srp_buckets + einsum scorer must keep the HOF-era
    edge behavior: empty corpus yields empty output, and a zero-norm
    vector (NaN cosine -> NULL) never displaces a real candidate."""
    from trendmachine_spark.extensions.similarity import ann_topk, srp_buckets

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert ann_topk(empty).count() == 0

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.99, 0.01]), (2, [0.0, 0.0]), (3, [0.98, 0.02])],
        "vec_id long, embedding array<float>",
    ).coalesce(1)
    rows = ann_topk(emb, n_queries=1, k=2, n_planes=4).collect()
    ids = [r["neighbor_id"] for r in rows]
    assert 2 not in ids or len(ids) > 2  # zero vector never crowds the quota
    assert all(r["cosine"] is not None for r in rows if r["neighbor_id"] != 2)

    from trendmachine_spark.extensions.similarity import quantize_embeddings
    bk = {r["vid"]: r["bucket"] for r in
          srp_buckets(quantize_embeddings(emb), n_planes=4).collect()}
    assert bk[2] == "0000"  # zero projections tie to bit 0, deterministic


def test_rebalance_for_fanout_gates(spark, docs, monkeypatch):
    """Both gates of the fan-out rebalance, pinned: (a) a tiny input
    (every test corpus) is a STRUCTURAL no-op — same object back, no
    exchange; (b) past the size gate, an under-split input gains a
    round-robin repartition (and values are unchanged); (c) an input
    already at session parallelism passes through even past the size
    gate."""
    from trendmachine_spark.extensions import dedup

    src = docs.select("doc_id", "text")
    # (a) size gate: the sf-test corpus estimate is far below 1 MiB
    assert dedup.rebalance_for_fanout(src) is src
    # (b) force the size gate open: under-split input gets repartitioned
    monkeypatch.setattr(dedup, "REBALANCE_MIN_BYTES", 0)
    one = src.coalesce(1)
    out = dedup.rebalance_for_fanout(one)
    assert out is not one
    assert out.rdd.getNumPartitions() == int(
        spark.conf.get("spark.sql.shuffle.partitions"))
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, one.collect()))
    # (c) parallelism gate: already-wide input passes through untouched
    wide = src.repartition(64)
    assert dedup.rebalance_for_fanout(wide) is wide
    # and the operators' values are identical with the rebalance forced
    # on vs off (the parity sweep proves this corpus-wide; pin one here)
    forced = dedup.minhash_near_dup(docs)
    monkeypatch.setattr(dedup, "REBALANCE_MIN_BYTES", 1 << 60)
    plain = dedup.minhash_near_dup(docs)
    assert sorted(map(tuple, forced.collect())) == sorted(map(tuple, plain.collect()))


def test_rebalance_gate_fallbacks_and_memo(spark, docs, monkeypatch):
    """r10 hardening: (a) with the classic-mode stats handle absent
    (Spark Connect) the partition-count gate alone decides; (b) with
    BOTH probes absent the gate decides False — the optimization can
    never break plan construction; (c) a non-integer
    spark.sql.shuffle.partitions makes the whole call a no-op; (d) the
    decision memo runs the probes ONCE per canonicalized input plan
    (the r9 sf0.1 drift suspect: ~16 sites x ~20-70 ms per build)."""
    from trendmachine_spark.extensions import dedup

    src = docs.select("doc_id", "text").coalesce(1)

    class NoStats:
        def __init__(self, inner):
            self._inner = inner

        @property
        def _jdf(self):
            raise AttributeError("_jdf is classic-mode only")

        @property
        def rdd(self):
            return self._inner.rdd

    # (a) stats absent -> partition gate: 1 split < 32*0.5 -> rebalance
    monkeypatch.setattr(dedup, "REBALANCE_MIN_BYTES", 1 << 60)
    assert dedup._rebalance_gate(NoStats(src), 32, 0.5) is True

    class NoProbes:
        @property
        def _jdf(self):
            raise AttributeError("_jdf is classic-mode only")

        @property
        def rdd(self):
            raise AttributeError("rdd is classic-mode only")

    # (b) no probe works -> never rebalance, never raise
    assert dedup._rebalance_gate(NoProbes(), 32, 0.5) is False

    class BrokenAnalysis:
        @property
        def _jdf(self):
            raise ValueError("genuine analysis error")

    # (b') r10 advice: a NON-probe failure (bad relation, analysis bug)
    # must PROPAGATE, not silently degrade to a no-op
    import pytest as _pytest
    with _pytest.raises(ValueError):
        dedup._rebalance_gate(BrokenAnalysis(), 32, 0.5)

    # (c) unparseable parallelism setting -> exact no-op (classic mode
    # refuses to SET a non-integer, so simulate the session surface a
    # different runtime could hand us)
    monkeypatch.setattr(dedup, "REBALANCE_MIN_BYTES", 0)

    class AutoConf:
        def get(self, _key):
            return "auto"

    class AutoSession:
        conf = AutoConf()

    class AutoDf:
        isStreaming = False
        sparkSession = AutoSession()

    stub = AutoDf()
    assert dedup.rebalance_for_fanout(stub) is stub

    # (d) memo: two semantically identical relations probe once
    calls = []
    real_gate = dedup._rebalance_gate
    monkeypatch.setattr(
        dedup, "_rebalance_gate",
        lambda *a: (calls.append(1), real_gate(*a))[1])
    dedup._GATE_CACHE.clear()
    out1 = dedup.rebalance_for_fanout(docs.select("doc_id", "text"))
    out2 = dedup.rebalance_for_fanout(docs.select("doc_id", "text"))
    assert len(calls) == 1
    # and the memoized decision is applied identically
    assert (out1.rdd.getNumPartitions() == out2.rdd.getNumPartitions())
    # a changed gate constant is part of the key -> fresh probe
    monkeypatch.setattr(dedup, "REBALANCE_MIN_BYTES", 1)
    dedup.rebalance_for_fanout(docs.select("doc_id", "text"))
    assert len(calls) == 2
    # (e) r10 advice: the memo is scoped per SparkSession (key leads
    # with the owning session's identity) and clear_gate_cache() gives
    # mid-process file-rewriters an explicit reset
    assert all(k[0] == id(docs.sparkSession) for k in dedup._GATE_CACHE)
    dedup.clear_gate_cache()
    assert not dedup._GATE_CACHE
    dedup.rebalance_for_fanout(docs.select("doc_id", "text"))
    assert len(calls) == 3


def test_multimodal_jpeg_resize_spark_path(spark, docs):
    """JPEG payloads through the REAL Spark resize slot end-to-end:
    synthetic exact-roundtrip grayscale JPEGs -> decode -> nearest
    resample inside mapInPandas, value_sum matching the closed form at
    the resampled coordinates (the multimodal_resize_real oracle rule
    applied to the JPEG generator)."""
    import numpy as np

    from trendmachine_spark.extensions.multimodal import (
        resize_assets_real, synthetic_jpeg_assets,
    )

    out = {r["doc_id"]: r["value_sum"]
           for r in resize_assets_real(
               synthetic_jpeg_assets(docs), 8, 6).collect()}
    assert out
    for did, got in list(out.items())[:10]:
        w, h = 8 * (1 + did % 4), 8 * (1 + did % 3)
        xs = (np.arange(8) * w) // 8
        ys = (np.arange(6) * h) // 6
        v = 2 * (((xs[None, :] // 8) * 5 + (ys[:, None] // 8) * 11 + did) % 128)
        wgt = 1 + (np.arange(8)[None, :] + 2 * np.arange(6)[:, None]) % 5
        assert got == int((wgt * v).sum()), did


def test_semantic_oracle_pin_guard_self_invalidates():
    """r12 ADVICE: the registered dedup_semantic/keepers oracles pin
    n_cells=16 while the Spark builders apply the sqrt rule to the
    actual corpus — on any corpus outside the pinned count's validity
    band the oracle must ERROR loudly (cell_pin_guard), never silently
    compute a different partition. Pure DuckDB, no Spark."""
    import duckdb
    import pytest

    from trendmachine_spark.registry import QUERIES, _semantic_cell_bounds

    # band edges derived from the real rule: 16 cells holds to 512
    # vectors, 32 starts at 513 (sf0.1's 2000 sits in the 32 band)
    assert _semantic_cell_bounds(16) == (1, 512)
    assert _semantic_cell_bounds(32)[0] == 513

    for name in ("dedup_semantic", "dedup_semantic_keepers"):
        sql = QUERIES[name].oracle
        assert "cell_pin_guard" in sql
        con = duckdb.connect()
        con.sql("CREATE VIEW embeddings AS SELECT * FROM "
                "'/root/testdata/sf0.1/embeddings.parquet'")
        with pytest.raises(duckdb.Error, match="pinned n_cells=16"):
            con.sql(sql).df()
        con.close()

    # r13 ADVICE: the guard must fire even when the out-of-band corpus
    # yields ZERO candidate pairs above the cosine threshold — a
    # row-level WHERE predicate never evaluates on an empty join and
    # would return empty silently; the UNION ALL guard branch executes
    # unconditionally. The empty corpus (count=0, below the band's
    # lo=1) is the extreme zero-pair case.
    for name in ("dedup_semantic", "dedup_semantic_keepers",
                 "split_semantic_leakage"):
        con = duckdb.connect()
        con.sql("CREATE VIEW embeddings AS SELECT * FROM "
                "read_parquet('/root/testdata/sf0.001/embeddings.parquet') "
                "WHERE vec_id < 0")
        if name == "split_semantic_leakage":
            con.sql("CREATE VIEW documents AS SELECT * FROM "
                    "'/root/testdata/sf0.001/documents.parquet'")
        with pytest.raises(duckdb.Error, match="pinned n_cells=16"):
            con.sql(QUERIES[name].oracle).df()
        con.close()


def test_primitive_cents_match_decimal(spark):
    """r14 `_cents` exactness pin: the primitive (x*100+0.5)::long must
    equal the decimal(_,2) HALF_UP cast on every money/quantity column
    of the REAL testdata (the equivalence is data-dependent — it needs
    2-decimal quanta and nonnegativity; a 3-decimal or negative value
    would legitimately fail this test and must revert _cents). Also
    guards synthetic edge values both ways."""
    from trendmachine_spark.registry_core import _table
    from trendmachine_spark.registry_queries.relational_events import _cents

    sf = "/root/testdata/sf0.001"
    for table, cols in (
        ("lineitem", [("l_quantity", "decimal(12,2)"),
                      ("l_extendedprice", "decimal(14,2)"),
                      ("l_discount", "decimal(4,2)")]),
        ("orders", [("o_totalprice", "decimal(14,2)")]),
    ):
        t = _table(spark, sf, table)
        row = t.select(
            *[F.sum(((F.col(c).cast(d) * 100).cast("long")
                     != _cents(c)).cast("int")).alias(f"mism_{c}")
              for c, d in cols],
            *[F.min(F.col(c)).alias(f"min_{c}") for c, _ in cols],
        ).collect()[0].asDict()
        for c, _ in cols:
            assert row[f"mism_{c}"] == 0, (table, c, row)
            assert row[f"min_{c}"] >= 0, (table, c, row)

    # synthetic: 2-decimal quanta round-trip exactly, including the
    # doubles that sit just under their integer-cents value
    vals = [(0.0,), (0.01,), (0.07,), (0.1,), (1.13,), (123.45,),
            (9999.99,), (104749.5,), (None,)]
    df = spark.createDataFrame(vals, "x double")
    bad = df.select(
        F.sum((((F.col("x").cast("decimal(14,2)") * 100).cast("long"))
               != _cents("x")).cast("int")).alias("mism")).collect()[0][0]
    assert (bad or 0) == 0


def _words(prefix: str, n: int) -> list[str]:
    return [f"{prefix}{i}" for i in range(n)]


def _oracle_check(spark, rows, build, sql: str, name: str):
    """``build(docs)`` on a hand-built corpus vs the DuckDB oracle
    ``sql`` over the same rows registered as ``documents``; returns the
    Spark rows by doc_id for edge-case spot checks."""
    import pandas as pd

    from tests.oracle_harness import compare_documents

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = build(docs)
    problems = compare_documents(
        out, sql, pd.DataFrame(rows, columns=["doc_id", "text"]), name)
    assert not problems, "\n".join(problems)
    return out.collect()


#: exact-substring edge cases: a 12-token span gives overlapping
#: windows; it recurs across docs, within one doc and back to back
_SPAN = _words("s", 12)
_SUBSTRING_ROWS = [
    (1, " ".join(_words("a", 5) + _SPAN)),
    (2, " ".join(_SPAN + _words("b", 5))),
    (3, " ".join(_SPAN)),                                 # fully covered
    (4, " ".join(_words("u", 30))),                       # untouched
    (5, "short doc"),                                     # < win tokens
    (6, " ".join(_SPAN + ["gap"] + _SPAN)),               # within-doc repeat
    (7, " ".join(_words("w", 10) + ["gap"] + _words("w", 10))),  # keeper in-doc
]


def test_duplicated_spans_match_oracle_edge_cases(spark):
    """duplicated_spans (hashed gram keys) equals the registered
    substring_dup_report / _fine oracles on cross-doc, within-doc,
    overlapping and adjacent duplicated spans and sub-window docs."""
    from trendmachine_spark.extensions.dedup import duplicated_spans
    from trendmachine_spark.registry import QUERIES

    for name, win in (("substring_dup_report", 10),
                      ("substring_dup_report_fine", 5)):
        got = {r["doc_id"]: r for r in _oracle_check(
            spark, _SUBSTRING_ROWS, lambda d: duplicated_spans(d, win=win),
            QUERIES[name].oracle, name)}
        assert got[5]["dup_tokens"] == 0 and got[4]["dup_tokens"] == 0
        # both span copies of doc 6 are duplicated: two islands
        assert (got[6]["dup_tokens"], got[6]["n_islands"]) == (24, 2), win
        assert (got[7]["dup_tokens"], got[7]["n_islands"]) == (20, 2), win


def test_strip_matches_oracle_edge_cases(spark):
    """strip_duplicated_spans (Arrow scatter-mask token removal) equals
    the registered substring_dedup oracle on overlapping spans, fully
    stripped docs, docs shorter than the window and within-doc
    repeats — at the registered win=10 and at win=5 (the oracle with
    its window width swapped)."""
    from trendmachine_spark.extensions.dedup import strip_duplicated_spans
    from trendmachine_spark.registry import QUERIES
    from trendmachine_spark.registry_queries.multimodal_substring import (
        _window_occ_sql)

    sql10 = QUERIES["substring_dedup"].oracle
    assert _window_occ_sql(10) in sql10 and "generate_series(0, 9)" in sql10
    sql5 = (sql10.replace(_window_occ_sql(10), _window_occ_sql(5))
            .replace("generate_series(0, 9)", "generate_series(0, 4)"))
    for win, sql in ((10, sql10), (5, sql5)):
        got = {r["doc_id"]: r for r in _oracle_check(
            spark, _SUBSTRING_ROWS,
            lambda d: strip_duplicated_spans(d, win=win), sql,
            f"substring_dedup(win={win})")}
        assert got[3]["clean_text"] == "" and got[3]["n_removed_tokens"] == 12
        assert got[5]["clean_text"] == "short doc"
        assert got[7]["clean_text"] == " ".join(_words("w", 10) + ["gap"])
        assert got[1]["n_removed_tokens"] == 0  # the first copy survives


def test_segment_dedup_matches_oracle_edge_cases(spark):
    """segment_dedup (xxhash64 hot-segment key) equals the registered
    dedup_segments oracle (10-word segments, doc-frequency cap 2):
    boilerplate first, middle and as a partial last segment, a fully
    boilerplate doc, an untouched partial last segment, and a
    within-doc repeat that must not count twice."""
    from trendmachine_spark.extensions.dedup import segment_dedup
    from trendmachine_spark.registry import QUERIES

    boiler, tail, rep = _words("x", 10), _words("z", 4), _words("r", 10)
    rows = [
        (0, " ".join(boiler + _words("a", 10))),
        (1, " ".join(boiler + _words("c", 10))),
        (2, " ".join(_words("d", 10) + boiler + _words("i", 4))),
        (3, " ".join(_words("u", 15))),               # partial, unique
        (4, " ".join(boiler)),                        # fully boilerplate
        (5, " ".join(_words("e", 10) + tail)),        # hot partial tail
        (6, " ".join(_words("f", 10) + tail)),
        (7, " ".join(_words("g", 10) + tail)),
        (8, " ".join(rep + rep)),                     # in-doc repeat
        (9, " ".join(rep + _words("h", 10))),
    ]
    got = {r["doc_id"]: r for r in _oracle_check(
        spark, rows, lambda d: segment_dedup(d, seg_words=10, max_doc_freq=2),
        QUERIES["dedup_segments"].oracle, "dedup_segments")}
    assert (got[4]["n_removed"], got[4]["clean_text"]) == (1, "")
    assert got[2]["clean_text"] == " ".join(_words("d", 10) + _words("i", 4))
    assert got[5]["clean_text"] == " ".join(_words("e", 10))
    assert got[3]["n_removed"] == 0 and got[8]["n_removed"] == 0


def test_suffix_pass_matches_oracle_edge_cases(spark):
    """The bounded suffix-array pass (xxhash64 token alphabet) equals
    the _suffix_match_sql oracle — per position and through the
    registered dup_span_profile / dup_span_histogram SQL — on
    cross-doc, within-doc, bound-capped (at 8 and at 32) and
    guard-excluded spans and a doc shorter than the span."""
    from trendmachine_spark.extensions.dedup import (
        dup_span_histogram, dup_span_profile, suffix_match_lengths)
    from trendmachine_spark.registry import QUERIES
    from trendmachine_spark.registry_queries.multimodal_substring import (
        _suffix_match_sql)

    long_span = _words("L", 40)
    rows = [
        (1, "x1 x2 a b c d e f g y1 y2"),
        (2, "z1 a b c d e f g z2 z3 z4"),
        (3, "p q r s t m1 m2 p q r s t m3"),         # within-doc
        (4, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),            # no duplicate
        (5, "a b c d e f g h i j k l"),
        (6, "a b c d e f g h i j k l"),
        (7, " ".join(long_span + ["k1"])),            # 40-token span
        (8, " ".join(["k2"] + long_span)),
        (9, "too short"),
    ]
    registered = _suffix_match_sql(5, 32, 100)
    by_params = {}
    for bound, max_group in ((32, 100), (8, 100), (32, 2)):
        cte = _suffix_match_sql(5, bound, max_group)
        kw = dict(min_span=5, bound=bound, max_group=max_group)
        tag = f"(bound={bound}, max_group={max_group})"
        by_params[bound, max_group] = {
            (r["doc_id"], r["pos"]): r["match_len"] for r in _oracle_check(
                spark, rows, lambda d: suffix_match_lengths(d, **kw),
                f"WITH {cte} SELECT doc_id, pos, match_len FROM matches",
                f"suffix_match_lengths{tag}")}
        for name, op in (("dup_span_profile", dup_span_profile),
                         ("dup_span_histogram", dup_span_histogram)):
            sql = QUERIES[name].oracle
            assert registered in sql
            _oracle_check(spark, rows, lambda d: op(d, **kw),
                          sql.replace(registered, cte), name + tag)
    assert max(by_params[32, 100].values()) == 32   # capped at the bound
    assert max(by_params[8, 100].values()) == 8
    assert (1, 3) in by_params[32, 100] and (3, 1) in by_params[32, 100]
    assert (1, 3) not in by_params[32, 2]           # hot gram excluded


def test_salted_mark_join_is_shuffle_hash_not_broadcast(spark):
    """r14 optimization round: once the auto-salt engages, the
    replicated dup-gram build side must NEVER broadcast (narrow hashed
    keys size-estimate under the threshold, and broadcasting the
    salt-times-replicated table is a driver collect + single-threaded
    build — measured 6.06 vs 1.67 s at x20). The salted _mark_join pins
    a ShuffledHashJoin; values are salt-invariant either way."""
    from pyspark.sql import functions as F

    from trendmachine_spark.extensions.dedup import (
        _mark_join, duplicated_spans, window_occurrences)

    span = [f"s{i}" for i in range(12)]
    docs = spark.createDataFrame(
        [(1, " ".join([f"a{i}" for i in range(5)] + span)),
         (2, " ".join(span + [f"b{i}" for i in range(5)])),
         (3, " ".join(f"u{i}" for i in range(30)))],
        "doc_id long, text string")
    occ = window_occurrences(docs, win=10, hashed=True)
    dup = (occ.groupBy("gram").agg(F.count(F.lit(1)).alias("_f"))
           .filter(F.col("_f") >= 2).select("gram"))
    j = _mark_join(occ, dup, "doc_id", salt=4)
    plan = j._sc._jvm.PythonSQLUtils.explainString(
        j._jdf.queryExecution(), "formatted")
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan

    # salt on/off value invariance on the hashed default path
    base = sorted(map(tuple, duplicated_spans(
        docs, win=10, mark_salt=None).collect()))
    salted = sorted(map(tuple, duplicated_spans(
        docs, win=10, mark_salt=4).collect()))
    assert base == salted
