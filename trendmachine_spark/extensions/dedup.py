"""Deduplication operators over the ``documents`` table.

Driver-mandated extension operators (SURVEY.md §2.6), designed for
100 TB: every path is a pure shuffle-on-key DataFrame plan — no
driver-side state, no UDFs.

* exact_dedup      — content-hash group-by (one shuffle on the hash).
* minhash_near_dup — MinHash signature -> banded LSH bucket join. The
  signature is computed entirely with array expressions (one md5 per
  gram + a single fold) so signature computation is a ZERO-SHUFFLE
  narrow map; only the bucket self-join shuffles. The hash family is
  *md5(shingle) xor mask_j*, which is engine-portable (same values in
  DuckDB), unlike murmur3.
* ngram_jaccard    — exact Jaccard over word-shingle sets for pairs
  sharing at least one non-ubiquitous shingle (inverted-index join; the
  standard exact near-dup verifier downstream of LSH candidates).
* simhash          — SimHash fingerprint, also a zero-shuffle narrow map.

At 100 TB: the inverted-index join must drop ubiquitous shingles
(stopword shingles) or a single hot key produces a quadratic join —
``ngram_jaccard`` guards with ``max_shingle_freq`` (ON by default;
see MAX_SHINGLE_FREQ). The guard prunes candidate *pairs* only: the
jaccard value itself is always computed against the full shingle sets,
so reported similarities stay exact — recall is what's traded.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

try:  # classic-mode JVM probes surface as Py4J errors
    from py4j.protocol import Py4JError
except ImportError:  # pragma: no cover - py4j ships with pyspark
    class Py4JError(Exception):
        pass

#: exception types the build-time gate probes may legitimately raise:
#: AttributeError for handles that don't exist off classic mode
#: (``_jdf``/``.rdd`` under Spark Connect), Py4JError for a broken or
#: shutting-down JVM bridge. Anything else (bad relation, analysis
#: bug) propagates — the r10 advice: a blanket except here masked
#: genuine analysis errors until a later, more confusing failure.
_PROBE_ERRORS = (AttributeError, Py4JError)

_LOG = logging.getLogger(__name__)
#: probe sites that already warned once (debug-level, once per site so
#: a degraded environment is visible without flooding per call)
_PROBE_WARNED: set = set()


def _probe_skipped(site: str, exc: Exception) -> None:
    """One-time debug log when a gate probe degrades to its fallback."""
    if site not in _PROBE_WARNED:
        _PROBE_WARNED.add(site)
        _LOG.debug("rebalance gate probe %s skipped: %r", site, exc)

#: signature layout: NUM_HASHES minhashes split into BANDS bands
NUM_HASHES = 16
BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS
SHINGLE_K = 3
#: default doc-frequency cap for the inverted-index join (skew guard).
#: A shingle present in more than this many docs is dropped from
#: candidate generation — at local test SFs nothing exceeds it (max
#: observed doc-freq is 25 at sf0.1), so results equal the unguarded
#: run; at corpus scale it is what keeps the self-join from going
#: quadratic on stopword shingles.
MAX_SHINGLE_FREQ = 100
#: LSH bucket-size cap (round-4 mandate): a band bucket holding more
#: than this many docs switches from all-pairs to CHAINED candidate
#: emission (consecutive ids only) — pair volume drops from O(n^2) to
#: O(n) per hot bucket while every member stays candidate-reachable.
#: Verified-cluster equality holds when similarity is transitive along
#: the chain (the exact-dup/boilerplate families that actually go
#: hot); heterogeneous over-cap buckets trade bounded recall for the
#: quadratic blow-up (see minhash_near_dup docstring). This is what
#: stopped the ×20 super-linear pair growth (BENCH_SCALED_x20, r3).
MAX_LSH_BUCKET = 100
#: default shard count for over-cap bucket chaining (round 6: the
#: sharded chain is now the ONLY over-cap path — the unsharded
#: count+lag window over (band, bucket) materialized a hot bucket's
#: whole member list in one window task, the last corpus-key window on
#: a default path). shards=1 reproduces the historical single-chain
#: edges exactly. The DEFAULT is per-bucket ADAPTIVE ("auto", late
#: round 6): shards = ((bn - 1) DIV cap) + 1, so the max window task
#: is bounded at ~``MAX_LSH_BUCKET`` members for ANY bucket size —
#: a fixed shard count only divides the cliff by a constant, while
#: the adaptive count removes it (a 10^8-member boilerplate bucket
#: chains in 10^6 cap-sized tasks, not 16 six-million-row ones).
#: Integer-exact formula, mirrored verbatim in the oracle CTE.
LSH_CHAIN_SHARDS: int | str = "auto"
#: auto-salt threshold for the substring mark-back join (round 6): when
#: the duplicated-gram set exceeds this many rows it has outgrown the
#: default 10 MB autoBroadcastJoinThreshold (win=10 grams average
#: ~60-100 B, so ~1e5 rows ≈ 10 MB) and the semi-join degrades to an
#: SMJ that AQE cannot skew-split (the occurrence exchange is shared
#: with the frequency aggregation — measured, SKEW_STRESS.json). Above
#: the threshold the replicated-build salted join engages
#: automatically with MARK_SALT_DEFAULT; results are identical for any
#: salt (tested), so oracles need no mirroring.
AUTO_MARK_SALT_GRAMS = 100_000
#: hashed-gram variant of the auto-salt threshold (r14 optimization
#: round): the threshold is a proxy for "the dup-gram build side has
#: outgrown the broadcast regime", and an 8-byte xxhash64 key extends
#: that regime ~8x over the ~60-byte gram strings it was calibrated
#: for. Measured at x20 (464k hashed dup grams): the premature salted
#: path let Spark BROADCAST the x16-replicated 7.4M-row build — a
#: driver collect + single-threaded hash build — at 6.06 s, while the
#: unsalted broadcast semi-join of the unreplicated 464k-long table
#: runs 0.52 s (tools/exp_* salted probes, r14 §7 addendum). Results
#: are identical on either path for any salt (tested).
AUTO_MARK_SALT_GRAMS_HASHED = 8 * AUTO_MARK_SALT_GRAMS
#: salt used by the automatic path — 16 measured balanced on the
#: planted 1M-occurrence gram stress (max task 509k ≈ even split)
MARK_SALT_DEFAULT = 16

#: How multi-consumer intermediate tables (the LSH band table, the
#: guarded jaccard posting list, the auto-salt dup-gram set) are
#: materialized. Spark plans are trees: without materialization the
#: shared subtree re-executes once PER CONSUMER (no exchange reuse
#: across self-join sides — probed, SCALE.md round 5), so the default
#: eagerly ``localCheckpoint``\ s the table. That trades two things a
#: multi-executor deployment may care about (round-6 ADVICE):
#:
#: * EAGERNESS — DataFrame *construction* runs Spark jobs (the
#:   checkpoint write, plus the dup-gram count on the
#:   ``mark_salt='auto'`` path) where construction was historically
#:   lazy;
#: * FAULT TOLERANCE — executor-local checkpoint blocks have NO lineage
#:   to recompute from, so losing an executor mid-query fails the query
#:   (fine on local[N]; real money on a 1000-executor preemptible
#:   fleet).
#:
#: ``set_materialization("persist")`` switches every such site to lazy
#: ``persist(MEMORY_AND_DISK)``: construction stays job-free, lineage
#: is retained (executor loss recomputes the partition), and consumer
#: dedup still happens at runtime through the cache manager's
#: InMemoryTableScan reuse — the *static* plan shows the duplicated
#: subtree per consumer, but only the first consumer computes it.
#: Callers on that path should ``unpersist()`` results when done or
#: rely on Spark's LRU eviction. The fully-lazy escape hatch for the
#: substring markers remains ``mark_salt=None`` / an int salt, which
#: skips the gram count entirely.
_MATERIALIZE_MODE = "localCheckpoint"


def set_materialization(mode: str) -> None:
    """Select how shared intermediates materialize: ``"localCheckpoint"``
    (default — eager, lineage-truncating, single-JVM-friendly) or
    ``"persist"`` (lazy, lineage-retaining, fault-tolerant for
    multi-executor clusters). See :data:`_MATERIALIZE_MODE`."""
    global _MATERIALIZE_MODE
    if mode not in ("localCheckpoint", "persist"):
        raise ValueError(
            f"materialization mode must be 'localCheckpoint' or 'persist', got {mode!r}")
    _MATERIALIZE_MODE = mode


def _materialize(df: DataFrame) -> DataFrame:
    """Pin a multi-consumer intermediate per :data:`_MATERIALIZE_MODE`."""
    if _MATERIALIZE_MODE == "persist":
        from pyspark import StorageLevel

        return df.persist(StorageLevel.MEMORY_AND_DISK)
    return df.localCheckpoint(eager=True)


#: input-size floor below which rebalance_for_fanout never fires:
#: under ~1 MiB of (Catalyst-estimated) input, even a 10x fan-out map
#: is sub-second on ONE core, and at that scale the round-robin
#: exchange plus its extra stage COSTS more than it buys — measured on
#: the sf0.1 bench (floor regime, ~0.6 MB corpus): the ungated
#: rebalance moved the suite's unbatched ratio_median from 1.41x to
#: 2.21x of same-run DuckDB while changing nothing at x10 (where the
#: estimate is ~2.7 MB and the gate passes). Module-level so tests can
#: pin both branches.
REBALANCE_MIN_BYTES = 1 << 20

#: (session id, semanticHash, target, min_fraction, REBALANCE_MIN_BYTES)
#: -> bool decision memo for :func:`rebalance_for_fanout`. The gate
#: probes are build-time expensive (~20 ms optimizer-stats + ~50 ms
#: physical planning for ``.rdd`` per call, measured sf0.1/x10) and ~16
#: fan-out sites re-run them on semantically IDENTICAL relations every
#: suite pass — the r9 bench drift suspect. Keyed on the owning
#: SparkSession's identity (r10 advice: two sessions over different
#: warehouses can canonicalize to the same plan hash) plus the
#: canonicalized-plan hash plus every input of the decision, so
#: monkeypatched gates, changed session parallelism, and session
#: restarts all miss cleanly. Assumes source data is immutable within
#: one session's lifetime (true here: testdata is read-only); callers
#: that rewrite source files mid-process should call
#: :func:`clear_gate_cache` — a stale hit is result-neutral either way
#: (repartition never changes values), it only alters the plan shape.
_GATE_CACHE: dict = {}
_GATE_MISS = object()


def clear_gate_cache() -> None:
    """Drop memoized rebalance-gate decisions (see :data:`_GATE_CACHE`).

    For callers that rewrite a relation's underlying files mid-process
    and want the next :func:`rebalance_for_fanout` to re-probe sizes.
    """
    _GATE_CACHE.clear()


def _session_key(df: DataFrame):
    """Identity of the session owning ``df``, for the gate-memo key."""
    try:
        return id(df.sparkSession)
    except _PROBE_ERRORS as exc:
        _probe_skipped("sparkSession", exc)
        return None


def _rebalance_gate(
    df: DataFrame, target: int, min_fraction: float,
    min_bytes: int | None = None,
) -> bool:
    """Uncached gate decision: True iff ``df`` should be rebalanced.

    Hardened per the r9 advice: the size probe rides the classic-mode
    JVM handle (``df._jdf``) — when it is unavailable (Spark Connect)
    or fails, fall back to the partition-count gate alone; when THAT
    is also unavailable (``.rdd`` is classic-only too), decide False so
    the optimization can never break plan construction. ``min_bytes``
    None reads the module default (monkeypatch-visible).
    """
    if min_bytes is None:
        min_bytes = REBALANCE_MIN_BYTES
    try:
        est_bytes = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        if est_bytes < min_bytes:
            return False
    except _PROBE_ERRORS as exc:
        # stats unavailable (Connect has no _jdf): partition gate decides
        _probe_skipped("stats", exc)
    try:
        return df.rdd.getNumPartitions() < max(int(target * min_fraction), 1)
    except _PROBE_ERRORS as exc:
        _probe_skipped("rdd", exc)
        return False


def rebalance_for_fanout(
    df: DataFrame, min_fraction: float = 0.5, min_bytes: int | None = None
) -> DataFrame:
    """Ensure a fan-out-heavy map stage runs at session parallelism.

    Gram/shingle explodes and multi-regex projections do ~10x the work
    per input byte of a plain scan, and ALL of it runs in the SCAN's
    partitions (narrow ops inherit input partitioning). Compressed
    monolithic text parquet defeats every split knob: byte-range splits
    cannot cut inside a row group, so a single-row-group file yields
    1-2 splits no matter what ``spark.sql.files.*`` says (probed:
    ``openCostInBytes``/``minPartitionNum`` raise getNumPartitions to
    32 but 30 splits land empty — the x10 signature pass stays 5.7 s).
    On the 32-core session that serializes the dominant map stage on
    2 cores; a 32-way rebalance takes the x10 minhash signature pass
    4.87 s -> 1.35 s (MINHASH_DECOMP.json, r9).

    Build-time conditional, two gates: the input's Catalyst size
    estimate must exceed :data:`REBALANCE_MIN_BYTES` (below ~1 MiB the
    fan-out is sub-second on one core and the exchange costs more than
    it buys — the sf0.1 floor-regime bench regressed 1.41x -> 2.21x
    unbatched median with the ungated version), AND actual scan
    parallelism must be below ``min_fraction`` x the session's shuffle
    parallelism. At production scale (100 TB = thousands of real
    splits) the second gate makes this a structural no-op; when both
    gates pass, the exchange moves the COMPRESSED input once — ~10x
    less than the exploded volume whose parallelism it buys.

    Round-robin, not hash-on-id: balanced even under clustered ids,
    uncounted by the hash-exchange plan budgets (it is a scan-layout
    corrective, not a key shuffle), and result-neutral for every
    consumer here (per-row projections, keyed aggregates, keyed
    windows). Streaming inputs pass through untouched (micro-batch
    sources size their own partitions; ``.rdd`` is illegal on them).

    The gate decision is memoized per canonicalized input plan
    (:data:`_GATE_CACHE`) — the probes force analysis+optimization and
    physical planning, which at ~16 call sites per suite build was the
    r9 sf0.1 drift suspect — and every probe is fault-tolerant: if the
    classic-mode stats handle is unavailable (Spark Connect) the
    partition-count gate alone decides, and if no probe works the
    function is an exact no-op (r9 advice: the optimization must never
    break plan construction).

    ``min_bytes`` overrides the size floor for call sites whose fan-out
    factor dwarfs the ~10x the default was calibrated for: the codec
    synthesis/decode paths turn an 8-byte doc_id into KILOBYTES of
    per-asset CPU (~1000x), so even a sub-MiB id projection is worth an
    exchange there — measured at x20, multimodal_decode_real dropped
    2.67 -> 1.14 s when its 4-split id scan was spread to 32
    (DECODE_REAL_DECOMP.json r10 update). Pass ``min_bytes=0`` to let
    the partition-count gate alone decide; ``None`` keeps the module
    default (monkeypatch-visible, part of the memo key either way).
    """
    if df.isStreaming:
        return df
    eff_min_bytes = REBALANCE_MIN_BYTES if min_bytes is None else min_bytes
    try:
        target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError, *_PROBE_ERRORS) as exc:
        _probe_skipped("shuffle.partitions", exc)
        return df  # non-integer/absent setting: degrade to a no-op
    if target < 1:
        return df
    # decision memo: ~16 fan-out sites probe semantically identical
    # relations per suite build; semanticHash (analyzed plan only,
    # ~7 ms) replaces the ~20-70 ms optimize+plan probes on every hit
    sess = _session_key(df)
    try:
        key = (sess, df.semanticHash(), target, min_fraction, eff_min_bytes)
    except _PROBE_ERRORS as exc:
        _probe_skipped("semanticHash", exc)
        key = None
    if key is not None:
        hit = _GATE_CACHE.get(key, _GATE_MISS)
        if hit is not _GATE_MISS:
            return df.repartition(target) if hit else df
    decision = _rebalance_gate(df, target, min_fraction, eff_min_bytes)
    if key is not None:
        if len(_GATE_CACHE) > 1024:
            _GATE_CACHE.clear()
        _GATE_CACHE[key] = decision
    return df.repartition(target) if decision else df


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct content hash: keeper id + duplicate count.

    Scale: single hash-shuffle on the digest; the md5 projection is
    codegen'd JVM-side.
    """
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_norm_dedup(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Normalization-insensitive exact dedup (round 11): families key
    on md5 of the CANONICALIZED text — lowercase, every non-alnum run
    collapsed to one space, ends trimmed — the "fuzzy exact" pass
    production corpus pipelines run between byte-exact dedup and
    near-dup (casing/punctuation/whitespace variants of one document
    are the most common boilerplate duplicates and are invisible to
    ``exact_dedup``). ``n_raw_forms`` counts the distinct byte-exact
    variants each family collapsed.

    Scale: the canonicalization is a codegen'd JVM projection riding
    the scan (lower + one regexp_replace + trim); ONE hash-shuffle on
    the family digest, exactly :func:`exact_dedup`'s plan shape — the
    normalized text itself never moves, only its 32-char md5.
    """
    norm = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " "))
    return (
        docs.select(
            F.col(id_col),
            F.md5(norm).alias("norm_md5"),
            F.md5(F.col(text_col)).alias("_raw_md5"),
        )
        .groupBy("norm_md5")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("_raw_md5").alias("n_raw_forms"),
        )
    )


def gram_array(text_col: str = "text", k: int = SHINGLE_K):
    """Column: array of word k-grams in document order (may repeat)."""
    words = F.split(F.col(text_col), " ")
    # NB: sequence(1, n) with n < 1 counts DOWN ([1, 0]) — guard short docs
    idx = F.when(
        F.size(words) >= k,
        F.sequence(F.lit(1), F.size(words) - (k - 1)),
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, k)))


def shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             k: int = SHINGLE_K, distinct: bool = True) -> DataFrame:
    """Word k-gram shingles per document (id, shingle).

    Fully whole-stage-codegen formulation: explode an index sequence and
    build each gram with element_at + concat_ws — NO higher-order
    functions. HOF lambdas (transform/aggregate/zip_with) are evaluated
    interpreted, per array element; on this exact pipeline the
    transform-based gram builder measured 2x slower and an
    aggregate-fold minhash 6x slower than the codegen shapes (sf0.1,
    warmed session). Shingle semantics are identical to
    ``transform(sequence(...), i -> concat_ws(' ', slice(words, i, k)))``.

    ``distinct=True`` dedupes with an (id, shingle) shuffle; the shuffle
    is codegen'd end to end and measures faster than the narrow
    ``array_distinct`` alternative (whose dedup work is interpreted) —
    the standing exception to "avoid shuffles when a narrow op exists".
    """
    words = F.split(F.col(text_col), " ")
    src = rebalance_for_fanout(docs.select(F.col(id_col), F.col(text_col)))
    base = src.select(F.col(id_col), words.alias("_w")).filter(F.size("_w") >= k)
    idx = base.select(
        F.col(id_col), "_w",
        F.explode(F.sequence(F.lit(1), F.size("_w") - (k - 1))).alias("_i"),
    )
    gram = F.concat_ws(" ", *[F.element_at(F.col("_w"), F.col("_i") + j) for j in range(k)])
    sh = idx.select(F.col(id_col), gram.alias("shingle"))
    return sh.distinct() if distinct else sh


def _hash_mask(j: int) -> int:
    import hashlib

    return int(hashlib.md5(f"seed:{j}".encode()).hexdigest()[:15], 16)


#: deterministic 60-bit xor masks, one per hash function — engine-portable
HASH_MASKS = tuple(_hash_mask(j) for j in range(NUM_HASHES))


def shingle_hash(gram):
    """Column: the 60-bit shingle hash — the first 15 hex digits of
    ``md5(gram)`` as a long. DuckDB computes the identical int
    (``('0x' || substr(md5(g), 1, 15))::BIGINT``)."""
    return F.conv(F.substring(F.md5(gram), 1, 15), 16, 10).cast("long")


def minhash_columns(num_hashes: int = NUM_HASHES, per_row: bool = False):
    """``mh0..mh{n-1}``: the minimum of ``_h XOR mask_j`` over a doc's
    shingle hashes ``_h`` — the xor-mask hash family. By default these
    are aggregates over one ``_h`` row per shingle (the map-combined
    groupBy form); ``per_row`` folds a per-doc ``_h`` array column
    instead (the zero-shuffle narrow form)."""
    def xor_min(mask):
        def xor(h):
            return h.bitwiseXOR(F.lit(mask))
        if per_row:
            return F.array_min(F.transform(F.col("_h"), xor))
        return F.min(xor(F.col("_h")))

    return [xor_min(HASH_MASKS[j]).alias(f"mh{j}") for j in range(num_hashes)]


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = NUM_HASHES,
                       k: int = SHINGLE_K) -> DataFrame:
    """(id, mh0..mh{n-1}) — minhash over the xor-mask hash family.

    Each gram is hashed ONCE (md5 hex -> 60-bit int, all codegen'd); the
    j-th hash is ``h XOR mask_j`` with deterministic md5-derived masks,
    so the family costs one md5 + n xors per gram, and ``min(bigint)``
    is HashAggregate-able: all n minima are parallel partial aggregates
    in ONE doc-id groupBy — map-side combine shrinks the shuffle to
    ~one row per (doc, partition). No duplicate-elimination first: min
    is duplicate-insensitive, so the round-1 ``.distinct()`` here was a
    wasted full shuffle of the exploded shingle table.

    This explode+HashAggregate shape beats both array formulations
    measured against it (interpreted transform-grams: 2x slower; a
    zero-shuffle aggregate/zip_with fold: 6x slower) because every
    expression stays inside whole-stage codegen.

    Engine-portable: DuckDB computes the identical ints (hex cast + xor).
    Docs with no k-gram (fewer than k words) produce no row.
    """
    sh = shingles(docs, text_col, id_col, k, distinct=False)
    with_h = sh.withColumn("_h", shingle_hash(F.col("shingle")))
    return with_h.groupBy(id_col).agg(*minhash_columns(num_hashes))


def minhash_signatures_narrow(docs: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id",
                              num_hashes: int = NUM_HASHES,
                              k: int = SHINGLE_K) -> DataFrame:
    """Identical signatures to :func:`minhash_signatures`, computed as
    a ZERO-SHUFFLE narrow map (per-row array fold) instead of
    explode + groupBy.

    A document's shingles all originate from its single row, so the
    per-doc minima need no exchange at all — the explode+HashAggregate
    shape re-collects what was already colocated. The fold costs ~6x
    the CPU of the codegen explode shape (HOF lambdas are interpreted),
    which is why the self-join path keeps the explode form; HERE the
    trade is different: in :func:`incremental_dedup` the corpus side
    only needs signatures to probe a broadcast bucket table, and at
    100 TB removing the corpus-wide shuffle of the exploded shingle
    table (~10x the text volume over the wire) dwarfs a constant-factor
    CPU cost that scales out with executors anyway.

    Docs with fewer than ``k`` words are dropped (no shingles), exactly
    matching the explode form's semantics.
    """
    grams = gram_array(text_col, k)
    base = docs.select(F.col(id_col), grams.alias("_g")).filter(F.size("_g") >= 1)
    base = base.select(F.col(id_col),
                       F.transform(F.col("_g"), shingle_hash).alias("_h"))
    return base.select(F.col(id_col), *minhash_columns(num_hashes, per_row=True))


def lsh_band_buckets(signatures: DataFrame, id_col: str = "doc_id",
                     bands: int = BANDS, rows_per_band: int = ROWS_PER_BAND) -> DataFrame:
    """(id, band, bucket) — bucket = md5 of the band's minhash run.

    Narrow reshape of the wide signature table (stack, no shuffle)."""
    stack_expr = "stack({}, {}) as (band, bucket)".format(
        bands,
        ", ".join(
            "{b}L, md5(concat_ws('|', {cols}))".format(
                b=b,
                cols=", ".join(
                    f"mh{b * rows_per_band + r}" for r in range(rows_per_band)
                ),
            )
            for b in range(bands)
        ),
    )
    return signatures.selectExpr(id_col, stack_expr)


def minhash_near_dup(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     max_bucket_size: int | None = MAX_LSH_BUCKET,
                     chain_shards: int | str = LSH_CHAIN_SHARDS) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) sharing an LSH band.

    Scale: one shuffle for the signatures (map-combined), then the
    self-join on (band, bucket) — co-partitioned by the join key,
    bucket cardinality ~n_docs so no broadcast needed. Hot buckets
    (boilerplate clusters, template families) are where banded LSH goes
    super-linear: a bucket of n docs emits n(n-1)/2 pairs. Buckets over
    ``max_bucket_size`` therefore emit a sharded CHAIN instead (see
    :func:`_sharded_chain_pairs`) — exactly n-1 pairs per over-cap
    bucket, every member candidate-CONNECTED, max window task bounded
    at ~``max_bucket_size`` members under the default adaptive shard
    count (``chain_shards="auto"``: per-bucket ((n-1) DIV cap) + 1;
    an int fixes the count, bounding tasks at bucket/``chain_shards``
    instead). Downstream cluster equality is
    guaranteed when intra-bucket similarity is transitive along the
    chain (exact-dup and boilerplate families — the buckets that
    actually go hot); in a heterogeneous hot bucket a chain link can
    fall below the verifier's threshold and split the component, so the
    guard trades bounded recall inside over-cap buckets for the
    quadratic blow-up — the same stance as ``max_shingle_freq``, and
    mirrored in the oracle CTE so both engines agree exactly. Measured
    at ×20 scale this is the difference between 12.8 s and a 2.4×
    DuckDB lead (SCALE.md). Pass ``None`` for the historical unguarded
    all-pairs behavior.

    Round 6: the sharded chain is the ONLY over-cap path and its
    md5-derived shard assignment is oracle-mirrored — the former
    default (a count+lag window over the raw (band, bucket) key, i.e.
    a hot bucket's whole member list sorted in ONE window task) is
    gone. ``chain_shards=1`` reproduces those historical single-chain
    edges exactly; the adaptive default keeps the task bound constant
    in bucket size instead of merely dividing it by a fixed count.

    EAGERNESS: the multi-consumer band table materializes eagerly at
    construction by default (lineage-truncating localCheckpoint — see
    :func:`set_materialization` for why, and for the lazy
    fault-tolerant ``persist`` mode for multi-executor clusters).
    """
    buckets = lsh_band_buckets(minhash_signatures(docs, text_col, id_col), id_col)
    if max_bucket_size is None:
        buckets = _materialize(buckets)
        a = buckets.select(F.col(id_col).alias("id_a"), "band", "bucket")
        b = buckets.select(F.col(id_col).alias("id_b"), "band", "bucket")
        return (
            a.join(b, ["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    return _sharded_chain_pairs(buckets, id_col, max_bucket_size, chain_shards)


def _sharded_chain_pairs(buckets: DataFrame, id_col: str,
                         max_bucket_size: int, shards: int | str) -> DataFrame:
    """Chain guard with BOUNDED tasks — the 100 TB form of the bucket
    cap, and (round 6) the default and oracle-mirrored over-cap path.

    The pre-r6 chain rode count+lag windows over (band, bucket), which
    is linear in pair VOLUME but still materializes a hot bucket's
    whole member list in ONE window task (the same unsplittable shape
    the round-5 gram rewrite removed elsewhere — a 10⁸-member
    boilerplate bucket is one task's sort). Here the bucket size comes
    from a map-combined aggregation (hot key absorbed map-side; the
    tiny over-cap set rides the join's exchange), and each over-cap
    bucket's chain is SHARDED: members hash into per-bucket sub-groups
    via the engine-portable md5 idiom (mirrored verbatim in the oracle
    CTE), chained within their shard's (id-ordered) window, and
    consecutive non-empty shards are linked with one (max of shard k,
    min of shard k+1) pair from a shards-sized window. With the
    default ``shards="auto"`` the count is ADAPTIVE per bucket —
    ((bn - 1) DIV cap) + 1, integer-exact in both engines — so the max
    window task is ~``max_bucket_size`` members for ANY bucket size;
    an int count bounds tasks at bucket/shards instead (shards=1 is
    the historical single chain). Pair count per over-cap bucket stays
    exactly n-1 and every member stays candidate-CONNECTED (a spanning
    path), so downstream verify→connected-components clusters are
    preserved under the same transitivity condition as the single
    chain.
    """
    if shards != "auto" and (not isinstance(shards, int) or shards < 1):
        raise ValueError(f"chain_shards must be >= 1 or 'auto', got {shards}")
    # Materialize the band/bucket table ONCE: it feeds the sizes agg,
    # both self-join sides, and the two chain windows — Spark plans are
    # trees, so without the checkpoint the whole shingle→signature
    # subtree re-executes per consumer (measured: 16 exchanges vs 7;
    # see the round-5 self-join probe in SCALE.md). localCheckpoint is
    # executor-local (memory+disk) and WITHIN-query — bench re-builds
    # the DataFrame per pass, so nothing is cached across passes.
    buckets = _materialize(buckets)
    sizes = (
        buckets.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("_bn"))
        .filter(F.col("_bn") > max_bucket_size)
        .select("band", "bucket", "_bn")
    )
    # over-cap buckets are the rare boilerplate/template families
    # (<= n_buckets/cap by construction, in practice far fewer) —
    # broadcast so the probe side keeps its narrow lineage
    bk = buckets.join(F.broadcast(sizes), ["band", "bucket"], "left")
    # second (cheap) materialization: bk feeds four consumers — the two
    # self-join sides and the two chain windows — and each would re-run
    # the sizes agg + broadcast join against the buckets checkpoint
    bk = _materialize(bk)
    small = bk.filter(F.col("_bn").isNull())
    a = small.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = small.select(F.col(id_col).alias("id_b"), "band", "bucket")
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    # engine-portable shard hash (same md5 idiom as the shingle hash /
    # sampling membership) so the oracle CTE computes identical shards;
    # DIV keeps the adaptive count integer-exact in both engines
    n_shards = (
        F.expr(f"(_bn - 1) DIV {max_bucket_size} + 1")
        if shards == "auto" else F.lit(shards)
    )
    over = bk.filter(F.col("_bn").isNotNull()).withColumn(
        "_shard",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("shard:"),
                                   F.col(id_col).cast("string"))),
                    1, 15,
                ),
                16, 10,
            ).cast("long"),
            n_shards,
        ),
    )
    wsh = Window.partitionBy("band", "bucket", "_shard").orderBy(id_col)
    intra = (
        over.withColumn("_prev", F.lag(id_col).over(wsh))
        .filter(F.col("_prev").isNotNull())
        .select(F.col("_prev").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    bounds = over.groupBy("band", "bucket", "_shard").agg(
        F.min(id_col).alias("_mn"), F.max(id_col).alias("_mx")
    )
    wb = Window.partitionBy("band", "bucket").orderBy("_shard")
    cross = (
        bounds.withColumn("_pmx", F.lag("_mx").over(wb))
        .filter(F.col("_pmx").isNotNull())
        .select(
            F.least("_pmx", "_mn").alias("id_a"),
            F.greatest("_pmx", "_mn").alias("id_b"),
        )
    )
    return pairs.unionByName(intra).unionByName(cross).distinct()


def lsh_bucket_stats(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     max_bucket_size: int = MAX_LSH_BUCKET) -> DataFrame:
    """Per-band LSH bucket health: (band, n_buckets, max_bucket_size,
    n_over_cap, docs_in_over_cap) — the "no silent caps" companion to
    :func:`minhash_near_dup` (round-4 ADVICE): the bucket-size cap
    switches over-cap buckets from all-pairs to chained candidates,
    trading bounded recall inside those buckets for linear pair volume,
    and this report tells a recall-sensitive run WHETHER and HOW MUCH
    that trade actually fired — n_over_cap = 0 means the cap was a
    no-op and candidate recall is the uncapped recall.

    Scale: two map-combined aggregations (bucket sizes, then per-band
    rollup over the bucket-sized table) — hot buckets are absorbed
    map-side, nothing here is skew-sensitive.
    """
    buckets = lsh_band_buckets(minhash_signatures(docs, text_col, id_col), id_col)
    sizes = buckets.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_n"))
    over = F.col("_n") > max_bucket_size
    return sizes.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("_n").alias("max_bucket_size"),
        F.sum(over.cast("long")).alias("n_over_cap"),
        F.sum(F.when(over, F.col("_n")).otherwise(F.lit(0))).alias("docs_in_over_cap"),
    )


def ngram_jaccard(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  min_jaccard: float = 0.0,
                  max_shingle_freq: int | None = MAX_SHINGLE_FREQ) -> DataFrame:
    """Exact Jaccard similarity for pairs sharing >= 1 surviving shingle.

    jaccard = |A ∩ B| / |A ∪ B| — a ratio of exact integers, so the
    value is bit-identical across engines. ``max_shingle_freq`` (ON by
    default) drops shingles appearing in more than that many docs from
    candidate generation — the skew guard that stops a stopword shingle
    from producing a quadratic hot join key at corpus scale. Set sizes
    |A| and |B| are always the FULL distinct-shingle counts (computed
    as array sizes — narrow, no extra shuffle/join), so the jaccard of
    every reported pair is exact; only pairs sharing *solely* hot
    shingles are missed.

    Shape (all codegen): ONE ``repartition(id)`` up front satisfies
    BOTH the (id, shingle) dropDuplicates (ClusteredDistribution on a
    superset of the partitioning key is satisfied — same-keyed rows
    are co-located) AND the per-id set-size count-window, so distinct
    + sizes cost a single exchange instead of two; the result is
    localCheckpointed ONCE (r14 — before the guard, so the guard's two
    frequency branches read the checkpoint instead of re-instantiating
    the posting pipeline) and the self-join runs as a shuffled-hash
    join over the two identical shingle exchanges (AQE materializes
    one). The doc-frequency
    guard is a map-combined ``groupBy(shingle)`` + anti-join against
    the tiny hot set (round 5; see the inline comment in
    `_shingle_pair_counts` — the round-2..4 count-window form
    single-tasked a stopword shingle's full occurrence list at scale,
    the one skew shape AQE cannot split). Set sizes ride along through
    the join instead of a separate sizes aggregation + two joins.

    Variants measured and REJECTED at sf0.1 (in-process best-of-4):
    distinct + id-window as two separate exchanges (1.77 s vs 1.31 s
    for this shape, 7 exchanges vs 5); 60-bit-md5 join keys instead of
    shingle strings (2.12 s vs 1.44 s — the per-occurrence md5 costs
    more than the string shuffle saves). Round 3 REVISITED the hashed
    join keys at ×10 data (the "shuffle volume dominates" regime) with
    interleaved best-of-5: xxhash64 single and double-hash keys tie
    the string keys at ×10 (3.30/3.32 vs 3.40 s) and lose at sf0.1
    (0.88/0.99 vs 0.65 s) — string keys stay, keeping exact-equality
    semantics with zero collision caveat. A full groupBy+join GUARD
    was measured 3.32 s vs 1.99 s for the count-window in round 2 and
    rejected; round 5 takes that constant back deliberately — the
    window form is a 100 TB scale-killer on boilerplate shingles
    (SCALE.md round-5 skew-stress artifact quantifies both sides).
    Skew note: repartition(id) keys on the doc id, so per-partition
    volume is bounded by document length — no hot key unless a single
    document dwarfs the corpus.
    """
    out = (
        _shingle_pair_counts(docs, text_col, id_col, max_shingle_freq)
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("n_common")),
        )
        .select("id_a", "id_b", "n_common", "jaccard")
    )
    if min_jaccard > 0.0:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out


def _shingle_pair_counts(docs: DataFrame, text_col: str, id_col: str,
                         max_shingle_freq: int | None) -> DataFrame:
    """(id_a, id_b, n_common, _na, _nb) for pairs sharing a surviving
    shingle — the inverted-index core shared by :func:`ngram_jaccard`
    and :func:`ngram_containment` (shape and rationale documented on
    the former)."""
    sh = shingles(docs, text_col, id_col, distinct=False)
    sh = sh.repartition(id_col).dropDuplicates([id_col, "shingle"])
    sh = sh.withColumn(
        "n_shingles", F.count(F.lit(1)).over(Window.partitionBy(id_col))
    )
    # Materialize the deduped+windowed posting table BEFORE the
    # doc-frequency guard (r14): the guard's phase-A frequency pass and
    # phase-B recount each re-instantiated the whole
    # explode+repartition(id)+dedup+window subtree (3 Generates /
    # 5 Exchanges in the pre-r14 checkpoint job — plans/r14/
    # dedup_ngram_jaccard_before.txt), so the corpus-wide posting
    # pipeline ran ~3x per build. Checkpointing here runs it ONCE; the
    # guard and the shingle repartition stay lazy and ride the final
    # self-join, whose two sides canonicalize to the SAME exchanges and
    # are deduplicated by AQE's shuffle-stage reuse at runtime
    # (executedPlan shows ReusedExchange; measured sf0.1 interleaved
    # best-of-10: 1.70 -> 1.27 s with the shuffled-hash join below).
    sh = _materialize(sh)
    if max_shingle_freq is not None:
        # Doc-frequency guard as map-combined aggregations + anti-join
        # against the hot set, NOT a count-window over the shingle: a
        # window cannot partial-aggregate, so at corpus scale a stopword
        # shingle's 10^8-row occurrence list would sort+buffer in ONE
        # task before the filter discards it (and AQE skew-splitting
        # does not apply to window partitions). The frequency pass uses
        # the two-phase hashed count (see _candidate_rows — a direct
        # groupBy(shingle) shuffled the whole string universe as
        # partials, measured +5.5 s at ×10); the final hot set is
        # byte-identical, so the oracle CTE is untouched. The hot set
        # is true stopword shingles only, so AQE broadcasts the
        # anti-join — and if it ever outgrew broadcast, a shuffled
        # anti-join on shingle is AQE-skew-splittable, which the window
        # never is.
        hot = (
            _candidate_rows(sh.select("shingle"), "shingle",
                            max_shingle_freq + 1, broadcast_cand=True)
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(hot, "shingle", "left_anti")
        # ONE explicit shingle exchange ahead of the self-join: its
        # partitioning satisfies the join requirement on both sides, so
        # the join adds no further exchange (both sides canonicalize to
        # the same shuffle and AQE materializes it once).
        sh = sh.repartition("shingle")
    a = sh.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"), "shingle")
    # SHUFFLE_HASH, not the planner's choice (r14): at bench SF the
    # checkpointed posting table sits under the broadcast threshold, so
    # the planner collected all ~1.5M posting rows to the driver and
    # built one giant hashed relation (plans/r14/
    # dedup_ngram_jaccard_before.txt shows the BroadcastHashJoin) —
    # single-threaded build, and a shape that evaporates at corpus
    # scale anyway. The hint keeps the self-join on the two identical
    # co-partitioned exchanges at EVERY scale: per-partition hash build
    # over the hot-guard-bounded postings (<= max_shingle_freq docs per
    # shingle, so partitions stay balanced), no sort (vs merge join —
    # measured sf0.1 best-of-10: SHJ 1.27 s, SMJ 1.29 s best but 1.63
    # vs 1.39 median), no driver collect.
    return (
        a.join(b.hint("shuffle_hash"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.min("n_a").alias("_na"),
            F.min("n_b").alias("_nb"),
        )
    )


def ngram_containment(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", min_containment: float = 0.0,
                      max_shingle_freq: int | None = MAX_SHINGLE_FREQ) -> DataFrame:
    """Asymmetric n-gram containment per candidate pair — the quote /
    subset-duplication detector jaccard misses.

    ``containment_a = |A ∩ B| / |A|`` (fraction of A's shingles found in
    B) and symmetrically for B. A short document quoted wholesale inside
    a long one has near-1.0 containment on the short side but a tiny
    jaccard (the union is dominated by the long doc), so jaccard-based
    dedup keeps both copies; containment-based filtering catches the
    embedded duplicate (Broder's resemblance-vs-containment distinction,
    SEQUENCES'97). ``min_containment`` filters on the GREATER of the two
    directions: a pair survives when either side is mostly contained in
    the other.

    Exactness and scale are inherited from :func:`ngram_jaccard`'s
    machinery verbatim (one pair-count core, `_shingle_pair_counts`):
    set sizes are the FULL distinct-shingle counts so both containments
    are exact ratios of exact integers; ``max_shingle_freq`` prunes only
    candidate *generation*.
    """
    pairs = _shingle_pair_counts(docs, text_col, id_col, max_shingle_freq)
    out = pairs.select(
        "id_a",
        "id_b",
        "n_common",
        (F.col("n_common").cast("double") / F.col("_na")).alias("containment_a"),
        (F.col("n_common").cast("double") / F.col("_nb")).alias("containment_b"),
        (
            F.col("n_common").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("n_common"))
        ).alias("jaccard"),
    )
    if min_containment > 0.0:
        out = out.filter(
            F.greatest("containment_a", "containment_b") >= min_containment
        )
    return out


def minhash_accuracy(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Sketch-accuracy report: estimated vs exact jaccard for every LSH
    candidate pair — the measurement that justifies (or rejects) a
    minhash configuration before running it over 100 TB.

    est_jaccard = (matching signature components) / NUM_HASHES — the
    unbiased minhash estimator; jaccard is the exact value over full
    shingle sets (unguarded: accuracy measurement must not inherit the
    candidate-generation skew cap), 0.0 for the rare pair bucketed
    together without sharing any shingle. Both are exact integer
    ratios, so the report is engine-portable.

    Scale: signature joins are candidate-bounded; the exact-jaccard
    side is the inverted-index pair table restricted by the join to
    candidate pairs.
    """
    cand = minhash_near_dup(docs, text_col, id_col)
    sig = minhash_signatures(docs, text_col, id_col)
    a = sig.select(
        F.col(id_col).alias("id_a"), *[F.col(f"mh{j}").alias(f"a{j}") for j in range(NUM_HASHES)]
    )
    b = sig.select(
        F.col(id_col).alias("id_b"), *[F.col(f"mh{j}").alias(f"b{j}") for j in range(NUM_HASHES)]
    )
    matches = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("int") for j in range(NUM_HASHES)
    )
    est = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", (matches / F.lit(float(NUM_HASHES))).alias("est_jaccard"))
    )
    exact = ngram_jaccard(docs, text_col, id_col, max_shingle_freq=None).select(
        "id_a", "id_b", "jaccard"
    )
    return (
        est.join(exact, ["id_a", "id_b"], "left")
        .withColumn("jaccard", F.coalesce("jaccard", F.lit(0.0)))
        .withColumn("abs_err", F.abs(F.col("est_jaccard") - F.col("jaccard")))
    )


def incremental_dedup(base: DataFrame, delta: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      min_jaccard: float = 0.8) -> DataFrame:
    """Dedup a new ingest batch (``delta``) against an existing corpus
    (``base``) — the daily-ingest shape of dedup: the corpus is already
    clean, only the arriving slice needs vetting.

    Output, one row per delta doc:
    (doc_id, exact_dup_base, exact_dup_delta, near_dup_base, is_new)
    — exact_dup_base: content hash already in the corpus;
    exact_dup_delta: an earlier (lower-id) delta doc has the same hash;
    near_dup_base: shares an LSH band bucket with a base doc AND the
    exact shingle jaccard of that pair >= ``min_jaccard``;
    is_new: none of the above (the rows to append to the corpus).

    Scale stance — THE point of the incremental form: the 100 TB base
    side NEVER shuffles. Every base interaction is a streamed scan
    against a broadcast delta-derived table (ingest batches are small
    next to the corpus): the exact check broadcasts delta's distinct
    hashes, the candidate join broadcasts delta's band buckets, and
    jaccard verification first prunes base to the candidate doc ids
    (broadcast semi-join) before any explode — shingles are only ever
    computed for base docs that share a bucket with the batch. Within
    delta, work is delta-sized (one small hash shuffle).
    """
    d_h = delta.select(F.col(id_col), F.md5(F.col(text_col)).alias("_h"))
    b_h = base.select(F.md5(F.col(text_col)).alias("_h"))
    hit_md5 = (
        b_h.join(F.broadcast(d_h.select("_h").distinct()), "_h")
        .distinct()
        .withColumn("_eb", F.lit(1))
    )
    keeper = Window.partitionBy("_h")

    # delta: the fast explode+agg signature (delta-sized shuffle is
    # cheap); base: the zero-shuffle narrow fold — identical values
    db = lsh_band_buckets(minhash_signatures(delta, text_col, id_col), id_col)
    bb = lsh_band_buckets(minhash_signatures_narrow(base, text_col, id_col), id_col)
    cand = (
        bb.join(
            F.broadcast(db.select(F.col(id_col).alias("delta_id"), "band", "bucket")),
            ["band", "bucket"],
        )
        .select(F.col(id_col).alias("base_id"), "delta_id")
        .distinct()
    )

    def _sets(docs: DataFrame, keep_ids: DataFrame | None) -> DataFrame:
        src = docs
        if keep_ids is not None:
            src = docs.join(F.broadcast(keep_ids), id_col)
        return (
            shingles(src, text_col, id_col, distinct=False)
            .groupBy(id_col)
            .agg(F.collect_set("shingle").alias("_sh"))
        )
    base_sets = _sets(base, cand.select(F.col("base_id").alias(id_col)).distinct())
    delta_sets = _sets(delta, None)
    verified = (
        cand.join(
            base_sets.select(F.col(id_col).alias("base_id"), F.col("_sh").alias("_shb")),
            "base_id",
        )
        .join(
            F.broadcast(
                delta_sets.select(F.col(id_col).alias("delta_id"), F.col("_sh").alias("_shd"))
            ),
            "delta_id",
        )
        .withColumn("_inter", F.size(F.array_intersect("_shd", "_shb")))
        .withColumn(
            "_jac",
            F.col("_inter").cast("double")
            / (F.size("_shd") + F.size("_shb") - F.col("_inter")),
        )
        .filter(F.col("_jac") >= min_jaccard)
        .select("delta_id")
        .distinct()
        .withColumn("_nb", F.lit(1))
    )

    out = (
        d_h.withColumn("_kmin", F.min(id_col).over(keeper))
        .join(F.broadcast(hit_md5), "_h", "left")
        .join(
            F.broadcast(verified.withColumnRenamed("delta_id", id_col)),
            id_col,
            "left",
        )
    )
    eb = F.when(F.col("_eb").isNotNull(), 1).otherwise(0)
    ed = F.when(F.col("_kmin") < F.col(id_col), 1).otherwise(0)
    nb = F.when(F.col("_nb").isNotNull(), 1).otherwise(0)
    return out.select(
        id_col,
        eb.cast("long").alias("exact_dup_base"),
        ed.cast("long").alias("exact_dup_delta"),
        nb.cast("long").alias("near_dup_base"),
        ((eb + ed + nb) == 0).cast("long").alias("is_new"),
    )


def _sided_tag(a: DataFrame, b: DataFrame, text_col: str,
               id_col: str) -> DataFrame:
    """Union of two corpora keyed by a (side, id) struct ``_sid`` —
    the single-pipeline input of the cross-corpus operators (r14
    optimization round): side 0 = ``a``, side 1 = ``b``. Grouping by
    the struct keeps ids from the two corpora distinct even when the
    raw id spaces overlap."""
    return (
        a.select(F.lit(0).alias("_side"), F.col(id_col).alias("_id"),
                 F.col(text_col))
        .unionByName(
            b.select(F.lit(1).alias("_side"), F.col(id_col).alias("_id"),
                     F.col(text_col)))
        .select(F.struct(F.col("_side"), F.col("_id")).alias("_sid"),
                F.col(text_col))
    )


def _sided_band_buckets(a: DataFrame, b: DataFrame, text_col: str,
                        id_col: str) -> DataFrame:
    """(_sid, band, bucket) for BOTH corpora through ONE shingle
    explode + ONE signature aggregation + ONE band reshape — the
    sided single-pipeline shape of the oracle's ``sided`` CTE. Halves
    the number of heavy passes vs per-side pipelines (r14 optimization
    round; signatures per (side, id) are bit-identical to per-side
    runs: the group key changes, the per-group stream does not)."""
    tagged = _sided_tag(a, b, text_col, id_col)
    return lsh_band_buckets(
        minhash_signatures(tagged, text_col, "_sid"), "_sid")


def _sided_sig_sets(a: DataFrame, b: DataFrame, text_col: str,
                    id_col: str, num_hashes: int = NUM_HASHES,
                    k: int = SHINGLE_K) -> DataFrame:
    """Per-doc (_sid, mh0..mh{n-1}, _sh) — the sided minhash signatures
    AND the distinct hashed-shingle set, from ONE shingle explode and
    ONE group aggregation (r15 optimization round).

    The verify stage of :func:`cross_corpus_near_dup` needs exactly the
    distinct set of the 60-bit shingle hashes the signatures already
    minimize; computing ``collect_set(_h)`` in the SAME groupBy rides
    the existing exchange (one row per (doc, map partition) after
    partial aggregation) instead of re-scanning both corpora,
    re-exploding shingles and re-hashing grams for the candidate docs.
    Measured at x10: the fused agg costs the same as the signature-only
    agg within noise (1.1-1.3 s both, tools/exp_cross_sets2.py) while
    the whole second sets-build subtree disappears. Set values are
    identical to the historical verify-leg sets by construction — same
    ``_h`` expression, and ``collect_set`` over the non-distinct stream
    equals the distinct set."""
    tagged = _sided_tag(a, b, text_col, id_col)
    sh = shingles(tagged, text_col, "_sid", k, distinct=False)
    with_h = sh.select("_sid", shingle_hash(F.col("shingle")).alias("_h"))
    return with_h.groupBy("_sid").agg(
        *minhash_columns(num_hashes), F.collect_set("_h").alias("_sh"))


def cross_corpus_near_dup(a: DataFrame, b: DataFrame,
                          text_col: str = "text", id_col: str = "doc_id",
                          min_jaccard: float = 0.8,
                          max_side_bucket: int = MAX_LSH_BUCKET) -> DataFrame:
    """Verified near-duplicate pairs ACROSS two LARGE corpora (round
    14) — the corpus-merge shape: two crawls (or a new crawl vs an
    existing training set at comparable size) where NEITHER side fits
    a broadcast, so :func:`incremental_dedup`'s broadcast-the-delta
    plan does not apply and :func:`minhash_near_dup`'s self-join would
    waste most of its pairs on within-side duplicates the per-corpus
    dedup already handled.

    Output: (a_id, b_id, jaccard) — one row per cross pair sharing an
    LSH band bucket whose EXACT word-shingle jaccard >= ``min_jaccard``.

    SCALE: both corpora union into one (side, id)-keyed stream, so ONE
    shingle explode and ONE map-combined aggregation build every doc's
    signature and hashed-shingle set (:func:`_sided_sig_sets`); the
    band table derives narrowly from that per-doc table. One
    conditional-sum aggregation counts each (band, bucket) per side,
    and the candidate join on (band, bucket) emits ONLY A x B rows —
    within-side pairs never exist in this plan. Hot buckets
    (boilerplate shared by both crawls) would cost na*nb pairs, so a
    bucket is DROPPED from candidates when either side exceeds
    ``max_side_bucket`` members in it — the same non-discriminative-
    template stance as ``max_frame_freq`` on video near-dup, mirrored
    exactly in the oracle; a pair of genuinely near-dup docs loses
    only that band's vote and still collides on its other bands.
    Verification reads each candidate's set from the same per-doc
    table (no corpus re-scan, no second explode); the price is that
    the table holds a set for EVERY doc of both corpora, not only the
    candidates (ROADMAP item 5 measures it at low candidate fraction).

    Both sides use the explode+agg signature (map-combined shuffle):
    unlike :func:`incremental_dedup`'s base side — where the narrow
    zero-shuffle fold buys "the corpus never shuffles" at interpreted-
    HOF CPU cost — the symmetric merge has no never-shuffle side, and
    the fold measured 30x slower than the exchange it avoids
    (34 s vs 1.2 s per side at x10; values identical either way).

    r14 optimization round: ONE sided pipeline instead of two per-side
    pipelines — both corpora union into a (side, id)-keyed stream (the
    oracle's own ``sided`` CTE shape), so the shingle explode, the
    signature aggregation, the band reshape and the eager
    materialization each run ONCE over the combined input instead of
    once per side, and the two per-side bucket-count aggregations + the
    (band, bucket) count join collapse into one conditional-sum
    aggregation. The verify stage intersects the 60-bit md5 shingle
    hashes (the exact integers the signatures already minimize) instead
    of raw shingle strings: distinct-set sizes and intersections are
    identical while the hash family is injective on the corpus vocab
    (checked corpus-wide by tests/tools — the same stance minhash
    itself takes), and the per-pair join payload drops from ~3.5 KB of
    strings to ~0.9 KB of longs per side (measured 96k candidate pairs
    x ~115-shingle docs at x10: the array payload through the pair
    joins was the dominant verify cost).

    r15 optimization round: the per-doc hashed-shingle SET is computed
    in the SAME aggregation as the signatures (:func:`_sided_sig_sets`)
    and carried through the eager materialization, so the verify stage
    joins candidates directly against the checkpointed per-doc table —
    the whole second sets-build subtree (two corpus semi-joins + two
    shingle explodes + two collect_set aggregations) is gone. The band
    table derives NARROWLY (stack, no shuffle) from the same checkpoint
    and is materialized separately so its three consumers read the
    slim (sid, band, bucket) rows, not the array payload. Measured x10
    interleaved best: 6.55 -> 4.19-4.75 s (tools/exp_cross_sets.py,
    value-identity asserted first); every same-pass comparison under
    co-tenant load favors the carried-sets shape ~2x."""
    doc_tbl = _materialize(_sided_sig_sets(a, b, text_col, id_col))
    sided = _materialize(lsh_band_buckets(
        doc_tbl.select("_sid", *[f"mh{j}" for j in range(NUM_HASHES)]),
        "_sid"))
    side = F.col("_sid").getField("_side")
    ok = (
        sided.groupBy("band", "bucket")
        .agg(
            F.sum(F.when(side == 0, 1).otherwise(0)).alias("_na"),
            F.sum(F.when(side == 1, 1).otherwise(0)).alias("_nb"),
        )
        .filter(
            (F.col("_na") > 0) & (F.col("_nb") > 0)
            & (F.col("_na") <= max_side_bucket)
            & (F.col("_nb") <= max_side_bucket)
        )
        .select("band", "bucket")
    )
    cand = (
        sided.filter(side == 0)
        .select(F.col("_sid").getField("_id").alias("a_id"), "band", "bucket")
        .join(ok, ["band", "bucket"])
        .join(
            sided.filter(side == 1)
            .select(F.col("_sid").getField("_id").alias("b_id"), "band", "bucket"),
            ["band", "bucket"],
        )
        .select("a_id", "b_id")
        .distinct()
    )
    # cand feeds THREE consumers (both keep-lists + the verify join);
    # without truncation the bucket-join subtree re-executes per
    # consumer (measured: 17 static exchanges vs 4, same AQE-reused
    # runtime shape as the minhash band table)
    cand = _materialize(cand)

    # verify sets come straight off the checkpointed per-doc table
    # (r15): each side is a filter+projection of doc_tbl — no corpus
    # re-scan, no second explode, no collect_set rebuild. Every
    # candidate doc has a set row by construction (candidates come
    # from band buckets, which exist only for docs with >= 1 shingle).
    a_sets = (doc_tbl.filter(side == 0)
              .select(F.col("_sid").getField("_id").alias("a_id"),
                      F.col("_sh").alias("_sha")))
    b_sets = (doc_tbl.filter(side == 1)
              .select(F.col("_sid").getField("_id").alias("b_id"),
                      F.col("_sh").alias("_shb")))
    return (
        cand.join(a_sets, "a_id")
        .join(b_sets, "b_id")
        .withColumn("_inter", F.size(F.array_intersect("_sha", "_shb")))
        .withColumn(
            "jaccard",
            F.col("_inter").cast("double")
            / (F.size("_sha") + F.size("_shb") - F.col("_inter")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("a_id", "b_id", "jaccard")
    )


def cross_corpus_bucket_health(a: DataFrame, b: DataFrame,
                               text_col: str = "text",
                               id_col: str = "doc_id",
                               max_side_bucket: int = MAX_LSH_BUCKET
                               ) -> DataFrame:
    """The no-silent-caps companion to :func:`cross_corpus_near_dup`
    (round 14), the cross-corpus analog of :func:`lsh_bucket_stats`:
    per band, how many buckets both corpora share, how many the
    per-side cap DROPPED, and the exact candidate-pair volume the drop
    saved vs kept — so a run where boilerplate silently ate the
    candidate generation is visible in one scan of the same band
    tables the pair query builds.

    Output per band: n_shared_buckets, n_dropped, max_side_a,
    max_side_b, pairs_kept, pairs_dropped (pairs = na*nb per shared
    bucket — the exact A x B candidate rows the join would emit).

    SCALE: ONE map-combined conditional-sum bucket aggregation over the
    sided single pipeline (r14 optimization round — was two per-side
    signature pipelines + a (band, bucket) count join) + one band-sized
    agg — no doc-sized or pair-sized intermediate anywhere."""
    sided = _sided_band_buckets(a, b, text_col, id_col)
    side = F.col("_sid").getField("_side")
    shared = (
        sided.groupBy("band", "bucket")
        .agg(
            F.sum(F.when(side == 0, 1).otherwise(0)).alias("_na"),
            F.sum(F.when(side == 1, 1).otherwise(0)).alias("_nb"),
        )
        .filter((F.col("_na") > 0) & (F.col("_nb") > 0))
    ).withColumn(
        "_drop",
        ((F.col("_na") > max_side_bucket)
         | (F.col("_nb") > max_side_bucket)).cast("long"),
    )
    pairs = F.col("_na") * F.col("_nb")
    return shared.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_shared_buckets"),
        F.sum("_drop").alias("n_dropped"),
        F.max("_na").alias("max_side_a"),
        F.max("_nb").alias("max_side_b"),
        F.sum(F.when(F.col("_drop") == 0, pairs).otherwise(F.lit(0)))
        .alias("pairs_kept"),
        F.sum(F.when(F.col("_drop") == 1, pairs).otherwise(F.lit(0)))
        .alias("pairs_dropped"),
    )


def corpus_merge_report(a: DataFrame, b: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        min_jaccard: float = 0.8,
                        max_side_bucket: int = MAX_LSH_BUCKET) -> DataFrame:
    """The per-document DECISION output of a symmetric corpus merge
    (round 14): for every doc of the incoming corpus ``b``, classify
    it against the existing corpus ``a`` and within ``b`` itself, and
    emit the admit bit a merge job acts on. The symmetric sibling of
    :func:`incremental_dedup` — same output contract, but built for a
    ``b`` too large to broadcast (merging two crawls), on
    :func:`cross_corpus_near_dup`'s plan.

    Output, one row per ``b`` doc: (doc_id, exact_dup_a, exact_dup_b,
    near_dup_a, admit) — exact_dup_a: content hash already in ``a``;
    exact_dup_b: an earlier (lower-id) ``b`` doc has the same hash;
    near_dup_a: a verified cross near-dup (LSH bucket + exact shingle
    jaccard >= ``min_jaccard``) against ``a``; admit: none of the
    above.

    SCALE: the exact check is a co-partitioned shuffle equi-join on
    the md5 (32-char keys, ``a``'s side pre-collapsed to distinct
    hashes map-side) — NOT a broadcast, because neither side is
    assumed small; within-``b`` keeper selection is one window over
    the same hash partitioning; the near-dup leg is the
    cross_corpus_near_dup plan whose candidate volume is bucket- and
    cap-bounded. Nothing in the plan materializes A x B."""
    b_h = b.select(F.col(id_col), F.md5(F.col(text_col)).alias("_h"))
    a_h = (a.select(F.md5(F.col(text_col)).alias("_h")).distinct()
           .withColumn("_ea", F.lit(1)))
    near = (
        cross_corpus_near_dup(a, b, text_col, id_col, min_jaccard,
                              max_side_bucket)
        .select(F.col("b_id").alias(id_col)).distinct()
        .withColumn("_na", F.lit(1))
    )
    keeper = Window.partitionBy("_h")
    out = (
        b_h.withColumn("_kmin", F.min(id_col).over(keeper))
        .join(a_h, "_h", "left")
        .join(near, id_col, "left")
    )
    ea = F.when(F.col("_ea").isNotNull(), 1).otherwise(0)
    eb = F.when(F.col("_kmin") < F.col(id_col), 1).otherwise(0)
    na = F.when(F.col("_na").isNotNull(), 1).otherwise(0)
    return out.select(
        id_col,
        ea.cast("long").alias("exact_dup_a"),
        eb.cast("long").alias("exact_dup_b"),
        na.cast("long").alias("near_dup_a"),
        ((ea + eb + na) == 0).cast("long").alias("admit"),
    )


def decontaminate(train: DataFrame, eval_docs: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  k: int = 8) -> DataFrame:
    """Eval-set decontamination: training docs sharing word k-grams with
    an eval benchmark (the GPT-3/PaLM-style n-gram overlap check every
    LLM training run performs before the corpus ships).

    Output: (doc_id, n_contaminated_ngrams) — one row per FLAGGED train
    doc with the count of distinct k-grams it shares with any eval doc.
    Docs absent from the output are clean at this k.

    Scale: eval benchmarks are tiny next to a 100 TB corpus, so the
    distinct eval shingle set is BROADCAST — the train shingle table
    never shuffles on the join; the only exchange is the per-doc count
    aggregation (map-side combined). k=8+ keeps stopword runs from
    flagging everything; raise k for stricter precision.
    """
    tr = shingles(train, text_col, id_col, k, distinct=True)
    ev = (
        shingles(eval_docs, text_col, id_col, k, distinct=False)
        .select("shingle")
        .distinct()
    )
    return (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_ngrams"))
    )


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 32) -> DataFrame:
    """SimHash fingerprint from md5-derived word-hash bits (bits <= 62).

    For each bit position p, the word's bit is extracted from its md5
    hex digit; the fingerprint bit is the sign of the vote sum over all
    word occurrences (count-1 tokenization: repeats vote repeatedly,
    empty split tokens included — identical to the oracle's unnest).

    Shape (round 8): explode words -> one md5 + 8 hex-digit extracts
    per word (narrow codegen projection) -> ONE map-combined doc-id
    aggregation carrying ``bits`` 0/1-sums + a count, then the
    fingerprint assembles from the sums in a scalar projection
    (vote_p > 0 <=> 2*sum_p > n). This replaces the round-2 nested
    array folds (aggregate-over-bits of aggregate-over-words), which
    Catalyst evaluates INTERPRETED per element — O(bits x words)
    lambda evaluations per document, the exact trap the minhash
    docstring documents; measured 57.4 s -> 3.7 s on the x10 corpus
    (SCALE.md round 8). The round-1 formulation this round-2 fold
    replaced exploded bits x words ROWS through two shuffles — the
    explode here is words rows with bits COLUMNS and one map-combined
    exchange, a different (and codegen) shape. Values bit-identical:
    only md5 + integer arithmetic, engine-portable.
    """
    n_digits = (bits + 3) // 4
    wd = rebalance_for_fanout(docs.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("_wd")
    ).select(F.col(id_col), F.md5("_wd").alias("_h"))
    digits = wd.select(
        F.col(id_col),
        *[
            F.conv(F.substring("_h", d + 1, 1), 16, 10).cast("int").alias(f"_d{d}")
            for d in range(n_digits)
        ],
    )
    sums = digits.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(
                F.shiftright(F.col(f"_d{p // 4}"), 3 - p % 4).bitwiseAND(F.lit(1))
            ).alias(f"_s{p}")
            for p in range(bits)
        ],
    )
    fp = None
    for p in range(bits):
        term = F.when(
            F.col(f"_s{p}") * 2 > F.col("_n"), F.lit(1 << p).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return sums.select(F.col(id_col), fp.alias("simhash"))


#: round-1 name — kept as an alias; the fingerprint width is the
#: ``bits`` argument (default 32), not 64.
simhash64 = simhash


def simhash_near_dup(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", bits: int = 32,
                     bands: int = 4, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by banded hamming LSH over simhash fingerprints.

    The Manku et al. (WWW'07) construction: split the ``bits``-bit
    fingerprint into ``bands`` contiguous bands; two fingerprints within
    hamming distance ``max_hamming`` differ in at most ``max_hamming``
    bands, so with ``bands > max_hamming`` the pigeonhole principle
    guarantees they agree on at least one band — banding is EXACT here
    (no recall loss), unlike minhash LSH's probabilistic banding.

    Shape (round 9): the band join runs on DISTINCT fingerprints, not
    docs. Replica/boilerplate families collapse to one fingerprint
    each, and since two docs are within hamming ``max_hamming`` iff
    their FINGERPRINTS are, the doc-pair output factors exactly into
    (a) hamming-0 pairs WITHIN an identical-fingerprint group (a
    self-join on the fingerprint value — emits each output pair once,
    no distinct) and (b) cross-group pairs expanded from the qualifying
    DISTINCT-fingerprint pairs (two member joins, broadcast when the
    qualifying pair set is small — it is: banding + the hamming filter
    prune hard). Measured at ×10 the doc-level band join emitted
    453M candidate rows (max bucket 5,099 docs) where the distinct-
    fingerprint join emits 2.3M (50k docs -> 4,782 fingerprints) — a
    195× candidate collapse; the remaining quadratic term is the
    OUTPUT itself (112M pairs at ×10 — exact-dup families are
    quadratic in pair form by definition; pipelines that only need
    keepers should consume dedup_clusters instead). Pigeonhole
    exactness is preserved: hamming(f1,f2) <= max_hamming implies f1
    and f2 agree on >= 1 band, so the distinct-fingerprint candidates
    lose nothing the doc-level join had.

    Output: (id_a, id_b, hamming) with id_a < id_b, hamming <= max_hamming.
    """
    assert bands > max_hamming, "exactness needs bands > max_hamming"
    width = bits // bands
    mask = (1 << width) - 1
    # the fingerprint table feeds the group agg, both within-group
    # sides, and both expansion joins; without materialization the
    # corpus explode+agg subtree instantiates per consumer (the
    # minhash_near_dup band-table lesson, SCALE.md r8)
    fp = _materialize(simhash(docs, text_col, id_col, bits))
    groups = fp.select("simhash").distinct()
    stack_expr = "stack({}, {}) as (band, bv)".format(
        bands,
        ", ".join(
            f"{b}, shiftright(simhash, {b * width}) & {mask}L" for b in range(bands)
        ),
    )
    buckets = groups.selectExpr("simhash", stack_expr)
    fa = buckets.select(F.col("simhash").alias("_fa"), "band", "bv")
    fb = buckets.select(F.col("simhash").alias("_fb"), "band", "bv")
    fpairs = (
        fa.join(fb, ["band", "bv"])
        .filter(F.col("_fa") < F.col("_fb"))
        .select("_fa", "_fb")
        .distinct()
        .withColumn("hamming", F.bit_count(F.expr("_fa ^ _fb")).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
    )
    ma = fp.select(F.col(id_col).alias("_ia"), F.col("simhash").alias("_fa"))
    mb = fp.select(F.col(id_col).alias("_ib"), F.col("simhash").alias("_fb"))
    cross = (
        ma.join(fpairs, "_fa")
        .join(mb, "_fb")
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
            "hamming",
        )
    )
    wa = fp.select(F.col(id_col).alias("id_a"), "simhash")
    wb = fp.select(F.col(id_col).alias("id_b"), "simhash")
    within = (
        wa.join(wb, "simhash")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).cast("int").alias("hamming"))
    )
    return cross.unionByName(within)


def segment_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  seg_words: int = 10, max_doc_freq: int = 2) -> DataFrame:
    """Sub-document exact dedup: drop boilerplate segments repeated
    across the corpus, keep each document's residual text.

    The line-level dedup step of CCNet / RefinedWeb (Penedo et al.
    2023, §: "line-wise corrections"): headers, cookie banners and
    navigation chrome repeat across millions of pages, and document-
    level near-dup misses them because the surrounding text differs.
    Real corpora segment on newlines; the driver's ``documents`` table
    is single-line text, so segmentation is deterministic fixed-width —
    every run of ``seg_words`` consecutive words (last segment partial)
    is a segment. A segment whose exact text occurs in more than
    ``max_doc_freq`` DISTINCT documents is boilerplate: it is removed
    from every document that contains it.

    Output: (doc_id, n_segments, n_removed, clean_text) — one row per
    input document (docs whose every segment was removed survive with
    ``clean_text = ''``), ``clean_text`` preserving original segment
    order.

    Shape (3 exchanges, no UDFs): segments come from an exploded index
    sequence + ``element_at`` per offset (whole-stage codegen, the
    ``shingles`` idiom — ``element_at`` past the end is NULL and
    ``concat_ws`` skips NULLs, which yields the partial last segment
    for free). Doc-frequency is ONE hash aggregation on ``seg``
    (map-side partial ``count_distinct``); only segments OVER the cap
    survive the filter, so the join back is against the small
    boilerplate set (left join + null-flag, not anti-join, so
    fully-boilerplate docs keep their output row), and AQE broadcasts
    it when it fits. Reassembly is one ``groupBy(doc_id)`` —
    ``array_sort`` on (seg_id, seg) structs restores segment order
    without relying on collect_list ordering.

    At 100 TB: the hot-segment table is bounded by true boilerplate
    (df > cap), orders of magnitude smaller than the segment universe;
    if even that overflows broadcast, the join degrades to a plain
    shuffled equi-join on the segment key whose skew is capped by AQE
    skew splitting. The doc-frequency aggregation's hot keys are exactly
    the boilerplate segments, absorbed map-side by partial aggregation.

    The doc-frequency aggregation and the hot-set join are keyed by
    ``xxhash64(seg)``, not the ~60-byte segment string, which rides
    only the per-doc regrouping where the output needs it (r14
    optimization round: 2.24 → 1.74 s at x10, tools/exp_substr_hash.py).
    Hash envelope: a collision can only merge two segments'
    doc-frequencies, i.e. over-remove; widening the key is ROADMAP
    item 3.
    """
    assert seg_words >= 1
    words = F.split(F.col(text_col), " ")
    base = rebalance_for_fanout(
        docs.select(F.col(id_col), F.col(text_col))
    ).select(F.col(id_col), words.alias("_w"))
    nseg = F.floor((F.size("_w") + (seg_words - 1)) / seg_words).cast("int")
    # try_element_at, not element_at: the last segment is partial, and
    # under ANSI mode an out-of-bounds element_at raises instead of
    # yielding the NULL that concat_ws skips
    seg = F.concat_ws(
        " ",
        *[
            F.try_element_at(F.col("_w"), F.col("seg_id") * seg_words + j + 1)
            for j in range(seg_words)
        ],
    )
    key = F.xxhash64(seg)
    segs = (
        base.select(
            F.col(id_col),
            nseg.alias("n_segments"),
            "_w",
            F.explode(F.sequence(F.lit(0), nseg - 1)).alias("seg_id"),
        )
        .select(id_col, "n_segments", "seg_id", seg.alias("seg"),
                key.alias("_segkey"))
    )
    hot = (
        segs.groupBy("_segkey")
        .agg(F.count_distinct(F.col(id_col)).alias("_df"))
        .filter(F.col("_df") > max_doc_freq)
        .select("_segkey", F.lit(True).alias("_hot"))
    )
    flagged = segs.join(hot, "_segkey", "left")
    kept_struct = F.when(
        F.col("_hot").isNull(), F.struct(F.col("seg_id"), F.col("seg"))
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.first("n_segments").alias("n_segments"),
            F.count(F.col("_hot")).alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s["seg"]
                ),
                " ",
            ).alias("clean_text"),
        )
    )


def window_occurrences(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", win: int = 10,
                       hashed: bool = False) -> DataFrame:
    """(id, pos, gram) — every ``win``-word window with its 1-based
    token position, in the codegen explode idiom of :func:`shingles`
    (index sequence + ``element_at``, no higher-order functions).

    ``hashed=True`` (r14 optimization round, guide §2.3 — shuffle keys,
    not payloads) emits ``gram`` as the seed-chained ``xxhash64`` of the
    ``win`` token columns instead of the ~60-byte concat string: no
    intermediate string is ever built and every downstream
    exchange/checkpoint carries an 8-byte long. Only valid where the
    gram is used purely as a group/join KEY (checked corpus-wide:
    distinct(gram) == distinct(hash) at sf0.001/0.01/0.1 and x10 —
    tools/exp_substr_hash.py). Hash envelope: a collision can only
    MERGE two distinct grams, i.e. over-mark duplication; widening the
    key is ROADMAP item 3."""
    words = F.split(F.col(text_col), " ")
    base = rebalance_for_fanout(
        docs.select(F.col(id_col), F.col(text_col))
    ).select(F.col(id_col), words.alias("_w")).filter(
        F.size("_w") >= win
    )
    idx = base.select(
        F.col(id_col), "_w",
        F.explode(F.sequence(F.lit(1), F.size("_w") - (win - 1))).alias("pos"),
    )
    toks = [F.element_at(F.col("_w"), F.col("pos") + j) for j in range(win)]
    gram = F.xxhash64(*toks) if hashed else F.concat_ws(" ", *toks)
    return idx.select(F.col(id_col), "pos", gram.alias("gram"))


#: default bound on the suffix representation of the bounded
#: suffix-array pass: exact duplicated-span lengths are resolved in
#: [min_span, SUFFIX_BOUND]; longer spans report as SUFFIX_BOUND
#: (">= bound"). 32 tokens comfortably covers the 5-30-token quote
#: tail the pass exists for (the >= win spans are already exact via
#: duplicated_spans' windows); raising it grows the shuffled suffix
#: payload linearly.
SUFFIX_BOUND = 32


def _lcp(a, b):
    """Longest-common-prefix LENGTH of two token arrays (0 when ``b``
    is NULL — the window edge). zip_with pads the shorter array with
    NULLs and ``eqNullSafe`` makes token-vs-NULL a mismatch, so the
    first ``false`` position minus one IS the LCP; no false means full
    equality up to the shorter length."""
    z = F.zip_with(a, b, lambda x, y: x.eqNullSafe(y))
    p = F.array_position(z, F.lit(False))
    full = F.least(F.size(a), F.size(b))
    return F.when(b.isNull(), F.lit(0).cast("int")).otherwise(
        F.when(p == 0, full).otherwise(p - 1).cast("int"))


def suffix_match_lengths(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", min_span: int = 5,
                         bound: int = SUFFIX_BOUND,
                         max_group: int | None = MAX_SHINGLE_FREQ) -> DataFrame:
    """Bounded suffix-array pass (Lee et al., "Deduplicating Training
    Data Makes Language Models Better", ACL 2022, §4 ExactSubstr —
    /root/reference has no analog; extension mandate): for every token
    position whose longest exactly-duplicated span (elsewhere in the
    corpus OR the same document) is >= ``min_span`` tokens, the EXACT
    length of that span, capped at ``bound``.

    Output: (doc_id, pos, match_len) — match_len in
    [min_span, bound], where ``bound`` means ">= bound". This is the
    per-position information a suffix array yields that fixed-window
    marking cannot: :func:`duplicated_spans` answers "is this token
    inside a >= win duplicate" (and its win=min_span coverage equals
    this pass's coverage — pinned by test), while this pass answers
    "HOW LONG is the duplicate starting here", resolving the 5-9-token
    memorization tail span-by-span in one pass instead of one
    duplicated_spans run per window size.

    How (the distributed suffix-array equivalence): group suffixes by
    their first ``min_span`` tokens — any two suffixes with a common
    prefix >= min_span share that group, and within a group the
    lexicographic order of the (``bound``-truncated) suffixes is the
    global suffix-array order restricted to the group. The longest
    match of a suffix against the whole corpus is then
    max(LCP(prev), LCP(next)) over its sorted neighbors — the classic
    SA adjacency property — computed with lag/lead + a zip_with LCP,
    all codegen, values independent of tie order (equal suffixes give
    equal LCPs either way).

    Scale shape: ONE exchange on the min_span-gram carrying
    (id, pos, bounded suffix array) — ~``bound`` tokens per position,
    the pass's honest payload cost (linear, same order as the
    posting-list shuffles); window partitions are per-gram.
    ``max_group`` is the same skew stance as ``max_shingle_freq``: a
    gram above that doc-frequency (stopword/boilerplate n-grams —
    whose every occurrence IS a duplicate by definition) would sort
    its whole occurrence list in one unsplittable window task, so hot
    grams are excluded from exact length resolution (they remain fully
    COUNTED by :func:`duplicated_spans`/:func:`suffix_group_stats`,
    which is how the trade stays observable — no silent caps). The
    hot set is found with the two-phase hashed count
    (:func:`_candidate_rows`) and removed by a broadcast anti-join,
    exactly the :func:`ngram_jaccard` guard. ``max_group=None``
    disables the guard (small corpora / tests).

    Tokens are mapped ONCE per document through ``xxhash64``, so the
    bounded suffixes are fixed-width ``array<long>`` (r14 optimization
    round, guide §2.3). The SA-adjacency property is invariant under
    any injective alphabet remap — suffixes sharing a prefix still form
    contiguous blocks in the remapped lexicographic order and every LCP
    value is unchanged — so match lengths equal the string-token ones
    (the DuckDB oracle sorts strings). The exchange payload drops from
    ~20 B/token strings to 8 B longs and the per-gram sort compares
    longs — measured 6.63 → 3.46 s (profile) / 5.86 → 3.39 s
    (histogram) at x10 (tools/exp_suffix_hash.py). Hash envelope: a
    collision merges two tokens or two grams, so a match can only
    lengthen (over-mark) and a merged gram can reach the ``max_group``
    guard early; widening the key is ROADMAP item 3.
    """
    words = F.split(F.col(text_col), " ")
    toks = F.transform(words, lambda x: F.xxhash64(x))
    # length filter on the SPLIT (codegen), not on the aliased toks
    # projection: Catalyst inlines the alias into the Filter, which
    # would re-evaluate the interpreted transform(xxhash64) per doc
    # just to check its size
    base = rebalance_for_fanout(
        docs.select(F.col(id_col), F.col(text_col))
    ).filter(F.size(words) >= min_span).select(
        F.col(id_col), toks.alias("_w")
    )
    gram = F.xxhash64(*[F.element_at(F.col("_w"), F.col("pos") + j)
                        for j in range(min_span)])
    occ = base.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.lit(1), F.size("_w") - (min_span - 1))
        ).alias("pos"),
        "_w",
    ).select(
        F.col(id_col),
        "pos",
        gram.alias("_g"),
        F.slice("_w", F.col("pos"), F.lit(bound)).alias("_sfx"),
    )
    if max_group is not None:
        hot = (
            _candidate_rows(occ.select("_g"), "_g", max_group + 1,
                            broadcast_cand=True)
            .groupBy("_g")
            .agg(F.count(F.lit(1)).alias("_f"))
            .filter(F.col("_f") > max_group)
            .select("_g")
        )
        occ = occ.join(hot, "_g", "left_anti")
    w = Window.partitionBy("_g").orderBy("_sfx")
    match = F.greatest(
        _lcp(F.col("_sfx"), F.lag("_sfx").over(w)),
        _lcp(F.col("_sfx"), F.lead("_sfx").over(w)),
    )
    return (
        occ.select(F.col(id_col), "pos", match.alias("match_len"))
        .filter(F.col("match_len") >= min_span)
    )


def dup_span_profile(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", min_span: int = 5,
                     bound: int = SUFFIX_BOUND,
                     max_group: int | None = MAX_SHINGLE_FREQ) -> DataFrame:
    """Per-document duplicated-span profile from the bounded
    suffix-array pass: (doc_id, n_tokens, max_dup_len,
    n_dup_positions) — max_dup_len the longest exactly-duplicated span
    starting in the doc (0 when none >= min_span; capped at
    ``bound``), n_dup_positions the number of positions whose longest
    duplicate is >= min_span. One doc-id exchange above
    :func:`suffix_match_lengths`; every doc appears (left join onto
    the corpus)."""
    m = suffix_match_lengths(docs, text_col, id_col, min_span, bound,
                             max_group)
    per_doc = m.groupBy(id_col).agg(
        F.max("match_len").alias("_mx"),
        F.count(F.lit(1)).alias("_np"),
    )
    n_tokens = F.size(F.split(F.col(text_col), " ")).cast("long")
    return (
        docs.select(F.col(id_col), n_tokens.alias("n_tokens"))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            "n_tokens",
            F.coalesce(F.col("_mx"), F.lit(0)).cast("int").alias("max_dup_len"),
            F.coalesce(F.col("_np"), F.lit(0)).cast("long").alias("n_dup_positions"),
        )
    )


def dup_span_histogram(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", min_span: int = 5,
                       bound: int = SUFFIX_BOUND,
                       max_group: int | None = MAX_SHINGLE_FREQ) -> DataFrame:
    """Corpus duplicated-span length distribution: (match_len,
    n_positions) for match_len in [min_span, bound] — the evidence a
    dedup operator's window choice should rest on (SUBSTRING_WIN_SWEEP
    measured exactly this, per-family, to pick win=5/win=10; this
    query makes the distribution a first-class one-pass result). The
    ``bound`` row aggregates every span >= bound. Map-combined groupBy
    over the match table."""
    return (
        suffix_match_lengths(docs, text_col, id_col, min_span, bound,
                             max_group)
        .groupBy("match_len")
        .agg(F.count(F.lit(1)).alias("n_positions"))
    )


def suffix_group_stats(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", min_span: int = 5,
                       max_group: int | None = MAX_SHINGLE_FREQ) -> DataFrame:
    """"No silent caps" companion to :func:`suffix_match_lengths` (the
    same role :func:`lsh_bucket_stats` plays for the LSH cap): ONE row
    (n_grams, n_hot_grams, positions_total, positions_excluded) telling
    a recall-sensitive run whether and how much the ``max_group``
    skew guard actually fired — n_hot_grams = 0 means exact lengths
    cover every position. Two map-combined aggregations."""
    occ = window_occurrences(docs, text_col, id_col, win=min_span)
    sizes = occ.groupBy("gram").agg(F.count(F.lit(1)).alias("_f"))
    hot = (F.col("_f") > max_group) if max_group is not None else F.lit(False)
    return sizes.agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.when(hot, 1).otherwise(0)).alias("n_hot_grams"),
        F.sum("_f").alias("positions_total"),
        F.sum(F.when(hot, F.col("_f")).otherwise(0)).alias("positions_excluded"),
    )


def _resolve_mark_salt(dup_grams: DataFrame, mark_salt,
                       auto_salt_grams: int):
    """Resolve the ``mark_salt`` parameter shared by
    :func:`duplicated_spans` / :func:`strip_duplicated_spans`.

    ``"auto"`` (the round-6 default): materialize the dup-gram set once
    (eager localCheckpoint — it is about to be the join build side
    anyway, and the count must not recompute the occurrence scan),
    count it, and engage :data:`MARK_SALT_DEFAULT` iff the set exceeds
    ``auto_salt_grams`` (i.e. has outgrown the broadcast threshold, the
    regime where the unsalted SMJ hits the un-splittable hot-gram
    task). ``None`` = never salt; an int >= 1 = forced salt; anything
    below 1 raises (a 0/negative salt would silently produce a
    never-matching null probe key and drop every occurrence).

    Returns ``(dup_grams, salt_or_none)``.
    """
    if isinstance(mark_salt, str):
        # any string other than 'auto' is a typo — name the accepted
        # values instead of falling through to the int comparison
        # below, which would raise an unrelated TypeError (str vs int).
        if mark_salt != "auto":
            raise ValueError(
                f"mark_salt must be >= 1, 'auto', or None, got {mark_salt!r}")
        dup_grams = _materialize(dup_grams)
        n = dup_grams.count()
        return dup_grams, (MARK_SALT_DEFAULT if n > auto_salt_grams else None)
    if mark_salt is not None and mark_salt < 1:
        raise ValueError(f"mark_salt must be >= 1, 'auto', or None, got {mark_salt}")
    return dup_grams, mark_salt


def _candidate_rows(rows: DataFrame, key_col: str, min_count: int,
                    broadcast_cand: bool = False,
                    n_buckets: int = 1 << 22) -> DataFrame:
    """Rows whose key occurs >= ``min_count`` times — possibly with a
    few hash-collision extras, never with a miss — for an exact
    second-phase aggregation.

    Two phases keep the wide exchange cheap on unique-heavy key
    universes (most grams/shingles occur once, so a direct
    ``groupBy(key)`` shuffles the whole string universe as map-side
    partials — measured +5.5 s on dedup_ngram_jaccard at ×10):

    A) exact counts per ``xxhash64(key)`` — the exchange carries 8-byte
       keys; collisions only MERGE counts, so the over-threshold hash
       set is a SUPERSET of the true hot keys (no false negatives) and
       Zipf-small;
    B) join the candidate hashes back (broadcast when hinted tiny,
       AQE-decided otherwise — at 100 TB a huge candidate set degrades
       to a shuffled 8-byte-key join, still string-free).

    Callers re-aggregate the returned rows by the REAL key and re-apply
    the threshold, which removes collision false-positives — the final
    result is byte-identical to the single-phase groupBy, so DuckDB
    oracles (plain frequency filters) need no mirroring of the hashes.
    """
    # Coarse BUCKETS, not raw hashes: the phase-A group count bounds
    # the aggregation's hash-table cost, and with the default ~4M
    # buckets the mean bucket count stays far below any useful
    # threshold (50M rows / 4M buckets ≈ 12 — Poisson mass above 100
    # is nil), so candidate buckets are almost exclusively the ones
    # holding a genuinely hot key plus its ~dozen innocent co-bucketed
    # keys, which phase B's exact recount then separates. ``n_buckets``
    # is a parameter (round-5 ADVICE) because the pruning argument is a
    # RATIO: once total rows >> n_buckets x min_count, nearly every
    # bucket passes and phase A prunes nothing — at that scale raise
    # n_buckets to keep mean occupancy well below min_count.
    h = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))
    cand = (
        rows.groupBy(h.alias("_hh"))
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= min_count)
        .select("_hh")
    )
    if broadcast_cand:
        cand = F.broadcast(cand)
    return rows.join(cand, h == F.col("_hh")).drop("_hh")


def _mark_join(occ: DataFrame, dup_grams: DataFrame,
               id_col: str, salt: int | None) -> DataFrame:
    """Semi-join occurrences against the dup-gram set, optionally
    SALTED: probe key becomes (gram, hash(id,pos) % salt) and the build
    side replicates each gram across all salt values, so a hot gram's
    occurrences spread over ``salt`` reduce partitions by construction
    — the replicated-build skew join. Use when the dup-gram set has
    outgrown broadcast AND carries hot grams: AQE cannot skew-split
    this SMJ because the occurrence exchange is reused by the
    frequency aggregation (measured: OptimizeSkewedJoin skips shared
    exchanges — SKEW_STRESS.json), and a salt bounds the max task
    deterministically instead. Results are identical for any salt."""
    if salt is not None and salt < 1:
        raise ValueError(f"mark_salt must be >= 1 or None, got {salt}")
    if salt is None:
        return occ.join(dup_grams, "gram", "left_semi")
    salted = occ.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col), F.col("pos")), F.lit(salt))
    )
    replicated = dup_grams.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(salt - 1).cast("long"))),
    )
    # shuffle_hash, never broadcast, once salted (r14 optimization
    # round): the salt exists because the build side outgrew the
    # broadcast regime — letting the planner broadcast the REPLICATED
    # table (which narrow hashed keys size-estimate under the
    # threshold) is a driver collect + single-threaded build of a
    # salt-times-bigger relation, measured 6.06 s vs 1.67 s with the
    # hint at x20; the per-partition hash build stays balanced by the
    # salt's construction
    return salted.join(replicated.hint("shuffle_hash"),
                       ["gram", "_salt"], "left_semi").drop("_salt")


def duplicated_spans(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", win: int = 10,
                     mark_salt: int | str | None = "auto",
                     auto_salt_grams: int = AUTO_MARK_SALT_GRAMS_HASHED) -> DataFrame:
    """Per-doc duplicated-substring report — the bounded-window form of
    exact-substring dedup (Lee et al., "Deduplicating Training Data
    Makes Language Models Better", ACL 2022: any 50-token span occurring
    twice in the corpus is a duplicate; suffix arrays find arbitrary-
    length matches, the distributed form detects every duplicate of
    length >= ``win`` tokens via fixed windows — identical coverage for
    spans >= win, the standard scale-out trade).

    A window occurring >= 2 times ANYWHERE in the corpus (another doc
    or elsewhere in the same doc) marks its ``win`` tokens duplicated;
    overlapping/adjacent marked windows merge into ISLANDS (maximal
    duplicated spans). Output, one row per document:
    (doc_id, n_tokens, dup_tokens, dup_fraction, n_islands).

    Scale shape (zero UDFs, no self-join anywhere): window frequency
    is a map-combined ``groupBy(gram)`` count + semi-join of the
    dup-gram set back onto the occurrences — boilerplate windows with
    millions of occurrences are COUNTED, never paired, so there is no
    quadratic path; and because the count partial-aggregates map-side
    (round 5 — the earlier count-window form buffered a hot gram's
    whole occurrence list in one task), there is no skew cliff either.
    Island merging is the classic interval-union as a running-max
    window per doc; both per-doc windows and the final per-doc
    aggregate ride ONE doc-id exchange (per-doc partitions are bounded
    by document length, never by corpus-wide gram popularity).

    EAGERNESS: with the default ``mark_salt='auto'`` the dup-gram set
    is materialized and counted at DataFrame-CONSTRUCTION time (the
    count decides whether the salted mark-join engages), so this call
    runs Spark jobs before you ever trigger an action; pass
    ``mark_salt=None`` or an explicit int for a fully-lazy plan, and
    see :func:`set_materialization` for the fault-tolerant persist
    variant on multi-executor clusters.

    The gram is a pure group/join key here (never output), so the
    occurrence stream, the frequency exchange, the checkpointed
    dup-gram table and the mark semi-join all carry 8-byte xxhash64
    keys instead of ~60-byte strings (r14 optimization round, guide
    §2.3: 5.40 → 4.46 s at x10, tools/exp_substr_hash.py). Hash
    envelope: a collision can only over-mark; widening the key is
    ROADMAP item 3. The auto-salt threshold defaults to
    :data:`AUTO_MARK_SALT_GRAMS_HASHED` (8-byte keys stay
    broadcastable ~8x longer); results are identical on either side
    of it for any salt.
    """
    occ = window_occurrences(docs, text_col, id_col, win, hashed=True)
    # Window frequency as a map-combined aggregation + semi-join, not a
    # count-window over the gram: a window partition cannot
    # partial-aggregate, so a boilerplate gram with 10^8 corpus
    # occurrences would land its whole occurrence list in ONE task
    # (sort + buffer) before filtering — the one skew shape AQE cannot
    # split. The groupBy absorbs the hot gram map-side; the semi-join
    # is a plain equi-join (AQE broadcasts the dup-gram set when small,
    # skew-splits it when not).
    # direct single-phase count, NOT _candidate_rows: the >= 2
    # threshold keeps ~all duplicated grams (a large, non-Zipf-rare
    # set), so the hashed candidate phase prunes little and just adds
    # a pass — measured 13.6 s vs 7.3 s at ×10. Two-phase pays only
    # where the surviving set is rare (the jaccard guard's stopword
    # shingles).
    dup_grams = (
        occ.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_f"))
        .filter(F.col("_f") >= 2)
        .select("gram")
    )
    # round 6: 'auto' measures the dup-gram set and salts only beyond
    # the broadcast regime — the scale-safe form is the default, the
    # small-corpus plan is unchanged (the count rides an eager
    # checkpoint of the build side, paid per execution)
    dup_grams, mark_salt = _resolve_mark_salt(dup_grams, mark_salt, auto_salt_grams)
    marked = _mark_join(occ, dup_grams, id_col, mark_salt).select(id_col, "pos")
    wd = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + (win - 1)).over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = (
        marked.withColumn(
            "_new", F.when(F.col("pos") <= prev_end + 1, 0).otherwise(1)
        )
        .withColumn("_iid", F.sum("_new").over(wd))
        .groupBy(id_col, "_iid")
        .agg((F.max("pos") + (win - 1) - F.min("pos") + 1).alias("_len"))
        .groupBy(id_col)
        .agg(
            F.sum("_len").cast("long").alias("dup_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_islands"),
        )
    )
    n_tokens = F.size(F.split(F.col(text_col), " ")).cast("long")
    return (
        docs.select(F.col(id_col), n_tokens.alias("n_tokens"))
        .join(islands, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            (
                F.coalesce("dup_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens")
            ).alias("dup_fraction"),
            F.coalesce("n_islands", F.lit(0)).alias("n_islands"),
        )
    )


def strip_duplicated_spans(docs: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", win: int = 10,
                           mark_salt: int | str | None = "auto",
                           auto_salt_grams: int = AUTO_MARK_SALT_GRAMS) -> DataFrame:
    """Remove every NON-FIRST occurrence of a duplicated window — the
    destructive half of exact-substring dedup: the corpus keeps exactly
    one copy of each duplicated span (its globally-first occurrence by
    (doc_id, pos)), and later copies lose the covered tokens.

    Output: (doc_id, n_tokens, n_removed_tokens, clean_text), one row
    per doc, ``clean_text`` preserving surviving-token order.

    Deterministic keeper policy: min(struct(doc_id, pos)) per gram —
    the (doc_id, pos)-lexicographic first global occurrence survives,
    ties are impossible (the key is unique), and the min
    partial-aggregates map-side where the round-4 ``row_number`` window
    sorted each gram's full occurrence list in one task (the hot-gram
    skew cliff).

    Token removal (r14 optimization round): removable window STARTS
    aggregate per doc (one map-combined collect_list over the removable
    rows, which the plan shuffles anyway) and join the docs table by
    id; one ``mapInPandas`` pass tokenizes, scatter-masks the covered
    positions (numpy) and rejoins surviving tokens. The corpus token
    stream is never exploded (guide §2.4/§4.2; the per-doc text crosses
    the Arrow boundary once). ``str.split(" ")`` / ``" ".join`` match
    Spark's single-space ``split``/``concat_ws`` including empty-token
    edge cases — pinned against the DuckDB oracle by
    tests/test_extensions.py::test_strip_matches_oracle_edge_cases.
    Per-doc state is bounded by document length; starts lists are
    capped by n_tokens. The pure-SQL explode/anti-join form it replaced
    measured 5.59 s vs 3.56 s at x10 (OPTIMIZATION_r14.md §10).

    EAGERNESS: same ``mark_salt='auto'`` construction-time jobs as
    :func:`duplicated_spans` — ``mark_salt=None``/int is the lazy
    path, :func:`set_materialization` the fault-tolerant one.
    """
    occ = window_occurrences(docs, text_col, id_col, win)
    # Keeper per gram via min-of-struct aggregation, not
    # row_number() over (partition by gram): min(struct(id, pos)) is
    # the same (doc_id, pos)-lexicographic first occurrence but
    # partial-aggregates map-side, so a boilerplate gram's 10^8
    # occurrences never sort in one window task. Grams with a single
    # occurrence are filtered out BEFORE the join back, so the keeper
    # table holds duplicated grams only; every non-keeper occurrence of
    # a surviving gram is removable.
    # single-phase for the same reason as duplicated_spans' dup_grams:
    # the >= 2 keeper set is large, the hashed candidate phase would
    # only add a pass
    keepers = (
        occ.groupBy("gram")
        .agg(
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("_keep"),
            F.count(F.lit(1)).alias("_f"),
        )
        .filter(F.col("_f") >= 2)
        .select("gram", "_keep")
    )
    # same auto-salt default as duplicated_spans (scale-safe beyond
    # the broadcast regime, identical results for any salt)
    keepers, mark_salt = _resolve_mark_salt(keepers, mark_salt, auto_salt_grams)
    if mark_salt is None:
        joined = occ.join(keepers, "gram")
    else:
        # replicated-build salted join — same rationale as _mark_join
        # (AQE cannot skew-split the shared occurrence exchange)
        joined = occ.withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col(id_col), F.col("pos")), F.lit(mark_salt)),
        ).join(
            keepers.withColumn(
                "_salt",
                F.explode(F.sequence(
                    F.lit(0).cast("long"), F.lit(mark_salt - 1).cast("long")
                )),
            ),
            ["gram", "_salt"],
        )
    removable = (
        joined.filter(
            (F.col(id_col) != F.col("_keep")[id_col])
            | (F.col("pos") != F.col("_keep")["pos"])
        )
        .select(id_col, "pos")
    )
    starts = removable.groupBy(id_col).agg(
        F.collect_list("pos").alias("_starts")
    )
    src = docs.select(F.col(id_col), F.col(text_col)).join(
        starts, id_col, "left"
    )

    def _reassemble(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, ntoks, nrem, clean = [], [], [], []
            for did, text, st in zip(
                pdf[id_col], pdf[text_col], pdf["_starts"]
            ):
                toks = text.split(" ")
                n = len(toks)
                if st is None or len(st) == 0:
                    ids.append(did)
                    ntoks.append(n)
                    nrem.append(0)
                    clean.append(text)
                    continue
                # scatter-mask the union of [start, start+win) —
                # order-insensitive, so collect_list arrival order
                # cannot matter; the +win slack absorbs windows
                # ending at the doc tail
                mask = np.zeros(n + win, dtype=bool)
                s = np.asarray(st, dtype=np.int64) - 1  # 1-based
                for j in range(win):
                    mask[s + j] = True
                mask = mask[:n]
                kept_toks = [t for t, m in zip(toks, mask) if not m]
                ids.append(did)
                ntoks.append(n)
                nrem.append(int(mask.sum()))
                clean.append(" ".join(kept_toks))
            yield pd.DataFrame({
                id_col: pd.Series(ids, dtype="int64"),
                "n_tokens": pd.Series(ntoks, dtype="int64"),
                "n_removed_tokens": pd.Series(nrem, dtype="int64"),
                "clean_text": pd.Series(clean, dtype="object"),
            })

    return src.mapInPandas(
        _reassemble,
        schema=(f"{id_col} long, n_tokens long, "
                "n_removed_tokens long, clean_text string"),
    )
