"""Report sinks (O5 generalized): the engine returns DataFrames; these
helpers persist them in layouts that stay queryable at 100 TB."""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


#: url hash buckets of the report layout (the sink, the refresh store
#: and per-URL reads share it)
ROLLUP_BUCKETS = 32


def _url_bucket(url="url"):
    # murmur3 with Spark's fixed seed — stable across sessions, so a
    # url always lands in the same bucket partition
    return F.pmod(F.hash(url), F.lit(ROLLUP_BUCKETS))


def write_daily_report(report: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist a url-closed per-url table (the scored daily report, or a
    store's rollup) partitioned by ``url_bucket``, a stable hash of the
    url into ``ROLLUP_BUCKETS`` directories.

    A one-URL read opens only its bucket's files (:func:`read_report_urls`),
    and a refresh rewrites only touched buckets (:func:`refresh_store`).
    Never partition by url itself: urls can be millions of directories.

    The write adds no exchange: the report arrives hash-partitioned by
    url into P tasks (``_partition_count``, or AQE-coalesced ranges of
    the session's url partitions), and each task writes one file per
    bucket it holds, sorted by (url, Day). A url in bucket b sits in
    hash partition p only if b ≡ p (mod gcd(P, 32)), so the write makes
    at most lcm(P, 32) = 32·P/gcd(P, 32) files: ``ROLLUP_BUCKETS`` when
    P divides 32 (8, 16, 32), P when 32 divides P, 96 at P = 12.
    """
    (
        report.withColumn("url_bucket", _url_bucket())
        .sortWithinPartitions("url_bucket", "url", "Day")
        .write.mode(mode)
        .partitionBy("url_bucket")
        .parquet(path)
    )


def read_daily_report(spark: SparkSession, path: str) -> DataFrame:
    """Everything :func:`write_daily_report` wrote, without ``url_bucket``."""
    return spark.read.parquet(path).drop("url_bucket")


def read_report_urls(spark: SparkSession, path: str, urls) -> DataFrame:
    """The rows of ``urls`` only. The bucket predicate prunes the scan to
    those urls' bucket directories (a partition filter over literals, no
    extra job); the url predicate selects the rows within them."""
    urls = list(urls)
    return (
        spark.read.parquet(path)
        .filter(F.col("url_bucket").isin([_url_bucket(F.lit(u)) for u in urls])
                & F.col("url").isin(urls))
        .drop("url_bucket")
    )


def _rollup_transform(caps: DataFrame) -> DataFrame:
    from trendmachine_spark.operators.normalize import normalize_captures
    from trendmachine_spark.operators.rollup import daily_rollup

    return daily_rollup(normalize_captures(caps))


def report_transform(as_of, fill: int = 2, policy: str = "closest"):
    """URL-CLOSED scored-report transform factory. ``as_of`` MUST be
    explicit: with the default ``as_of=None`` the dense spine ends at
    the GLOBAL max observed day — a cross-url dependency that would
    make per-bucket recomputation diverge from a full rebuild whenever
    another bucket holds a later capture. Pinning the date closes the
    transform per url."""
    from trendmachine_spark.pipeline import daily_series

    def transform(caps: DataFrame) -> DataFrame:
        return daily_series(caps, fill=fill, policy=policy, as_of=as_of)

    return transform


def _write_meta(spark: SparkSession, store_dir: str, meta: dict) -> None:
    # one-line JSON sidecar written THROUGH Spark (not local file IO) so
    # the store stays portable to any Hadoop-compatible FS at scale
    spark.createDataFrame(
        [(json.dumps(meta, sort_keys=True),)], "v string"
    ).coalesce(1).write.mode("overwrite").text(store_dir + "/_meta")


def _read_meta(spark: SparkSession, store_dir: str) -> dict | None:
    try:
        rows = spark.read.text(store_dir + "/_meta").collect()
    except Exception:  # pre-metadata store (backward compat)
        return None
    return json.loads(rows[0][0]) if rows else None


def _applied_batches(spark: SparkSession, store_dir: str) -> set[str]:
    try:
        return {r[0] for r in spark.read.text(store_dir + "/_batches").collect()}
    except Exception:
        return set()


def _log_batch(spark: SparkSession, store_dir: str, batch_id: str) -> None:
    spark.createDataFrame([(batch_id,)], "v string").coalesce(1).write.mode(
        "append"
    ).text(store_dir + "/_batches")


def init_store(captures: DataFrame, store_dir: str, transform=_rollup_transform,
               meta: dict | None = None) -> None:
    """Materialize any URL-CLOSED transform of the capture stream as an
    incrementally-refreshable store: raw captures AND the transform's
    output, both partitioned by a stable url hash bucket (the output in
    :func:`write_daily_report`'s layout).

    ``transform`` must be url-closed — its output for a url depends
    only on that url's captures (the engine's scale axis; true of the
    rollup, the dense spine, and the full scored report). That closure
    is exactly what makes per-bucket recomputation correct.

    Bucket partitioning (never by url — millions of directories) is
    what makes :func:`refresh_store` cheap: a daily ingest touches few
    urls, so only their buckets' captures are re-read and only those
    output partitions are rewritten. Running state (chaos, recurrence,
    specimen carry) needs FULL per-url history, so the refresh grain is
    the bucket, not the (url, day) — recomputing a bucket from its
    complete capture history is the correctness-preserving unit.
    """
    captures.withColumn("url_bucket", _url_bucket()).write.mode("overwrite").partitionBy(
        "url_bucket"
    ).parquet(store_dir + "/captures")
    write_daily_report(transform(captures), store_dir + "/output")
    _write_meta(captures.sparkSession, store_dir, meta or {})


def refresh_store(spark: SparkSession, store_dir: str, delta_captures: DataFrame,
                  transform=_rollup_transform, meta: dict | None = None,
                  batch_id: str | None = None) -> list[int]:
    """Incremental refresh: append the ingest batch to the captures
    store, then recompute and dynamic-partition-overwrite ONLY the
    output buckets containing touched urls. Returns the refreshed
    bucket ids.

    The touched-bucket list is collected to the driver — at most
    ``ROLLUP_BUCKETS`` ints, by construction — and drives BOTH the pruned
    captures read (`url_bucket IN (...)` prunes at the directory level)
    and the dynamic overwrite (untouched bucket partitions are left
    byte-identical on disk). Equivalence with a full rebuild is pinned
    by tests/test_rollup_store.py for both the rollup and the full
    scored report.

    Ordering contract: ``seq`` tie-breaks equal-timestamp captures, so
    the ingest must assign store-wide seq values (an arrival counter);
    slices that never interleave timestamps (the daily-batch case) are
    safe with per-batch seq.

    Safety contracts (both previously silent failure modes):

    * ``meta`` — the transform's closed-over parameters (e.g. the report
      flavor's ``as_of`` horizon). Compared against the metadata
      persisted at init: when it CHANGED, every bucket's output is stale
      (an advanced horizon extends every url's spine, not just touched
      urls), so ALL buckets are recomputed and the new meta persisted.
      Untouched-bucket pruning only ever applies under an unchanged
      meta.
    * ``batch_id`` — idempotence key for the ingest batch. A batch id
      already recorded in the store's batch log skips the capture
      append (a retried refresh re-computes output but never
      double-appends history); additionally the bucket-history re-read
      dedupes on ``(url, seq, ts)`` — seq is an arrival counter, so the
      key is unique by contract — which keeps even keyless retries from
      inflating rollup counts.
    """
    meta = meta or {}
    stored_meta = _read_meta(spark, store_dir)
    # A missing/unreadable meta sidecar (pre-metadata store, transient
    # read failure) must NOT silently disable the staleness protection:
    # when the caller supplies parameters, treat unknown-stored as
    # CHANGED — one conservative full-bucket recompute upgrades the
    # store and persists the meta for every later refresh.
    meta_changed = (stored_meta != meta) if meta else (
        stored_meta is not None and stored_meta != meta
    )
    delta = delta_captures.withColumn("url_bucket", _url_bucket())
    if batch_id is None or batch_id not in _applied_batches(spark, store_dir):
        delta.write.mode("append").partitionBy("url_bucket").parquet(
            store_dir + "/captures"
        )
        if batch_id is not None:
            _log_batch(spark, store_dir, batch_id)
    if meta_changed:
        buckets = list(range(ROLLUP_BUCKETS))
    else:
        buckets = sorted(
            r[0] for r in delta.select("url_bucket").distinct().collect()
        )
    caps = (
        spark.read.parquet(store_dir + "/captures")
        .filter(F.col("url_bucket").isin(buckets))
        .drop("url_bucket")
        .dropDuplicates(["url", "seq", "ts"])
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        write_daily_report(transform(caps), store_dir + "/output")
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    if meta_changed:
        _write_meta(spark, store_dir, meta)
    return buckets


def read_store(spark: SparkSession, store_dir: str) -> DataFrame:
    return read_daily_report(spark, store_dir + "/output")


#: rollup-flavored aliases (the original store API)
def init_rollup_store(captures, store_dir):
    init_store(captures, store_dir, _rollup_transform)


def refresh_rollup_store(spark, store_dir, delta_captures, batch_id=None):
    return refresh_store(spark, store_dir, delta_captures, _rollup_transform,
                         batch_id=batch_id)


read_rollup_store = read_store


#: scored-report flavor: the flagship 16-column daily report. as_of is
#: required (see report_transform) — pass the ingest horizon date. The
#: horizon is persisted in store metadata; a refresh with a NEWER as_of
#: (the natural daily usage) triggers a full-bucket recompute so spines
#: in untouched buckets are extended too (refresh ≡ rebuild holds for
#: advancing horizons, pinned by tests/test_rollup_store.py).
def init_report_store(captures, store_dir, as_of):
    init_store(captures, store_dir, report_transform(as_of),
               meta={"as_of": str(as_of)})


def refresh_report_store(spark, store_dir, delta_captures, as_of, batch_id=None):
    return refresh_store(
        spark, store_dir, delta_captures, report_transform(as_of),
        meta={"as_of": str(as_of)}, batch_id=batch_id
    )


def write_packed_corpus(docs: DataFrame, assignments: DataFrame, path: str,
                        mode: str = "overwrite", id_col: str = "doc_id") -> None:
    """Materialize a packed training corpus: join the packing assignment
    table (``extensions.packing.pack_sequences`` output) back to the
    documents and write shards a trainer can stream sequentially.

    Layout: partitioned by ``_bucket`` (the packing hash bucket — same
    bounded cardinality as the packing parallelism, so directory counts
    stay sane at 100 TB), rows sorted by (pack_id, offset) within each
    file so one sequential read yields every pack's documents in
    concatenation order. The join broadcasts NOTHING: both sides hash-
    partition on doc_id, and document text moves exactly once — the
    packing itself only ever shuffled (id, n_tokens) pairs.
    """
    packed = (
        docs.join(assignments, id_col)
        .withColumn("_bucket", F.split(F.col("pack_id"), "p").getItem(0))
    )
    (
        packed.repartition("_bucket")
        .sortWithinPartitions("pack_id", "offset")
        .write.mode(mode)
        .partitionBy("_bucket")
        .parquet(path)
    )
