"""Structured Streaming variant of the capture pipeline (SURVEY.md M5).

New capability relative to the reference (which assumes a fully
sorted, bounded CDX stream — a late row would silently corrupt its
day grouping at main.py:153). Here the capture log is an unbounded
stream with event-time semantics:

* daily rollup -> tumbling 1-day event-time windows with a watermark
  for late captures;
* revisit resolution + chaos counters -> per-url state in
  ``applyInPandasWithState`` (the streaming twin of D4/D5's dicts:
  digest->class map, run counter, 1000-capture ring buffer).

Divergence from batch (documented): revisit resolution and chaos are
computed in *arrival* order per micro-batch (sorted within batch by
ts), so out-of-order arrivals across batches resolve against the state
as of their arrival — the same behavior the reference would have if it
ever saw unsorted input, except deterministic per batch.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from trendmachine_spark.functions.scalars import status_class
from trendmachine_spark.params import SWS

CAPTURE_EVENT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("event_time", T.TimestampType()),
    T.StructField("status", T.StringType()),
    T.StructField("digest", T.StringType()),
])


def daily_capture_counts(stream: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Streaming O19: per-(url, day) class counts via tumbling windows.

    ``stream`` needs url, event_time (timestamp), status. Late rows
    inside the watermark update their day's counts; later ones drop.
    """
    cls = status_class(F.col("status"))
    return (
        stream.withWatermark("event_time", watermark)
        .groupBy("url", F.window("event_time", "1 day").alias("day_window"))
        .agg(
            F.sum((cls == "2xx").cast("long")).alias("_2xx"),
            F.sum((cls == "3xx").cast("long")).alias("_3xx"),
            F.sum((cls == "4xx").cast("long")).alias("_4xx"),
            F.sum((cls == "5xx").cast("long")).alias("_5xx"),
            F.count(F.lit(1)).alias("n_captures"),
        )
        .select(
            "url",
            F.to_date(F.col("day_window.start")).alias("day"),
            "_2xx", "_3xx", "_4xx", "_5xx", "n_captures",
        )
    )


STATE_SCHEMA = "digests map<string,string>, ring array<string>, rs bigint, us bigint, uw bigint, prev string"
CHAOS_OUT_SCHEMA = (
    "url string, last_ts timestamp, rs bigint, chaos double, chaosn double"
)


#: default bound on the per-url revisit digest map — the reference's
#: equivalent dict (and the batch window) are unbounded, which on an
#: unbounded stream is a state leak; see ``digest_cap`` docstrings.
DIGEST_CAP = 65536


def _make_status_resolver(digest_cap: int):
    """Status class + revisit-digest LRU of the stateful streams (rule:
    chaos_scores_stream). ``resolve`` is nested so cloudpickle ships it
    by value (workers never import this package)."""

    def resolve(digests, s, d):
        s = s[:1] + "xx" if "200" <= s <= "599" else s
        if s != "-":
            digests.pop(d, None)
            digests[d] = s
            if len(digests) > digest_cap:
                digests.pop(next(iter(digests)))
        elif d in digests:
            s = digests[d] = digests.pop(d)  # pop+reinsert = LRU touch
        else:
            s = "~"
        return s

    return resolve


def chaos_scores_stream(stream: DataFrame, digest_cap: int = DIGEST_CAP) -> DataFrame:
    """Streaming O21: emits the running chaos/chaosn per url after each
    micro-batch — the unbounded twin of the batch daily close values.

    ``digest_cap`` bounds the per-url digest->class map with LRU
    eviction (a revisit touches its digest; inserts evict the least
    recently used once over cap). Documented divergence from the
    reference's unbounded dict: a revisit whose digest was evicted
    resolves to '~' instead of its original class — on real capture
    logs revisits overwhelmingly reference recent digests, so a cap in
    the tens of thousands changes nothing while keeping state O(cap)
    per url on an unbounded stream. LRU recency is exact within a
    micro-batch and follows map insertion order across batches.

    The state function is nested so cloudpickle ships it by value —
    workers don't need this package importable.
    """
    sws = SWS
    resolve = _make_status_resolver(digest_cap)

    def chaos_state_fn(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # Streaming O9 + O21: digest->class map, run counter, ring buffer.
        if state.exists:
            digests, ring, rs, us, uw, prev = state.get
            digests = dict(digests)
            ring = list(ring)
        else:
            digests, ring = {}, ["~"] * sws
            rs = us = uw = 0
            prev = "~"

        last_ts = None
        for pdf in pdfs:
            pdf = pdf.sort_values("event_time", kind="mergesort")
            for s, d, ts in zip(pdf["status"], pdf["digest"], pdf["event_time"]):
                s = resolve(digests, s, d)
                wp = rs % sws
                rs += 1
                if s != prev:
                    prev = s
                    us += 1
                    uw += 1
                if ring[wp] != ring[wp - sws + 1]:
                    uw -= 1
                ring[wp] = s
                last_ts = ts

        state.update((digests, ring, rs, us, uw, prev))
        if rs:
            yield pd.DataFrame(
                {
                    "url": [key[0]],
                    "last_ts": [last_ts],
                    "rs": [rs],
                    "chaos": [us / rs],
                    "chaosn": [uw / min(sws, rs)],
                }
            )

    return (
        stream.groupBy("url")
        .applyInPandasWithState(
            chaos_state_fn,
            outputStructType=CHAOS_OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def events_capture_stream(spark, sf_dir: str) -> DataFrame:
    """File-source streaming read of the events table as a capture stream
    (one-shot batch of files driven by processAllAvailable in tests).

    readStream requires an explicit schema, but the testdata's physical
    ``ts`` layout has changed across driver builds (INT64 TIMESTAMP(NANOS)
    vs proper ``timestamp[us]``). Rather than hardcode one layout, borrow
    the schema from a batch read of the same file (a footer-only read at
    stream-definition time — no data scan) and normalize ``ts`` with the
    same rule :func:`~trendmachine_spark.sources.tables.load_table` uses,
    so stream and batch can never disagree on event_time again.
    """
    from trendmachine_spark.sources.captures import EVENT_STATUS
    from trendmachine_spark.sources.tables import configure

    configure(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the filter must match ONLY event files — a bare directory would
    # pull every table's parquet in with mismatched (all-null) schemas.
    # 'events*' (not the literal name): a live ingest dir receives NEW
    # files (events_0001.parquet, ...) — the file source tracks
    # processed paths in the checkpoint, so appends must arrive under
    # fresh names (exercised by the checkpoint-restart test)
    e = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events*.parquet")
        .parquet(sf_dir)
    )
    ts_type = dict((f.name, f.dataType.simpleString()) for f in raw_schema)["ts"]
    if ts_type == "bigint":  # legacy nanos layout
        event_time = F.timestamp_micros(F.expr("ts div 1000"))
    else:
        event_time = F.col("ts").cast("timestamp")
    status = F.lit(None).cast("string")
    for k, v in EVENT_STATUS.items():
        status = F.when(F.col("event_type") == k, F.lit(v)).otherwise(status)
    return e.select(
        F.concat(F.lit("user-"), F.col("user_id").cast("string")).alias("url"),
        event_time.alias("event_time"),
        F.coalesce(status, F.col("event_type")).alias("status"),
        F.concat(F.lit("DG"), F.regexp_extract("props", "[0-9]+", 0), F.lit("000000")).alias("digest"),
    )
