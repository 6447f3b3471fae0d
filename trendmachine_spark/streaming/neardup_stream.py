"""Watermarked stateful streaming near-dup — LSH band-bucket state.

Round-5 closure of the round-3 stretch item: ``ingest_stream`` vets
each micro-batch against a parquet corpus STORE (foreachBatch replay —
correct and replay-idempotent, but the corpus store grows without
bound and every batch re-reads it); this module is the genuinely
STATEFUL twin, the way ``dedup_stream`` bounds exact dedup:
``applyInPandasWithState`` keyed by ``(band, bucket)``, state = the
bucket's member docs within the watermark horizon, TTL-evicted and
size-capped. Memory is bounded by (arrival rate × horizon × bands),
not by stream lifetime.

Semantics per arriving doc, mirroring ``incremental_dedup``'s flags
(extensions/dedup.py) with the corpus-so-far as the base:

* ``exact_dup_base``  — a doc seen in an EARLIER trigger (and still
  inside the watermark horizon) has the same content md5;
* ``exact_dup_delta`` — an earlier (lower doc_id) doc in the SAME
  trigger has the same md5;
* ``near_dup_base``   — shares an LSH band bucket with an earlier-
  trigger doc AND exact shingle jaccard vs that doc >= threshold
  (same-trigger near-dups are NOT flagged — incremental_dedup's
  delta-vs-delta stance);
* ``is_new``          — none of the above.

Equivalence contract (pinned by tests/test_neardup_stream.py): when
every earlier-arriving doc was itself accepted — the batch operator's
own precondition, "the corpus is already clean" — the flags equal
iterated ``incremental_dedup`` over the same trigger split exactly,
late-but-in-watermark arrivals included (batch semantics order by
arrival, not event time). Divergence class, documented: this operator
admits EVERY first-seen doc into bucket state (the ``dedup_stream``
first-instance-wins stance), so a doc whose only match is a previously
REJECTED doc is still flagged near-dup, where the store-replay twin
(whose corpus holds accepted docs only) would re-admit it. That is
strictly MORE dedup, never less, and only differs on streams that
violate the clean-corpus precondition. Two other bounded trades, both
inherited from the exact twin: a duplicate arriving after its original
aged out of the watermark horizon is re-admitted (TTL), and a bucket
over ``max_members`` evicts oldest members first (cap — the streaming
analog of ``MAX_LSH_BUCKET``).

Scale: band/bucket/shingle computation is a NARROW per-row projection
(the ``minhash_signatures_narrow`` fold — no pre-shuffle); the only
exchange is the keyed-state shuffle on (band, bucket), whose hot keys
are exactly the capped buckets. Shingle sets ride in state because the
verify step needs them (bounded: max_members × doc shingles × horizon).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trendmachine_spark.extensions.dedup import (
    BANDS,
    MAX_LSH_BUCKET,
    ROWS_PER_BAND,
    SHINGLE_K,
    gram_array,
    minhash_columns,
    shingle_hash,
)

#: state: parallel arrays over bucket members (insertion-ordered)
NEARDUP_STATE_SCHEMA = (
    "ids array<long>, md5s array<string>, shs array<array<string>>, "
    "ts array<long>"
)
#: one output row per (doc, band); aggregate with flags_from_rows
NEARDUP_OUT_SCHEMA = (
    "doc_id long, band long, exact_dup_base int, exact_dup_delta int, "
    "near_dup_base int"
)
DEFAULT_TTL_MS = 2 * 24 * 3600 * 1000  # mirrors dedup_stream's "2 days"


def band_bucket_rows(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", time_col: str = "event_time",
                     k: int = SHINGLE_K) -> DataFrame:
    """(band, bucket, doc_id, md5, sh, event_time) — one row per LSH
    band per doc, as a single NARROW projection (streaming-safe, no
    shuffle): the per-row minhash fold of
    ``minhash_signatures_narrow`` + the band digest of
    ``lsh_band_buckets``, with the distinct shingle set riding along
    for the verify step. Docs with fewer than ``k`` words have no
    shingles and emit ONE row keyed (band=-1, bucket=md5) so exact-dup
    flags still flow for them (near-dup is undefined without shingles —
    ``incremental_dedup`` yields 0 there too).

    Parity with the batch operators is pinned by
    tests/test_neardup_stream.py::test_band_bucket_rows_match_batch.
    """
    grams = gram_array(text_col, k)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(time_col).alias("event_time"),
        F.md5(F.col(text_col)).alias("md5"),
        grams.alias("_g"),
    )
    base = base.withColumn("_h", F.transform(F.col("_g"), shingle_hash))
    mh = minhash_columns(BANDS * ROWS_PER_BAND, per_row=True)
    band_structs = F.array(*[
        F.struct(
            F.lit(b).cast("long").alias("band"),
            F.md5(F.concat_ws(
                "|",
                *[mh[b * ROWS_PER_BAND + r].cast("string")
                  for r in range(ROWS_PER_BAND)],
            )).alias("bucket"),
        )
        for b in range(BANDS)
    ])
    short_struct = F.array(F.struct(
        F.lit(-1).cast("long").alias("band"), F.col("md5").alias("bucket")
    ))
    buckets = F.when(F.size("_g") >= 1, band_structs).otherwise(short_struct)
    return (
        base.withColumn("_b", F.explode(buckets))
        .select(
            F.col("_b.band").alias("band"),
            F.col("_b.bucket").alias("bucket"),
            "doc_id",
            "md5",
            F.array_distinct("_g").alias("sh"),
            "event_time",
        )
    )


def near_dup_flags_stream(stream: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          time_col: str = "event_time",
                          min_jaccard: float = 0.8,
                          watermark: str = "2 days",
                          ttl_ms: int = DEFAULT_TTL_MS,
                          max_members: int = MAX_LSH_BUCKET) -> DataFrame:
    """stream(doc_id, text, event_time) -> per-(doc, band) flag rows
    (NEARDUP_OUT_SCHEMA); aggregate per doc with :func:`flags_from_rows`.

    State per (band, bucket): the member docs seen within the horizon
    — ids, md5s, shingle sets, last event-time ms — TTL-evicted at the
    watermark, capped at ``max_members`` (oldest-out). See module doc
    for the exact flag semantics and bounded trades.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    threshold = float(min_jaccard)
    cap = int(max_members)
    ttl = int(ttl_ms)

    def state_fn(key, pdfs, state):
        import pandas as pd

        band = key[0]
        if state.exists:
            ids, md5s, shs, tss = state.get
            ids, md5s, tss = list(ids), list(md5s), list(tss)
            shs = [list(s) for s in shs]
        else:
            ids, md5s, shs, tss = [], [], [], []

        wm = state.getCurrentWatermarkMs()

        # TTL: a member whose event time fell behind the watermark has
        # aged out of the horizon (the watermark delay IS the horizon —
        # dedup_stream's dropDuplicatesWithinWatermark semantics); a
        # duplicate of it arriving later is re-admitted, the documented
        # bounded-state trade.
        keep = [i for i, t in enumerate(tss) if t >= wm]
        ids, md5s, shs, tss = ([ids[i] for i in keep], [md5s[i] for i in keep],
                               [shs[i] for i in keep], [tss[i] for i in keep])

        if state.hasTimedOut:
            if ids:
                state.update((ids, md5s, shs, tss))
                state.setTimeoutTimestamp(wm + ttl + 1)
            else:
                state.remove()
            return

        base_md5s = set(md5s)
        base_sets = [set(s) for s in shs]
        out = []
        batch = []  # (id, md5, sh_list, ts_ms) in doc_id order
        for pdf in pdfs:
            for _, r in pdf.sort_values("doc_id", kind="mergesort").iterrows():
                batch.append((
                    int(r["doc_id"]), r["md5"], list(r["sh"]),
                    int(r["event_time"].value // 1_000_000),
                ))
        batch.sort(key=lambda x: x[0])
        seen_batch_md5: set[str] = set()
        for did, m, sh, _ in batch:
            eb = 1 if m in base_md5s else 0
            ed = 1 if m in seen_batch_md5 else 0
            nb = 0
            if band >= 0 and sh:
                s = set(sh)
                for bs in base_sets:
                    inter = len(s & bs)
                    if inter and inter / (len(s) + len(bs) - inter) >= threshold:
                        nb = 1
                        break
            out.append((did, band, eb, ed, nb))
            seen_batch_md5.add(m)
        # admit first instances (dedupe by id — replays may repeat rows),
        # then enforce the cap: oldest event time out first (tie: id)
        member_ids = set(ids)
        for did, m, sh, t in batch:
            if did not in member_ids:
                ids.append(did)
                md5s.append(m)
                shs.append(sh)
                tss.append(t)
                member_ids.add(did)
        if len(ids) > cap:
            order = sorted(range(len(ids)), key=lambda i: (tss[i], ids[i]))
            keep = sorted(order[len(ids) - cap:])
            ids = [ids[i] for i in keep]
            md5s = [md5s[i] for i in keep]
            shs = [shs[i] for i in keep]
            tss = [tss[i] for i in keep]

        state.update((ids, md5s, shs, tss))
        # arm from the batch's max event time, not the watermark alone:
        # on the FIRST micro-batch the watermark is still 0, and an
        # epoch-anchored timeout would fire a spurious full-state scan
        # for every key on the next trigger before re-arming (round-5
        # ADVICE); max(wm, max event ts) is always > the current
        # watermark, which setTimeoutTimestamp requires
        anchor = max([wm] + [t for _, _, _, t in batch])
        state.setTimeoutTimestamp(anchor + ttl + 1)
        if out:
            yield pd.DataFrame(
                out,
                columns=["doc_id", "band", "exact_dup_base",
                         "exact_dup_delta", "near_dup_base"],
            )

    rows = band_bucket_rows(
        stream.withWatermark(time_col, watermark), text_col, id_col, time_col
    )
    return rows.groupBy("band", "bucket").applyInPandasWithState(
        state_fn,
        outputStructType=NEARDUP_OUT_SCHEMA,
        stateStructType=NEARDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def flags_from_rows(rows: DataFrame) -> DataFrame:
    """Per-doc flags in ``incremental_dedup``'s shape from the per-band
    rows: a flag is set if ANY band set it (identical docs share every
    band, so exact flags agree across bands; near-dup needs one
    colliding band, exactly the batch candidate rule)."""
    eb, ed, nb = (F.max(c) for c in
                  ("exact_dup_base", "exact_dup_delta", "near_dup_base"))
    return (
        rows.groupBy("doc_id")
        .agg(
            eb.cast("long").alias("exact_dup_base"),
            ed.cast("long").alias("exact_dup_delta"),
            nb.cast("long").alias("near_dup_base"),
        )
        .withColumn(
            "is_new",
            ((F.col("exact_dup_base") + F.col("exact_dup_delta")
              + F.col("near_dup_base")) == 0).cast("long"),
        )
    )
