"""Streaming scored daily series: resilience + fixity at each day close.

The streaming day-close scorer (O34 + O35). Per-url state carries the
revisit digest map, the open day's best specimen (priority + first-
capture-wins, O20) and winning digest, the previous observed day's
closing digest, and both recurrences' registers. When a capture for a
later day arrives, the operator closes the open day, synthesizes any
interior missing days (the reference's dense-spine iteration, O31,
done lazily), scores them and emits one row per closed day. The day's
content state ('Unchanged' if the specimen digest repeats, else
'Changed'; synthesized missing days are 'Unknown' — main.py:155/:168 +
archive.py:17 semantics) drives the fixity recurrence. The batch-
equivalence test pins both scores to 1e-12 on every closed day.

The still-open day additionally closes by EVENT-TIME TIMEOUT: each
key arms a timer at its open day's end, and once the stream's
watermark (``watermark`` behind max event time) passes it with no
newer capture, the day is scored and emitted — so a url that goes
quiet still surfaces its final day, batch-equivalent. A ``closed``
flag in state makes the flush idempotent: a later capture resumes the
spine from the flushed day without re-scoring it (late events for an
already-flushed day are dropped, standard watermark semantics).
Flushed keys retain their ~few-hundred-byte state so a revival
continues the exact series; ``state_ttl_sec`` (None = keep forever)
bounds total state at 100 TB url churn: after a flush, a GC timer is
armed at watermark + ttl, and if the url stays quiet that long its
state is REMOVED — a later revival then restarts both recurrences
from the 0.5 priors (documented divergence from batch, which
remembers all history; test-pinned).
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SCORED_STATE_SCHEMA = (
    "digests map<string,string>, cur_day string, cur_pr int, cur_spec string, "
    "cur_digest string, prev_close_digest string, "
    "base double, scale double, h double, x bigint, prev string, "
    "basec double, scalec double, hc double, xc bigint, prevc string, "
    "closed boolean"
)
SCORED_OUT_SCHEMA = (
    "url string, day string, specimen string, content string, "
    "resilience double, fixity double"
)


def scored_daily_stream(stream: DataFrame, sigparams=None,
                        digest_cap: int | None = None,
                        watermark: str = "1 day",
                        state_ttl_sec: int | None = None) -> DataFrame:
    """stream(url, event_time, status, digest) -> closed-day scores.

    ``digest_cap`` (default capture_stream.DIGEST_CAP): LRU bound on
    the per-url digest map — see chaos_scores_stream for the eviction
    rule and the documented divergence on evicted revisits. Timeout
    flush and ``state_ttl_sec`` GC: module docstring.
    """
    from trendmachine_spark.operators.recurrence import _param_table
    from trendmachine_spark.params import STATUS_PRIORITY
    from trendmachine_spark.streaming.capture_stream import DIGEST_CAP, _make_status_resolver

    # driver-side locals: the closure captures them by value
    params = _param_table(sigparams)
    priority = STATUS_PRIORITY
    resolve = _make_status_resolver(DIGEST_CAP if digest_cap is None else digest_cap)

    def state_fn(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import math
        from datetime import date, timedelta

        if state.exists:
            (digests, cur_day, cur_pr, cur_spec, cur_digest, prev_close_digest,
             *regs, closed) = state.get
            digests = dict(digests)
            # recurrence registers [base, scale, h, x, prev] per score
            res, fix = list(regs[:5]), list(regs[5:])
        else:
            digests, cur_day, cur_spec, cur_digest = {}, None, "~", "~"
            prev_close_digest = "~"
            cur_pr = -1
            res = [0.5, 0.5, 0.5, 0, "~"]
            fix = [0.5, 0.5, 0.5, 0, "Unknown"]
            closed = False

        out_rows = []

        def step(reg, k, p):
            # one day of the run-based recurrence (main.py:194-227)
            base, scale, h, x, prev = reg
            if k != prev:
                base = h
                scale = base if p[2] < 0 else 1.0 - base
                x = 0
            x += 1
            h = base + scale * (p[2] / (1.0 + math.exp(p[0] - x / p[1])))
            reg[:] = base, scale, h, x, k
            return h

        def emit(day_str, spec, content):
            out_rows.append((
                key[0], day_str, spec, content,
                step(res, spec, params.get(spec) or params["~"]),
                step(fix, content, params.get(content) or params["Unknown"]),
            ))

        def close_day():
            # score + emit the open day and roll the fixity digest
            nonlocal prev_close_digest, closed
            spec = cur_spec if cur_spec in params else "~"
            emit(cur_day, spec,
                 "Unchanged" if cur_digest == prev_close_digest else "Changed")
            prev_close_digest = cur_digest
            closed = True

        def finish():
            state.update((digests, cur_day, cur_pr, cur_spec, cur_digest,
                          prev_close_digest, *res, *fix, closed))
            if cur_day is not None and not closed:
                from datetime import datetime, time, timezone

                nxt = date.fromisoformat(cur_day) + timedelta(days=1)
                end_ms = int(datetime.combine(
                    nxt, time.min, tzinfo=timezone.utc).timestamp() * 1000)
                # timers must be strictly ahead of the current watermark
                state.setTimeoutTimestamp(
                    max(end_ms, state.getCurrentWatermarkMs() + 1))
            elif closed and state_ttl_sec is not None:
                # idle-key GC: drop this url's state if it stays quiet
                # a full TTL past the flush
                state.setTimeoutTimestamp(
                    state.getCurrentWatermarkMs() + state_ttl_sec * 1000)
            if out_rows:
                yield pd.DataFrame(
                    out_rows,
                    columns=["url", "day", "specimen", "content",
                             "resilience", "fixity"],
                )

        if state.hasTimedOut:
            if cur_day is not None and not closed:
                close_day()
                yield from finish()
            else:
                state.remove()  # GC timer: quiet a full TTL past flush
            return

        def close_through(next_day_str):
            nonlocal cur_day, cur_pr, cur_spec, cur_digest, closed
            if next_day_str == cur_day:
                return
            if cur_day is not None:
                if not closed:
                    close_day()
                d = date.fromisoformat(cur_day) + timedelta(days=1)
                end = date.fromisoformat(next_day_str)
                while d < end:
                    emit(d.isoformat(), "~", "Unknown")
                    d += timedelta(days=1)
            cur_day = next_day_str
            cur_pr = -1
            cur_spec = "~"
            cur_digest = "~"
            closed = False

        for pdf in pdfs:
            pdf = pdf.sort_values("event_time", kind="mergesort")
            for s, dg, ts in zip(pdf["status"], pdf["digest"], pdf["event_time"]):
                s = resolve(digests, s, dg)
                close_through(ts.strftime("%Y-%m-%d"))
                pr = priority.get(s, 0)
                if pr > cur_pr:
                    cur_spec = s
                    cur_digest = dg[:8]
                    cur_pr = pr

        yield from finish()

    return stream.withWatermark("event_time", watermark).groupBy("url").applyInPandasWithState(
        state_fn,
        outputStructType=SCORED_OUT_SCHEMA,
        stateStructType=SCORED_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
