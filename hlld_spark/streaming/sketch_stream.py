"""Structured Streaming sketch aggregation.

The reference is an *online* server: incremental ``set`` ops mutate
named registers, periodic flush persists them (src/background.c:99-146).
The streaming restatement: registers are the **state** of a stateful
operator, the register-max update is the state transition, and each
trigger emits the refreshed estimate.

Two surfaces:

* :func:`sketch_stream` — ``groupBy(keys).applyInPandasWithState``:
  state = one serialized sketch per key, arbitrary-cardinality keys,
  estimate emitted on every update.
* :func:`windowed_sketch_stream` — event-time tumbling windows with a
  watermark: one sketch per (window, keys...). Late rows beyond the
  watermark are dropped by Spark's late-row filter; closed windows'
  STATE is removed explicitly via EventTimeTimeout + state.remove()
  (custom stateful operators don't get watermark eviction for free).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import BinaryType, DoubleType, LongType, StructField, StructType

from ..core.accumulator import HllSpec, accumulator_for, deserialize_any


def _state_schema() -> StructType:
    return StructType(
        [StructField("sketch", BinaryType(), True), StructField("n_rows", LongType(), True)]
    )


#: unit spellings Spark's CalendarInterval parser accepts (full names,
#: plural or singular, plus the common abbreviations) → milliseconds
_INTERVAL_UNIT_MS = {
    "millisecond": 1, "milli": 1, "ms": 1,
    "second": 1000, "sec": 1000, "s": 1000,
    "minute": 60_000, "min": 60_000, "m": 60_000,
    "hour": 3_600_000, "hr": 3_600_000, "h": 3_600_000,
    "day": 86_400_000, "d": 86_400_000,
    "week": 604_800_000, "w": 604_800_000,
}


def _interval_ms(interval: str) -> int:
    """Parse a Spark interval string to milliseconds.

    Accepts the forms Spark's own parser does for window/watermark
    durations: '<n> <unit>' with full or abbreviated units ('30 sec',
    '5 min', '1 hr') and compound multi-part intervals
    ('1 hour 30 minutes'). Raises ValueError with the offending token on
    anything else (ADVICE r2: the previous grammar KeyError'd on
    abbreviations).
    """
    toks = interval.strip().lower().split()
    if toks and toks[0] == "interval":
        toks = toks[1:]
    if not toks or len(toks) % 2:
        raise ValueError(
            f"bad interval {interval!r}: expected '<n> <unit> [<n> <unit> ...]'"
        )
    total = 0.0
    for num, unit in zip(toks[::2], toks[1::2]):
        base = unit.rstrip("s") if unit not in _INTERVAL_UNIT_MS else unit
        if base not in _INTERVAL_UNIT_MS:
            raise ValueError(
                f"bad interval {interval!r}: unknown unit {unit!r} "
                f"(accepted: {sorted(set(_INTERVAL_UNIT_MS))})"
            )
        try:
            total += float(num) * _INTERVAL_UNIT_MS[base]
        except ValueError:
            raise ValueError(f"bad interval {interval!r}: non-numeric count {num!r}") from None
    return int(total)


def sketch_stream(
    stream_df: DataFrame,
    keys: list[str],
    col: str,
    spec=None,
    output_mode: str = "update",
    _evict_after_ms: int | None = None,
    _watermark_col: str | None = None,
    _win_ms_key: str | None = None,
) -> DataFrame:
    """Continuously-updated per-key sketches over a stream.

    Output rows: (keys..., estimate double, n_rows long, sketch binary).
    ``output_mode="update"`` re-emits a key whenever new rows arrive;
    ``output_mode="append"`` emits each key EXACTLY ONCE, when its
    event-time timeout fires (emit-on-close) — requires eviction, i.e.
    the windowed path.

    Per-key state persists for the life of the query — the reference's
    named sets likewise live until dropped — so key cardinality bounds
    state size. For bounded event-time windows use
    :func:`windowed_sketch_stream`, which evicts closed windows' state.

    ``_evict_after_ms`` / ``_win_ms_key`` (internal, used by
    windowed_sketch_stream): when set, ``_win_ms_key`` names a key
    column holding the window start as EPOCH MILLISECONDS (computed
    JVM-side with ``unix_millis``, so the arithmetic is timezone-exact
    no matter what ``spark.sql.session.timeZone`` is — ADVICE r2: the
    previous ``calendar.timegm`` over the naive session-tz datetime was
    only correct under UTC sessions), and state is removed via
    EventTimeTimeout once the watermark passes win_ms + _evict_after_ms.
    """
    spec = spec if spec is not None else HllSpec()
    accumulator_for(spec)
    keys = list(keys)
    if output_mode not in ("update", "append"):
        raise ValueError(f"output_mode must be 'update' or 'append', got {output_mode!r}")
    if output_mode == "append" and _evict_after_ms is None:
        raise ValueError(
            "output_mode='append' emits on window close, so it needs event-time "
            "eviction — use windowed_sketch_stream (unbounded keys never close)"
        )
    out_fields = [stream_df.schema[k] for k in keys] + [
        StructField("estimate", DoubleType(), False),
        StructField("n_rows", LongType(), False),
        StructField("sketch", BinaryType(), False),
    ]
    out_schema = StructType(out_fields)
    acc_kind = spec.kind
    fspec = spec
    fcol = col
    evict_ms = _evict_after_ms
    win_ms_idx = keys.index(_win_ms_key) if _win_ms_key is not None else 0
    append = output_mode == "append"

    def update(key, pdfs, state: GroupState):
        from ..core.accumulator import _ACCUMULATORS

        acc = _ACCUMULATORS[acc_kind]

        def emit(st, sp, buf, n):
            row = {k: [key[i]] for i, k in enumerate(keys)}
            row["estimate"] = [float(acc.estimate(st, sp))]
            row["n_rows"] = [n]
            row["sketch"] = [buf]
            yield pd.DataFrame(row)

        if evict_ms is not None and state.hasTimedOut:
            # window closed: the watermark passed its end
            if append and state.exists:
                buf, n = state.get
                _, st, sp = deserialize_any(bytes(buf))
                state.remove()
                yield from emit(st, sp, bytes(buf), n)  # the FINAL row
            else:
                state.remove()
            return
        if state.exists:
            buf, n = state.get
            _, st, sp = deserialize_any(bytes(buf))
        else:
            st, sp, n = acc.zero(fspec), fspec, 0
        for pdf in pdfs:
            vals = pdf[fcol].dropna()
            if len(vals):
                st = acc.update(st, vals, sp)
                n += len(vals)
        buf = acc.serialize(st, sp)
        state.update((buf, n))
        if evict_ms is not None:
            # evict once the watermark passes the window end; the key
            # already carries epoch ms (JVM unix_millis — tz-exact)
            state.setTimeoutTimestamp(int(key[win_ms_idx]) + evict_ms)
        if not append:
            yield from emit(st, sp, buf, n)

    # the watermarked column must survive the projection for Spark to
    # allow EventTimeTimeout on this operator
    proj = [*keys, col] + ([_watermark_col] if _watermark_col and _watermark_col not in keys else [])
    return (
        stream_df.select(*proj)
        .groupBy(*keys)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=_state_schema(),
            outputMode=output_mode,
            timeoutConf=(
                GroupStateTimeout.EventTimeTimeout if evict_ms is not None else GroupStateTimeout.NoTimeout
            ),
        )
    )


def windowed_sketch_stream(
    stream_df: DataFrame,
    ts_col: str,
    keys: list[str],
    col: str,
    spec=None,
    window: str = "1 day",
    watermark: str = "1 day",
    output_mode: str = "update",
) -> DataFrame:
    """Event-time tumbling-window sketches with late-data handling.

    Adds the window start as an extra key through the same stateful
    operator (plus its epoch-ms twin ``__win_ms``, computed JVM-side so
    the timeout arithmetic is timezone-exact). Closed windows' state is
    evicted explicitly via EventTimeTimeout: each update arms a timeout
    at window_end + watermark_delay, and when the watermark passes it
    the state entry is removed (state-store size stays bounded by the
    number of OPEN windows × keys, not stream lifetime). Rows later than
    the watermark are dropped by Spark's late-row filter before reaching
    the operator.

    ``output_mode`` (the production contract choice):

    * ``"update"`` — re-emit a window's running estimate every time new
      rows arrive (dashboards; the sink dedups by latest).
    * ``"append"`` — emit each window EXACTLY ONCE, finalized, when the
      watermark closes it (emit-on-close): the output equals the batch
      GROUP BY over the same data, no downstream max()/last() needed.
      Windows still open when the stream stops are never emitted —
      exactly Spark's native append-mode windowed-aggregation contract.
    """
    spec = spec if spec is not None else HllSpec()
    wm = stream_df.withWatermark(ts_col, watermark)
    win = F.window(F.col(ts_col), window).getField("start")
    windowed = wm.withColumn("__win", win).withColumn("__win_ms", F.unix_millis(win))
    evict_ms = _interval_ms(window) + _interval_ms(watermark)
    return (
        sketch_stream(
            windowed,
            ["__win", "__win_ms"] + list(keys),
            col,
            spec,
            output_mode=output_mode,
            _evict_after_ms=evict_ms,
            _watermark_col=ts_col,
            _win_ms_key="__win_ms",
        )
        .withColumnRenamed("__win", "window_start")
        .drop("__win_ms")
    )
