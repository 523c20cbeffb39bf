"""Custom stateful streaming operators — the two reference semantics
Structured Streaming does not ship (SURVEY §4.2):

  1. Running Fold/Reduce with per-element emission in a stream
     (flow/fold.go:83-90, flow/reduce.go:80-91).
  2. Count-OR-time Batch (flow/batch.go:86-112): emit a batch when the
     buffer reaches max_size OR the interval elapses, whichever first.

All build on ``applyInPandasWithState`` (Spark's state store —
RocksDB-backed on a real cluster, so state scales horizontally).

State is kept per BUCKET, not per key, for the per-key folds
(``running_fold_stream`` and through it ``global_fold_stream``,
``token_bucket_stream``, ``holt_winters_stream``): a key's rows route to
bucket ``pmod(xxhash64(keys), B)``, B = ``spark.sql.shuffle.partitions``
when the frame is built, and one state group per bucket carries every
key of the bucket — its state row holds B, the keys and each per-key
state field as parallel arrays (``_bucketed_state``, the streaming
driver of the per-key fold core ``operators.aggregate._fold_keys``,
whose batch driver runs the batch twins on the same steps). pyspark's
serializer pays a fixed cost per state group per micro-batch (one
Arrow-to-pandas conversion, one state JSON, one concat), so this pays it
at most B times per trigger instead of once per active key. A bucket's
pandas frame holds one trigger's rows of its keys, so it is bounded by
trigger size, never by stream volume; its state row grows with the
number of keys in the bucket and is rewritten whenever the bucket sees
rows. ``heavy_hitters_stream`` keys its sketches by the same bucket
expression. ``count_or_time_batch_stream`` and ``cep_stream`` stay per
key: they arm a timeout per key, and Spark's timeouts are per state
group.

Ordering contract: the reference is globally ordered (one goroutine);
a distributed engine can only promise per-key order. Rows are sorted by
the event-order column within each micro-batch; cross-micro-batch
reordering is bounded by the watermark. This delta is inherent and
documented (SURVEY §7 "what's hard" #1).
"""

from __future__ import annotations

from typing import Any, Callable, Iterable

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (ArrayType, DataType, IntegerType, StructField,
                               StructType)

from ..operators.aggregate import (_fold_keys, _fold_step, _hw_feed,
                                   _null_flagged)
from ..operators.throttle import _token_bucket


def _bucket(cols: list[str], n: int) -> Column:
    """The state-bucket expression: ``pmod(xxhash64(cols), n)``."""
    return F.pmod(F.xxhash64(*cols), F.lit(n)).cast("int")


def _murmur3_int(v: int) -> int:
    """Spark's ``hash()`` of an int column value (Murmur3 x86_32
    ``hashInt``, seed 42), the hash its hash partitioning uses."""
    m = 0xFFFFFFFF
    k = (v & m) * 0xCC9E2D51 & m
    k = ((k << 15) | (k >> 17)) * 0x1B873593 & m
    h = 42 ^ k
    h = (((h << 13) | (h >> 19)) & m) * 5 + 0xE6546B64 & m
    h ^= 4
    h = (h ^ (h >> 16)) * 0x85EBCA6B & m
    h = (h ^ (h >> 13)) * 0xC2B2AE35 & m
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


def _slots(n: int) -> list[int]:
    """For each partition p < n, the smallest int that Spark's hash
    partitioning into n partitions sends to p. Grouping on slot[bucket]
    puts bucket b in state partition b: one bucket per task, where
    hashing the bucket numbers themselves would leave about a third of
    the partitions empty and stack buckets in the others."""
    slot: dict[int, int] = {}
    v = 0
    while len(slot) < n:
        slot.setdefault(_murmur3_int(v) % n, v)
        v += 1
    return [slot[p] for p in range(n)]


def _py(v):
    """A state value as the plain Python object Spark's state encoder
    takes (numpy scalars and arrays, pandas timestamps converted)."""
    if isinstance(v, np.ndarray):
        return v.tolist()
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    return v


def _bucketed_state(df: DataFrame, *, key_cols: list[str],
                    order_cols: list[str], state_schema: str,
                    step: Callable, output_schema: str,
                    output_mode: str = "append") -> DataFrame:
    """Per-key state carried in state buckets (module docstring): per
    micro-batch, a bucket's rows go through ``_fold_keys`` once, with
    the bucket's per-key states as its store; ``step`` and its
    ``state_schema`` tuple follow that core's contract. The bucket emits
    one frame of every key's output columns.

    Bucket b runs in state partition b (``_slots``). A restart that
    builds the query under another ``spark.sql.shuffle.partitions``
    than its checkpoint's state partition count would re-route keys to
    other buckets and silently restart their state, so every bucket
    call compares the bucket count with the state partition count the
    stream runs with (Spark's internal
    ``spark.sql.streaming.internal.stateStore.partitions``, which the
    checkpoint fixes and every task receives) and with the count stored
    in the bucket's state, and raises on a mismatch. So the query must
    be started under the ``spark.sql.shuffle.partitions`` it was built
    under.
    """
    nb = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    key_types = [df.schema[k].dataType for k in key_cols]
    fields = DataType.fromDDL(state_schema).fields
    bucket_state = StructType(
        [StructField("buckets", IntegerType())]
        + [StructField(f"key{i}", ArrayType(t)) for i, t in enumerate(key_types)]
        + [StructField(f.name, ArrayType(f.dataType)) for f in fields])
    nk = len(key_cols)

    def run(group, pdfs: Iterable[pd.DataFrame], state: GroupState):
        # the state partition count the stream runs with: the checkpoint
        # fixes it, and Spark passes it to every task of a streaming batch
        runs = TaskContext.get().getLocalProperty(
            "spark.sql.streaming.internal.stateStore.partitions")
        for written in (int(runs or nb), state.get[0] if state.exists else nb):
            if written != nb:
                raise RuntimeError(
                    f"state bucket count mismatch: the checkpoint's state "
                    f"was written with {written} buckets, this query was "
                    f"built with {nb} (spark.sql.shuffle.partitions); build "
                    f"it with spark.sql.shuffle.partitions={written} or "
                    f"start from a new checkpoint")
        store: dict = {}
        if state.exists:
            arrays = state.get[1:]
            store = dict(zip(zip(*arrays[:nk]), zip(*arrays[nk:])))
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        rows = (pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1 else chunks[0])
        out = _fold_keys(rows, store, key_cols=key_cols,
                         order_cols=order_cols, ints=ints, step=step)
        state.update((nb,
                      *([_py(k[i]) for k in store] for i in range(nk)),
                      *([_py(s[j]) for s in store.values()]
                        for j in range(len(fields)))))
        if out is not None:
            yield out

    slot = F.element_at(F.array(*map(F.lit, _slots(nb))),
                        _bucket(key_cols, nb) + 1).alias("__slot")
    flagged, ints = _null_flagged(df, slot)
    return (flagged.groupBy("__slot")
            .applyInPandasWithState(run, output_schema, bucket_state,
                                    output_mode, GroupStateTimeout.NoTimeout))


def running_fold_stream(df: DataFrame, *, key_cols: list[str], value_col: str,
                        order_col: str, fold_fn: Callable[[Any, Any], Any],
                        init: Any, output_schema: str,
                        state_schema: str = "acc double",
                        output_mode: str = "append") -> DataFrame:
    """Streaming Fold: emits the accumulator after EVERY element, keyed.

    Output rows = input rows (one per element, with ``acc`` column),
    matching the reference's per-element emission. The accumulator
    (``state_schema``, one field) persists in the state store across
    micro-batches, in the key's state bucket (``_bucketed_state``).

    A key's rows of one micro-batch fold in ``order_col`` order as ONE
    sorted run (per-chunk sorting would fold interleaved ``order_col``
    values out of order whenever a key's rows span >1 Arrow chunk).
    """

    return _bucketed_state(df, key_cols=key_cols, order_cols=[order_col],
                           state_schema=state_schema,
                           step=_fold_step(fold_fn, init, value_col,
                                           output_schema),
                           output_schema=output_schema,
                           output_mode=output_mode)


def global_fold_stream(df: DataFrame, *, value_col: str, order_col: str,
                       fold_fn: Callable[[Any, Any], Any], init: Any,
                       output_schema: str, state_schema: str = "acc string",
                       output_mode: str = "append") -> DataFrame:
    """The reference's EXACT Fold contract — one globally-ordered
    accumulator over the whole stream (flow/fold.go:83-90; its golden
    fold_test.go:38-39 concatenates "1","12","123",... in arrival
    order). A distributed engine can only provide this by folding ALL
    rows under ONE key, so this wrapper is explicitly RATE-BOUNDED: one
    state-store partition does every fold step (fine for the reference's
    single-goroutine use cases — control channels, small totals; wrong
    for fact-sized streams, where the per-key ``running_fold_stream``
    is the scalable contract). The constant key is added and dropped
    here so callers see the reference's shape: elements in, per-element
    accumulator emissions out, ordered by ``order_col``.
    """
    keyed = df.withColumn("__gk", F.lit(1))
    out = running_fold_stream(
        keyed, key_cols=["__gk"], value_col=value_col, order_col=order_col,
        fold_fn=fold_fn, init=init,
        output_schema="__gk int, " + output_schema,
        state_schema=state_schema, output_mode=output_mode)
    return out.drop("__gk")


def count_or_time_batch_stream(df: DataFrame, *, key_cols: list[str],
                               value_col: str, max_size: int,
                               interval_ms: int, output_schema: str,
                               output_mode: str = "append") -> DataFrame:
    """Streaming Batch: flush buffered elements as an array when the
    buffer reaches ``max_size`` OR ``interval_ms`` of processing time
    elapses — whichever first (flow/batch.go:86-112; timer resets on
    size-flush, flow/batch.go:92-96). Residual buffer flushes on timeout,
    matching flush-on-close for AvailableNow runs.

    Output rows: (key..., batch array<...>, batch_size, reason).

    Run with a ``processingTime`` trigger and stop explicitly: with
    ``Trigger.AvailableNow`` Spark keeps cycling the "no new data but
    cleaning up state" phase forever when processing-time timeouts are
    registered, so the query never self-terminates (observed on Spark
    4.1; the size/time flushes themselves are all emitted correctly).

    Timer parity with the reference's ticker (flow/batch.go:86-96):
    the reference calls ``ticker.Reset(interval)`` after EVERY received
    element, so its time-flush deadline slides with input. The
    GroupState API clears a key's timeout on every invocation, so this
    operator re-arms the interval whenever new rows arrive — the same
    sliding deadline, at micro-batch rather than per-element
    granularity (indistinguishable: a micro-batch's elements arrive
    together, so only the last element's reset matters).
    """

    def batcher(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        buf: list = list(state.get[0]) if state.exists else []
        out_batches: list[tuple] = []
        for pdf in pdfs:
            for v in pdf[value_col]:
                buf.append(v)
                if len(buf) >= max_size:
                    out_batches.append((buf, "size"))
                    buf = []
        if state.hasTimedOut and buf:
            out_batches.append((buf, "time"))
            buf = []
        if buf:
            # keep state + a single pending timer for the residual buffer
            state.update((buf,))
            state.setTimeoutDuration(interval_ms)
        elif state.exists:
            # empty buffer: drop state AND timer so AvailableNow runs can
            # terminate (a re-registered timer loops the cleanup phase
            # forever); next element re-creates both
            state.remove()
        if out_batches:
            yield pd.DataFrame({
                **{k: [key[i]] * len(out_batches) for i, k in enumerate(key_cols)},
                "batch": [b for b, _ in out_batches],
                "batch_size": [len(b) for b, _ in out_batches],
                "reason": [r for _, r in out_batches],
            })

    return (df.groupBy(*key_cols)
            .applyInPandasWithState(batcher, output_schema,
                                    "buf array<double>", output_mode,
                                    GroupStateTimeout.ProcessingTimeTimeout))


def heavy_hitters_stream(df: DataFrame, *, item_col: str,
                         capacity: int = 16, num_buckets: int = 8,
                         output_mode: str = "update") -> DataFrame:
    """Streaming heavy hitters (SpaceSaving, Metwally et al. 2005) with
    BOUNDED state — the trending-topics/top-k operator the reference
    cannot express (its windows buffer raw elements; this keeps exactly
    ``capacity`` counters per bucket forever, regardless of stream
    volume).

    Sharding: items hash to one of ``num_buckets`` state keys, so each
    distinct item lives in exactly ONE bucket — emitting the union of
    per-bucket counters is a correct global sketch (no double count),
    and state scales horizontally like any keyed stream. Per batch and
    bucket the classic update runs over the batch's item counts: tracked
    item += c; room left -> new counter (error 0); else evict the min
    counter (count = min + c, error = min). Emits every tracked counter
    each batch: (bucket, item, cnt, err) with the SpaceSaving guarantee
    true_count <= cnt and cnt - err <= true_count; any item with true
    frequency above the bucket's min counter is guaranteed tracked.
    Downstream global top-k = orderBy(cnt desc) limit k over the last
    emission — counter-grain data, volume-independent.
    """
    if capacity < 1 or num_buckets < 1:
        raise ValueError("capacity and num_buckets must be >= 1")
    keyed = df.select(_bucket([item_col], num_buckets).alias("__bucket"),
                      F.col(item_col).cast("string").alias("__item"))

    def _update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.exists:
            items, counts, errors = state.get
            track = {i: [c, e] for i, c, e in zip(items, counts, errors)}
        else:
            track = {}
        _spacesaving_ingest(track, pdfs, capacity)
        items = sorted(track)
        state.update((items,
                      [track[i][0] for i in items],
                      [track[i][1] for i in items]))
        yield _hh_frame(key[0], track)

    return (keyed.groupBy("__bucket")
            .applyInPandasWithState(
                _update,
                "bucket int, item string, cnt long, err long",
                "items array<string>, counts array<long>, errors array<long>",
                output_mode, GroupStateTimeout.NoTimeout))


def _spacesaving_ingest(track: dict, pdfs, capacity: int) -> None:
    """The classic SpaceSaving update over a micro-batch's per-item
    counts, in place on ``track`` (item -> [count, error]): a tracked
    item adds its count; a new item takes a free counter (error 0) or
    evicts the smallest (count = min + c, error = min; ties break on
    the item so the eviction is deterministic)."""
    for pdf in pdfs:
        for item, c in pdf["__item"].value_counts().items():
            c = int(c)
            if item in track:
                track[item][0] += c
            elif len(track) < capacity:
                track[item] = [c, 0]
            else:
                evict = min(track, key=lambda t: (track[t][0], t))
                floor = track.pop(evict)[0]
                track[item] = [floor + c, floor]


def _hh_frame(bucket_key, track: dict) -> pd.DataFrame:
    items = sorted(track)
    return pd.DataFrame({
        "bucket": [bucket_key] * len(items),
        "item": items,
        "cnt": [track[i][0] for i in items],
        "err": [track[i][1] for i in items],
    })


def cep_stream(df: DataFrame, *, pattern: str, symbols: dict[str, str],
               user_col: str = "user_id", ts_col: str = "ts",
               type_col: str = "event_type", tiebreak_col: str = "event_id",
               gap_seconds: int = 1800, default_symbol: str = "x",
               close_on_timeout: bool = True,
               output_mode: str = "append") -> DataFrame:
    """Streaming CEP: the event-pattern matcher of
    ``functions.cep.event_pattern_matches`` as an incremental stateful
    operator (batch parity test-pinned).

    State per user = the OPEN session's (epoch, tiebreak, symbol)
    buffer plus the next session id — bounded by open-session length,
    never stream length. A session closes when (a) a newer event
    arrives more than ``gap_seconds`` later (gap-break, possibly within
    one micro-batch) or (b) the event-time timeout fires ``gap_seconds``
    past the watermark with no new events. Each closed session emits at
    most one row — (user, sid, seq, n_matches, first_match), matched
    sessions only — exactly once in append mode, so downstream sinks
    are replay-safe.

    Late events inside the watermark re-sort into the open buffer
    (per-key order restored before matching); events later than the
    closed session are the watermark contract's loss, same as every
    windowed operator here.

    ``close_on_timeout=False`` disables (b): sessions then close ONLY
    on gap-breaks, so over a bounded replay the emitted set is exactly
    "every session except each user's last" — a deterministic contract
    independent of watermark/timeout tie-breaking, which is what the
    oracle-checked registry query pins. Production streams keep the
    default (state must not outlive idle users).
    """
    import re as _re

    from ..functions.cep import validate_pattern, validate_symbols
    validate_pattern(pattern)
    validate_symbols(symbols)
    if len(default_symbol) != 1:
        raise ValueError("default_symbol must be a single char")
    if gap_seconds < 1:
        raise ValueError(f"gap_seconds must be >= 1, got {gap_seconds}")
    rx = _re.compile(pattern)
    symmap = dict(symbols)
    ktype = dict(df.dtypes)[user_col]
    out_schema = (f"{user_col} {ktype}, sid long, seq string, "
                  "n_matches long, first_match string")
    # epochs = int64 NANOSECONDS: ordering uses full resolution (the
    # batch matcher's orderBy(ts, tiebreak)), while gap-breaks compare
    # FLOOR-SECOND deltas (ns // 1e9 — the batch sessionize's
    # cast(timestamp as long)); float fractional seconds here once
    # broke batch/stream parity for sub-second timestamps
    state_schema = "epochs array<bigint>, ties array<bigint>, syms string, sid bigint"

    def _row(key, sid: int, syms: str):
        hits = [m.group(0) for m in rx.finditer(syms)]
        if not hits:
            return None
        return pd.DataFrame({user_col: [key[0]], "sid": [sid],
                             "seq": [syms], "n_matches": [len(hits)],
                             "first_match": [hits[0]]})

    def fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            epochs, ties, syms, sid = state.get
            state.remove()
            out = _row(key, sid, syms)
            if out is not None:
                yield out
            return
        if state.exists:
            epochs, ties, syms, sid = state.get
            buf = list(zip(epochs, ties, syms))
        else:
            buf, sid = [], 1
        buf = _cep_ingest(buf, pdfs, ts_col=ts_col,
                          tiebreak_col=tiebreak_col, type_col=type_col,
                          symmap=symmap, default_symbol=default_symbol)
        if not buf:
            return
        closed, open_buf = _cep_gap_close(buf, gap_seconds)
        for syms_closed in closed:
            out = _row(key, sid, syms_closed)
            sid += 1
            if out is not None:
                yield out
        state.update(([b[0] for b in open_buf],
                      [b[1] for b in open_buf],
                      "".join(b[2] for b in open_buf), sid))
        if close_on_timeout:
            # close the open session once the watermark passes last+gap;
            # the timeout must sit strictly beyond the current watermark
            deadline_ms = (open_buf[-1][0] // 1_000_000_000
                           + gap_seconds) * 1000 + 1
            state.setTimeoutTimestamp(
                max(deadline_ms, state.getCurrentWatermarkMs() + 1))

    src = _cep_source(df, ts_col, gap_seconds)
    return (src.groupBy(user_col)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    output_mode,
                                    GroupStateTimeout.EventTimeTimeout))


def _cep_source(df: DataFrame, ts_col: str, gap_seconds: int) -> DataFrame:
    # watermarks require TIMESTAMP; NTZ events cast through the session
    # clock (queries pin it to UTC), matching the batch matcher's cast
    return (df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
            .withWatermark(ts_col, f"{gap_seconds} seconds"))


def _cep_ingest(buf: list, pdfs, *, ts_col: str, tiebreak_col: str,
                type_col: str, symmap: dict, default_symbol: str) -> list:
    """Append (int64-ns epoch, tiebreak, symbol) triples from a
    micro-batch to the open-session buffer; types outside ``symmap``
    map to ``default_symbol``."""
    for pdf in pdfs:
        if pdf.empty:
            continue
        ser = pd.to_datetime(pdf[ts_col])
        if getattr(ser.dt, "tz", None) is not None:
            # tz-aware arrives as UTC instants; strip to naive UTC
            ser = ser.dt.tz_convert("UTC").dt.tz_localize(None)
        ep = ser.astype("datetime64[ns]").astype("int64")
        for e, t, ty in zip(ep, pdf[tiebreak_col], pdf[type_col]):
            buf.append((int(e), int(t), symmap.get(ty, default_symbol)))
    return buf


def _cep_gap_close(buf: list, gap_seconds: int) -> tuple[list, list]:
    """Sort the buffer by (ns, tiebreak) and split on FLOOR-SECOND gap
    breaks (the batch sessionize convention): returns (closed session
    symbol strings in order, open buffer)."""
    buf.sort(key=lambda x: (x[0], x[1]))
    closed, cur_start = [], 0
    for i in range(1, len(buf)):
        if (buf[i][0] // 1_000_000_000
                - buf[i - 1][0] // 1_000_000_000) > gap_seconds:
            closed.append("".join(b[2] for b in buf[cur_start:i]))
            cur_start = i
    return closed, buf[cur_start:]


def token_bucket_stream(df: DataFrame, *, rate_micro_per_sec: int,
                        burst_micro: int, cost_micro: int = 1_000_000,
                        key_col: str = "user_id", ts_col: str = "ts",
                        tiebreak_col: str = "event_id",
                        output_mode: str = "append") -> DataFrame:
    """Streaming twin of ``operators.throttle.token_bucket_admit``:
    the per-key bucket (integer micro-tokens, last-seen second, null
    before the key's first event) persists in the state store across
    micro-batches, so the admission decisions over a stream equal the
    batch fold over the same rows (parity test-pinned). State is two
    longs per key, kept in the key's state bucket (``_bucketed_state``).

    Ordering contract: a key's rows of one micro-batch sort by
    (ts, tiebreak) as one run; cross-batch order is the source's (the
    usual per-key micro-batch contract, same as running_fold_stream).
    The bucket refills by whole elapsed seconds, capped at
    ``burst_micro``, and a row is admitted while ``cost_micro`` tokens
    remain. Emits every input row plus (admitted, tokens_after_micro).
    """
    step, out_schema = _token_bucket(df, rate_micro_per_sec, burst_micro,
                                     cost_micro, ts_col)
    return _bucketed_state(df, key_cols=[key_col],
                           order_cols=[ts_col, tiebreak_col],
                           state_schema="tokens bigint, last_sec bigint",
                           step=step, output_schema=out_schema,
                           output_mode=output_mode)


def holt_winters_stream(df: DataFrame, *, key_col: str, hour_col: str,
                        value_col: str, period: int = 24) -> DataFrame:
    """Streaming Holt-Winters (additive) — the stateful twin of
    operators/aggregate.py::holt_winters_additive, fusing the hourly
    close and the forecast fold into ONE state pass: per key the state
    carries the OPEN grid slot (its epoch-ns, null when none is open,
    and partial sum) plus the model (init buffer, then l/b + the m-slot
    seasonal vector, all exact int64), in the key's state bucket
    (``_bucketed_state``); a slot closes when a later-slot row arrives,
    feeds the fold, and (past the first-season init) emits its
    (level, trend, seasonal) row. The final open slot never closes —
    the append-mode final-window hold every streaming window op here
    documents — so batch parity is exactly "batch output minus each
    key's last hour", which is what the gate oracle replays.

    Arrival-order contract: a key's rows of one micro-batch are folded
    in (hour) order as ONE sorted run (a per-chunk sort would let
    interleaved hours across chunks close slots early and silently
    corrupt the model) — and batches must not regress across batches
    for a key (the running_fold_stream contract; late slot rows after
    close would need a watermark + retraction, which this integer fold
    deliberately does not attempt). State is m + O(1) longs per key;
    pre-1970 (negative epoch-ns) hours are ordinary slot values.
    """
    if period < 2:
        raise ValueError("holt_winters_stream: period must be >= 2")

    def step(key, rows, state):
        cur, hsum, buf, lv, tr, sea = state or (None, 0, [], 0, 0, [])
        model, outs = (list(buf), lv, tr, list(sea)), []
        hours = rows[hour_col].astype("datetime64[ns]").view("int64")
        for h, y in zip(hours.tolist(), rows[value_col].tolist()):
            y = int(y)
            if cur is None:
                cur, hsum = h, y
            elif h == cur:
                hsum += y
            else:
                model, fed = _hw_feed(model, hsum, period)
                if fed is not None:
                    outs.append((cur, hsum, *fed[1:]))
                cur, hsum = h, y
        state = (cur, hsum, *model)
        if not outs:
            return state, None
        hour, *fit = (list(c) for c in zip(*outs))
        return state, {key_col: np.repeat(rows[key_col][:1], len(outs)),
                       "hour": np.array(hour, dtype="datetime64[ns]"),
                       **dict(zip(("y_micro", "level", "trend", "seasonal"),
                                  fit))}

    key_type = dict(df.dtypes)[key_col]
    out_schema = (f"{key_col} {key_type}, hour timestamp, y_micro long, "
                  "level long, trend long, seasonal long")
    return _bucketed_state(
        df, key_cols=[key_col], order_cols=[hour_col],
        state_schema=("cur_ns long, hsum long, buf array<long>, l long, "
                      "b long, sea array<long>"),
        step=step, output_schema=out_schema)
