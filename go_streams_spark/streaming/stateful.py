"""Custom stateful streaming operators — the two reference semantics
Structured Streaming does not ship (SURVEY §4.2):

  1. Running Fold/Reduce with per-element emission in a stream
     (flow/fold.go:83-90, flow/reduce.go:80-91).
  2. Count-OR-time Batch (flow/batch.go:86-112): emit a batch when the
     buffer reaches max_size OR the interval elapses, whichever first.

Both build on ``applyInPandasWithState``: state is partitioned by key
(Spark's per-key state store — RocksDB-backed on a real cluster, so
state size scales horizontally), and each micro-batch processes a key's
new rows as Arrow batches.

Ordering contract: the reference is globally ordered (one goroutine);
a distributed engine can only promise per-key order. Rows are sorted by
the event-order column within each micro-batch; cross-micro-batch
reordering is bounded by the watermark. This delta is inherent and
documented (SURVEY §7 "what's hard" #1).
"""

from __future__ import annotations

from typing import Any, Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.aggregate import _tdiv


def running_fold_stream(df: DataFrame, *, key_cols: list[str], value_col: str,
                        order_col: str, fold_fn: Callable[[Any, Any], Any],
                        init: Any, output_schema: str,
                        state_schema: str = "acc double",
                        output_mode: str = "append") -> DataFrame:
    """Streaming Fold: emits the accumulator after EVERY element, keyed.

    Output rows = input rows (one per element, with ``acc`` column),
    matching the reference's per-element emission. The accumulator
    persists in the state store across micro-batches.

    The group's Arrow chunks are buffered and sorted as ONE frame per
    micro-batch (per-chunk sorting would fold interleaved ``order_col``
    values out of order whenever a key's rows span >1 chunk); the
    buffer is one micro-batch of one key — bounded by trigger size,
    never total stream volume.
    """

    out_cols = [c.strip().split(" ")[0] for c in output_schema.split(",")]

    def fold(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        acc = state.get[0] if state.exists else init
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            state.update((acc,))
            return
        allrows = (pd.concat(chunks, ignore_index=True)
                   if len(chunks) > 1 else chunks[0])
        allrows = allrows.sort_values(order_col, kind="mergesort")
        accs = []
        for v in allrows[value_col]:
            acc = fold_fn(v, acc)
            accs.append(acc)
        allrows["acc"] = accs
        state.update((acc,))
        yield allrows[out_cols]

    return (df.groupBy(*key_cols)
            .applyInPandasWithState(fold, output_schema, state_schema,
                                    output_mode, GroupStateTimeout.NoTimeout))


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
    keyed = _hh_keyed(df, item_col, num_buckets)

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

    return (keyed.groupBy("__hh_bucket")
            .applyInPandasWithState(
                _update,
                "bucket int, item string, cnt long, err long",
                "items array<string>, counts array<long>, errors array<long>",
                output_mode, GroupStateTimeout.NoTimeout))


def _hh_keyed(df: DataFrame, item_col: str, num_buckets: int) -> DataFrame:
    bucket = F.pmod(F.xxhash64(F.col(item_col)), F.lit(num_buckets)) \
        .cast("int").alias("__hh_bucket")
    return df.select(bucket, F.col(item_col).cast("string").alias("__item"))


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
    the per-key bucket (integer micro-tokens, last-seen second)
    persists in the state store across micro-batches, so the admission
    decisions over a stream equal the batch fold over the same rows
    (parity test-pinned). State is two longs per key — bounded forever.

    Ordering contract: rows sort by (ts, tiebreak) WITHIN a micro-batch;
    cross-batch order is the source's (the usual per-key micro-batch
    contract, same as running_fold_stream). Emits every input row plus
    (admitted, tokens_after_micro).
    """
    if rate_micro_per_sec < 0 or burst_micro < 1 or cost_micro < 1:
        raise ValueError(
            "need rate_micro_per_sec >= 0, burst_micro >= 1, "
            f"cost_micro >= 1; got {rate_micro_per_sec}/{burst_micro}/"
            f"{cost_micro}")
    cols = df.columns
    out_schema = ", ".join(
        f"{n} {t}" for n, t in df.dtypes) + ", admitted boolean, " \
        "tokens_after_micro bigint"
    state_schema = "tokens bigint, last_sec bigint"

    def fold(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        tokens, last = (state.get if state.exists
                        else (burst_micro, None))
        if last is not None and last < 0:
            last = None  # sentinel for "no event seen yet"
        for pdf in pdfs:
            if pdf.empty:
                continue
            out, tokens, last = _token_bucket_apply(
                pdf, cols, ts_col=ts_col, tiebreak_col=tiebreak_col,
                tokens=tokens, last=last,
                rate_micro_per_sec=rate_micro_per_sec,
                burst_micro=burst_micro, cost_micro=cost_micro)
            yield out
        state.update((tokens, -1 if last is None else last))

    return (df.groupBy(key_col)
            .applyInPandasWithState(fold, out_schema, state_schema,
                                    output_mode,
                                    GroupStateTimeout.NoTimeout))


def _token_bucket_apply(pdf, cols, *, ts_col: str, tiebreak_col: str,
                        tokens: int, last, rate_micro_per_sec: int,
                        burst_micro: int, cost_micro: int):
    """One micro-batch of the integer token-bucket fold: rows sorted
    by (ts, tiebreak), the bucket refilled by whole elapsed seconds and
    capped at ``burst_micro``, a row admitted while ``cost_micro``
    tokens remain. Returns (out_pdf, tokens, last)."""
    pdf = pdf.sort_values([ts_col, tiebreak_col]).copy()
    ser = pd.to_datetime(pdf[ts_col])
    if getattr(ser.dt, "tz", None) is not None:
        ser = ser.dt.tz_convert("UTC").dt.tz_localize(None)
    secs = (ser.astype("datetime64[ns]").astype("int64")
            // 1_000_000_000).tolist()
    admitted, after = [], []
    for s in secs:
        if last is not None:
            tokens = min(burst_micro,
                         tokens + (s - last) * rate_micro_per_sec)
        last = s
        if tokens >= cost_micro:
            tokens -= cost_micro
            admitted.append(True)
        else:
            admitted.append(False)
        after.append(tokens)
    pdf["admitted"] = admitted
    pdf["tokens_after_micro"] = after
    return pdf[cols + ["admitted", "tokens_after_micro"]], tokens, last


def holt_winters_stream(df: DataFrame, *, key_col: str, hour_col: str,
                        value_col: str, period: int = 24) -> DataFrame:
    """Streaming Holt-Winters (additive) — the stateful twin of
    operators/aggregate.py::holt_winters_additive, fusing the hourly
    close and the forecast fold into ONE state pass: per key the state
    carries the OPEN grid slot's partial sum plus the model
    (init buffer, then l/b + the m-slot seasonal vector, all exact
    int64); a slot closes when a later-slot row arrives, feeds the
    fold, and (past the first-season init) emits its
    (level, trend, seasonal) row. The final open slot never closes —
    the append-mode final-window hold every streaming window op here
    documents — so batch parity is exactly "batch output minus each
    key's last hour", which is what the gate oracle replays.

    Arrival-order contract: rows are processed in (hour) order within
    a micro-batch — ALL of the group's Arrow chunks are concatenated
    and sorted once before the fold (a per-chunk sort would let
    interleaved hours across chunks close slots early and silently
    corrupt the model; the buffered rows are one micro-batch of one
    key's GRID rows, so the concat is bounded by hours-per-batch, not
    event volume) — and batches must not regress across batches for a
    key (the running_fold_stream contract; late slot rows after close
    would need a watermark + retraction, which this integer fold
    deliberately does not attempt). State is m + O(1) longs per key;
    the open slot is tracked by an explicit has_open flag, so pre-1970
    (negative epoch-ns) hours are handled correctly rather than
    colliding with a -1 sentinel.
    """
    if period < 2:
        raise ValueError("holt_winters_stream: period must be >= 2")

    def fold(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.exists:
            has_open, cur_ns, hsum, buf, lv, tr, sea = state.get
            buf, sea = list(buf), list(sea)
            cur_ns = cur_ns if has_open else None
        else:
            cur_ns, hsum, buf, lv, tr, sea = None, 0, [], 0, 0, []
        outs = []

        def close_slot(hour_ns: int, y: int):
            nonlocal lv, tr
            if len(sea) < period:
                buf.append(y)
                if len(buf) == period:
                    lv0 = _tdiv(sum(buf), period)
                    lv = lv0
                    tr = 0
                    sea.extend(v - lv0 for v in buf)
                return
            s_old = sea.pop(0)
            nl = _tdiv(y - s_old + 3 * (lv + tr), 4)
            tr = _tdiv((nl - lv) + 3 * tr, 4)
            lv = nl
            ns = _tdiv((y - nl) + 3 * s_old, 4)
            sea.append(ns)
            outs.append((hour_ns, y, lv, tr, ns))

        # buffer the WHOLE group's micro-batch before folding: chunks
        # arrive in arbitrary hour order relative to each other
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            allrows = (pd.concat(chunks, ignore_index=True)
                       if len(chunks) > 1 else chunks[0])
            allrows = allrows.sort_values(hour_col, kind="mergesort")
            for h, y in zip(allrows[hour_col], allrows[value_col]):
                h_ns = int(pd.Timestamp(h).value)
                y = int(y)
                if cur_ns is None:
                    cur_ns, hsum = h_ns, y
                elif h_ns == cur_ns:
                    hsum += y
                else:
                    close_slot(cur_ns, hsum)
                    cur_ns, hsum = h_ns, y
        state.update((cur_ns is not None,
                      cur_ns if cur_ns is not None else 0,
                      hsum, buf, lv, tr, sea))
        if outs:
            yield pd.DataFrame({
                key_col: [key[0]] * len(outs),
                "hour": pd.to_datetime([o[0] for o in outs]),
                "y_micro": pd.Series([o[1] for o in outs], dtype="int64"),
                "level": pd.Series([o[2] for o in outs], dtype="int64"),
                "trend": pd.Series([o[3] for o in outs], dtype="int64"),
                "seasonal": pd.Series([o[4] for o in outs], dtype="int64")})

    key_type = dict(df.dtypes)[key_col]
    out_schema = (f"{key_col} {key_type}, hour timestamp, y_micro long, "
                  "level long, trend long, seasonal long")
    state_schema = ("has_open boolean, cur_ns long, hsum long, "
                    "buf array<long>, l long, b long, sea array<long>")
    return (df.groupBy(key_col)
            .applyInPandasWithState(fold, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout))
