"""The three workloads. Each is a closed loop: one caller in one driver
thread, every call starting after the previous one returned.
BENCHMARK.json lists ``stream_microbatch`` and ``curation_suite``;
``ops_chain`` runs by hand (a run costs a cold JVM and its warm-up, and
the listed two already take most of the benchmark's time budget).

A workload supplies three steps, driven by ``run.py``:

- ``prepare``: write the seeded inputs and, where they need nothing from
  the run, their expected outputs from DuckDB (before the session
  starts, so this is in no metric);
- ``warm``: untimed passes that pay JIT, codegen and Python-worker
  start-up, and check outputs against the expected ones;
- ``run_pass``: one timed pass, returning every call as ``(kind,
  seconds, input rows)``, the CPU seconds of each call (or stream lane)
  as ``(kind, CPU seconds, input rows)``, and the layer-specific detail.

``pass_s`` is a workload's nominal pass time on a 4-core host: a run
makes ``round(seconds / pass_s)`` timed passes (at least one), so every
run measures the same work at the same point of JIT warm-up. At the
run time BENCHMARK.json gives, both listed workloads make three.
"""

from __future__ import annotations

import glob
import operator
import os
import shutil
import statistics
import time
from datetime import datetime

from pyspark.sql import functions as F

import checks
import gen
from go_streams_spark.api import Sink, Source
from go_streams_spark.operators import (Filter, Map, running_fold, session_window,
                                        sliding_window, tumbling_window)
from go_streams_spark.queries import ORACLE, QUERIES
from go_streams_spark.sinks import noop_sink_batch
from go_streams_spark.streaming import (file_stream_source, memory_sink, noop_sink,
                                        running_fold_stream, state_sized_partitions)

COLLECT = Sink(lambda df: df.toPandas(), name="collect")
PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
          "commitOffsets")


def _agg():
    return F.count(F.lit(1)).alias("n"), F.sum("value").alias("v")


def _project_filter():
    return [Map({"event_id": "event_id", "ts": "ts", "user_id": "user_id",
                 "event_type": "event_type", "value": "value * 2"}),
            Filter("event_type <> 'error'")]


def ops_chains() -> dict[str, list]:
    """The four batch chains: Map->Filter->keyed tumbling window, keyed
    sliding window, keyed session window, per-key running fold."""
    return {
        "tumbling": _project_filter()
        + [tumbling_window("ts", "5 minutes", *_agg(), keys=["user_id"])],
        "sliding": [sliding_window("ts", "10 minutes", "5 minutes", *_agg(),
                                   keys=["user_id"])],
        "session": [session_window("ts", "5 minutes", *_agg(), keys=["user_id"])],
        "fold": [running_fold("value", 0.0, order_by=["ts", "event_id"],
                              partition_by=["user_id"])],
    }


OPS_DIGEST = {"tumbling": ["user_id", "n", "v", "window_start", "window_end"],
              "sliding": ["user_id", "n", "v", "window_start", "window_end"],
              "session": ["user_id", "n", "v", "window_start", "window_end"],
              "fold": ["user_id", "acc"]}


def build(run, df, flows, name: str):
    """Compose a chain through the ``api`` layer, timed as a span."""
    t0 = time.perf_counter()
    with run.tracer.span(f"api.build.{name}"):
        src = Source(df, name=name)
        for flow in flows:
            src = src.via(flow)
    run.api_build_s += time.perf_counter() - t0
    return src


class OpsChain:
    """Batch operator chains over seeded events (``operators`` layer)."""

    name = "ops_chain"
    events = 1_200_000
    pass_s = 3.5
    warm_passes = 1

    def prepare(self, run):
        spec = gen.EventSpec(n=self.events, files=8)
        gen.write_events(run.seed, spec, run.path("events"))
        self.expected = checks.ops_expected(os.path.join(run.path("events"), "*.parquet"))

    def run_pass(self, run):
        df = run.spark.read.parquet(run.path("events"))
        calls, cpu, detail = [], [], {}
        for name, flows in ops_chains().items():
            with run.tracer.span(f"operators.{name}", counters=True) as attrs:
                c0, t0 = run.cpu_s(), time.perf_counter()
                src = build(run, df, flows, name)
                run.timed_action(lambda: src.to(noop_sink_batch()))
                calls.append((name, time.perf_counter() - t0, self.events))
                cpu.append((name, run.cpu_s() - c0, self.events))
            detail.update(_layer_detail(f"operators.{name}", calls[-1][1], attrs))
        return calls, cpu, detail

    def warm(self, run):
        """A checking pass (each chain ends in a digest aggregate instead
        of the noop sink), then noop passes: JIT keeps improving over
        the first full-size passes."""
        df = run.spark.read.parquet(run.path("events"))
        for name, flows in ops_chains().items():
            got = checks.spark_digest(build(run, df, flows, name).to_df(), OPS_DIGEST[name])
            run.record_check(f"{name} digest", checks.same_digest(got, self.expected[name]),
                             f"spark={got} duckdb={self.expected[name]}")
        for _ in range(self.warm_passes):
            self.run_pass(run)

    def baseline_one_core(self, run):
        """One ``local[1]`` pass over the same events, after a warm pass."""
        run.restart_session(cores=1)
        self.run_pass(run)
        calls, _, _ = self.run_pass(run)
        pass_s = sum(s for _, s, _ in calls)
        return {"operators.local1.cores": 1,
                "operators.local1.rows_per_s": sum(n for *_, n in calls) / pass_s,
                "operators.local1.pass_s": pass_s}


def _layer_detail(prefix: str, wall_s: float, attrs: dict) -> dict:
    out = {f"{prefix}.wall_s": wall_s}
    for k, v in attrs.items():
        out[f"{prefix}.{k}"] = v
    return out


def _await(query):
    query.awaitTermination()
    return query


def _iso_us(ts: str) -> int:
    return int(datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1_000_000)


class StreamMicrobatch:
    """Parquet file stream, one file per trigger, through the keyed
    tumbling window with a watermark (JVM state), then a smaller slice
    through the Python-state running fold (``streaming`` layer). A pass
    drains both lanes from fresh checkpoints: 8 files of 2,500 events
    through the window, 3 of 1,000 through the fold. The fold lane
    takes about 57% of a pass's CPU and costs most per row, so
    ``slowest_rows_per_cpu_s`` is its figure."""

    name = "stream_microbatch"
    files, file_events = 8, 2_500
    fold_files, fold_file_events = 3, 1000
    check_files, fold_check_files = 8, 3
    watermark, watermark_us = "2 minutes", 2 * checks.MIN
    state_partitions = 2
    pass_s = 7.0

    def prepare(self, run):
        spec = gen.EventSpec(n=self.files * self.file_events, files=self.files)
        gen.write_events(run.seed, spec, run.path("stream"))
        fold = gen.EventSpec(n=self.fold_files * self.fold_file_events, files=self.fold_files)
        gen.write_events(run.seed + 1, fold, run.path("fold"))
        fold_check = gen.EventSpec(n=self.fold_check_files * self.fold_file_events,
                                   files=self.fold_check_files)
        gen.write_events(run.seed + 3, fold_check, run.path("fold-check"))
        check = gen.EventSpec(n=self.check_files * self.file_events, files=self.check_files)
        gen.write_events(run.seed + 2, check, run.path("check"))

    def _source(self, run, path: str):
        return file_stream_source(run.spark, path, fmt="parquet", schema=self.schema,
                                  maxFilesPerTrigger=1)

    def _window(self, run, path: str, sink):
        flows = _project_filter() + [tumbling_window(
            "ts", "5 minutes", *_agg(), keys=["user_id"], watermark=self.watermark)]
        return self._drain(run, "window", lambda: build(run, self._source(run, path),
                                                        flows, "window"), sink)

    def _fold(self, run, path: str, sink):
        def make():
            src = self._source(run, path).select("user_id", "event_id", "value")
            return Source(running_fold_stream(
                src, key_cols=["user_id"], value_col="value", order_col="event_id",
                fold_fn=operator.add, init=0.0,
                output_schema="user_id long, event_id long, value double, acc double"))
        return self._drain(run, "fold", make, sink)

    def _drain(self, run, lane: str, make, sink):
        """Run one stream to the end of its backlog with a fresh,
        state-sized checkpoint; return its progress reports."""
        ckpt = run.path(f"ckpt-{lane}-{run.next_id()}")
        with run.tracer.span(f"streaming.{lane}", counters=True) as attrs:
            with state_sized_partitions(run.spark, self.state_partitions):
                run.spark.conf.set("spark.sql.streaming.checkpointLocation", ckpt)
                src = make()
                query = run.timed_action(lambda: _await(src.to(sink)))
            progress = query.recentProgress
        shutil.rmtree(ckpt, ignore_errors=True)
        self._trigger_spans(run, lane, progress)
        return progress, attrs

    def _trigger_spans(self, run, lane: str, progress):
        parent = run.tracer.current()
        for p in progress:
            start = _iso_us(p["timestamp"]) / 1e6
            total = p["durationMs"].get("triggerExecution", 0) / 1e3
            sid = run.tracer.add(f"streaming.{lane}.trigger", start, start + total,
                                 parent, batch=p["batchId"], rows=p["numInputRows"])
            t = start
            for phase in PHASES:
                d = p["durationMs"].get(phase, 0) / 1e3
                run.tracer.add(f"streaming.{lane}.{phase}", t, t + d, sid)
                t += d

    def warm(self, run):
        """Drain the check files into memory sinks and compare digests."""
        self.schema = run.spark.read.parquet(run.path("check")).schema
        check_glob = os.path.join(run.path("check"), "*.parquet")
        progress, _ = self._window(run, run.path("check"), memory_sink("pb_window"))
        wm = _iso_us(progress[-1]["eventTime"]["watermark"])
        files = sorted(glob.glob(check_glob))
        # the watermark follows the filtered rows, in milliseconds, as of
        # the last batch or the no-data batch after it
        closing = {(checks.max_ts_us(fs, "event_type <> 'error'") - self.watermark_us)
                   // 1000 * 1000 for fs in (files[:-1], files)}
        got = checks.spark_digest(run.spark.table("pb_window"), OPS_DIGEST["tumbling"])
        want = checks.stream_window_expected(check_glob, wm)
        run.record_check("stream window digest",
                         wm in closing and got[0] > 0 and checks.same_digest(got, want),
                         f"watermark={wm} spark={got} duckdb={want}")
        fold_glob = os.path.join(run.path("fold-check"), "*.parquet")
        self._fold(run, run.path("fold-check"), memory_sink("pb_fold"))
        got = checks.spark_digest(run.spark.table("pb_fold"),
                                  ["user_id", "event_id", "acc"])
        want = checks.stream_fold_expected(fold_glob)
        run.record_check("stream fold digest", checks.same_digest(got, want),
                         f"spark={got} duckdb={want}")

    def run_pass(self, run):
        calls, cpu, detail = [], [], {}
        for lane, drain in (("window", self._window), ("fold", self._fold)):
            path = run.path("stream" if lane == "window" else "fold")
            c0 = run.cpu_s()
            progress, attrs = drain(run, path, noop_sink())
            trig = [(p["durationMs"]["triggerExecution"] / 1e3, p["numInputRows"])
                    for p in progress if p["numInputRows"] > 0]
            calls += [(lane, s, n) for s, n in trig]
            cpu.append((lane, run.cpu_s() - c0, sum(n for _, n in trig)))
            detail.update(self._lane_detail(lane, progress, [s for s, _ in trig], attrs))
        return calls, cpu, detail

    @staticmethod
    def _lane_detail(lane: str, progress, trig, attrs) -> dict:
        pre = f"streaming.{lane}"
        out = {f"{pre}.triggers": len(trig),
               f"{pre}.trigger_ms": 1e3 * statistics.median(trig),
               f"{pre}.rows_per_s": sum(p["numInputRows"] for p in progress) / sum(trig)}
        for phase in PHASES:
            out[f"{pre}.{phase}_ms"] = statistics.median(
                p["durationMs"].get(phase, 0) for p in progress)
        ops = [p["stateOperators"][0] for p in progress if p["stateOperators"]]
        if ops:
            out[f"{pre}.state_rows"] = ops[-1]["numRowsTotal"]
            out[f"{pre}.state_commit_ms"] = statistics.median(o["commitTimeMs"] for o in ops)
        for k in ("wait_ms", "jobs", "tasks"):
            if k in attrs:
                out[f"{pre}.{k}"] = attrs[k]
        return out


class CurationSuite:
    """Registry curation queries over a seeded corpus (``functions`` and
    ``plans`` layers). Each query is one call: the registry builds its
    plan (driver-side loops run here), a collecting sink runs it, and
    ``release_tracked`` frees its pins. Every collected result, from the
    warm pass and from each timed pass, is checked against the query's
    registry oracle on DuckDB."""

    name = "curation_suite"
    queries = ("tokenizer_fertility_compare", "winnowing_overlap_pairs")
    docs = 5000
    pass_s = 9.0

    def prepare(self, run):
        import duckdb
        corpus = run.path("corpus")
        gen.write_documents(run.seed, self.docs, corpus)
        self.oracle = {}
        with duckdb.connect() as con:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{corpus}/documents.parquet')")
            for q in self.queries:
                sql = ORACLE[q]
                sql = sql(corpus) if callable(sql) else sql.replace("{SF_DIR}", corpus)
                self.oracle[q] = con.execute(sql).fetchdf()

    def warm(self, run):
        self.run_pass(run)

    def run_pass(self, run):
        corpus = run.path("corpus")
        calls, cpu, detail = [], [], {}
        for q in self.queries:
            with run.tracer.span(f"functions.{q}", counters=True) as attrs:
                c0, t0 = run.cpu_s(), time.perf_counter()
                with run.tracer.span(f"functions.{q}.build"):
                    df = QUERIES[q](run.spark, corpus)
                t1 = time.perf_counter()
                src = build(run, df, [], q)
                rows = run.timed_action(lambda: src.to(COLLECT))
                t2 = time.perf_counter()
                cpu.append((q, run.cpu_s() - c0, self.docs))
                run.release()
                calls.append((q, t2 - t0, self.docs))
            run.calls_build_s += t1 - t0
            why = checks.oracle_mismatch(rows, self.oracle[q])
            run.record_check(f"{q} oracle", why is None, why or "")
            detail.update(_layer_detail(f"functions.{q}", t2 - t0, attrs))
            detail[f"functions.{q}.build_s"] = t1 - t0
            detail[f"functions.{q}.action_s"] = t2 - t1
        return calls, cpu, detail


WORKLOADS = {w.name: w for w in (OpsChain, StreamMicrobatch, CurationSuite)}
