"""The three workloads of the keystream benchmark.

Each drives the engine through its public streaming path and checks
what it delivered:

- ``cdc_queue``: Kinesis-shaped files -> ``parse_wire_records`` ->
  ``CdcPipeline`` (classify -> filter -> shape) -> ``queue_sink``;
- ``cdc_mv``: Kinesis-shaped files -> ``parse_wire_records`` ->
  ``classify_operation`` -> ``materialized_view_sink`` (the view sink
  consumes classified envelopes, not shaped records);
- ``corpus_ingest``: document files -> ``curation_ingest_sink`` with a
  standing exact-dedup index and a BM25 text index.

A CDC run starts its query on a few warm-up files, then takes one file
per tick from the generator at a fixed rate (open loop), then drains a
pre-written backlog (closed loop), all through the same query.
The corpus run is a backlog drain only.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))

#: workload sizes at ``--seconds 10``; file counts scale with
#: ``--seconds``.  One file is one micro-batch (the file source reads
#: one file per trigger).
PARAMS = {
    "cdc_queue": {
        "kind": "movies",
        "key_space": 1_000_000,
        "backlog_files": 8,
        "backlog_events": 5_000,  # per file
        "live_files": 10,
        "live_events": 250,
        "tick_s": 1.5,
    },
    "cdc_mv": {
        "kind": "narrow",
        "key_space": 2_000_000,
        "zipf_s": 0.7,
        "backlog_files": 5,
        "backlog_events": 1_500,
        "live_files": 4,
        "live_events": 400,
        "tick_s": 4.0,
    },
    "corpus_ingest": {
        "kind": "docs",
        "seed_docs": 100,
        "backlog_files": 2,
        "backlog_events": 100,
        "resend_share": 0.1,
        # the sink compacts at batch ids that are positive multiples of
        # this, so with two batches the second compacts both indexes
        "compact_every": 1,
        "text_buckets": 16,
    },
}

END_TO_END = {
    "setup_s": "s",
    "drain_events_per_s": "1/s",
    "batch_p50_s": "s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "peak_rss_mb": "MB",
}

#: every per-layer metric a traced run prints; a layer the workload
#: does not run reads 0 (see NOTES.md for which metric moves which)
LAYERS = {
    "session.start_s": "s",
    "session.jvm_gc_ms": "ms",
    "streaming.pipeline.trigger_ms_p50": "ms",
    "streaming.pipeline.source_ms_p50": "ms",
    "streaming.pipeline.commit_ms_p50": "ms",
    "streaming.pipeline.planning_ms_p50": "ms",
    "streaming.pipeline.batches": "count",
    "streaming.pipeline.idle_ms": "ms",
    "streaming.pipeline.backlog_files_max": "count",
    "sources.parse_ms_p50": "ms",
    "operators.transform_ms_p50": "ms",
    "operators.rows_in": "count",
    "operators.rows_out": "count",
    "operators.filter_pass_ratio": "ratio",
    "streaming.sinks.queue.batch_ms_p50": "ms",
    "streaming.sinks.queue.messages": "count",
    "streaming.sinks.queue.records": "count",
    "streaming.sinks.queue.bytes": "bytes",
    "streaming.sinks.queue.fill_ratio": "ratio",
    "streaming.sinks.queue.send_ms_total": "ms",
    "streaming.sinks.queue.send_failures": "count",
    "streaming.sinks.mv.batch_ms_p50": "ms",
    "streaming.sinks.mv.touched_bucket_ratio": "ratio",
    "streaming.sinks.mv.rewrite_amplification": "ratio",
    "streaming.sinks.mv.state_rows": "count",
    "streaming.sinks.mv.state_bytes": "bytes",
    "streaming.sinks.mv.retries": "count",
    "streaming.ingest.batch_ms_p50": "ms",
    "streaming.ingest.curate_ms_p50": "ms",
    "streaming.ingest.output_append_ms_p50": "ms",
    "streaming.ingest.ledger_ms_p50": "ms",
    "streaming.ingest.survivor_ratio": "ratio",
    "llm.dedup_index.append_ms_p50": "ms",
    "llm.dedup_index.compact_ms_p50": "ms",
    "llm.dedup_index.dup_catch_ratio": "ratio",
    "llm.retrieval.text_append_ms_p50": "ms",
    "llm.maintenance.text_compact_ms_p50": "ms",
    "llm.index_files": "count",
    "gen.late_ms_max": "ms",
    "gen.events": "count",
    "gen.files": "count",
    # the traced run's own end-to-end figures: minus the untraced
    # run's, they are the tracing overhead
    **{f"traced.{k}": u for k, u in END_TO_END.items()},
}

#: The transport's hard message bound (SQS: 256 KiB) is what the
#: check enforces.  ``assign_messages`` buckets records by their
#: exclusive running size, so a message can overshoot its setting by
#: up to one record plus the newline separators; the sink is set that
#: much below the bound.
QUEUE_MESSAGE_BOUND = 256 * 1024
QUEUE_SIZE_SETTING = QUEUE_MESSAGE_BOUND - 8 * 1024

#: warm-up files a CDC query delivers before the live phase, each the size
#: of a backlog file: the first batch compiles and starts the Python
#: workers, the second runs on a view that is not empty (``cdc_mv``)
WARM_FILES = 2


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------- schemas


def raw_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("data", T.BinaryType()),
            T.StructField("streamName", T.StringType()),
            T.StructField("partitionKey", T.StringType()),
            T.StructField("sequenceNumber", T.StringType()),
            T.StructField("approximateArrivalTimestamp", T.TimestampType()),
        ]
    )


def image_schema(kind: str):
    from pyspark.sql import types as T

    if kind == "narrow":
        return T.StructType(
            [
                T.StructField("title", T.StringType()),
                T.StructField("score", T.LongType()),
                T.StructField("label", T.StringType()),
            ]
        )
    dec = T.DecimalType(38, 18)
    return T.StructType(
        [
            T.StructField("title", T.StringType()),
            T.StructField("overview", T.StringType()),
            T.StructField("original_lang", T.StringType()),
            T.StructField("rel_date", T.DateType()),
            T.StructField("popularity", dec),
            T.StructField("vote_count", T.IntegerType()),
            T.StructField("vote_average", dec),
        ]
    )


def docs_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )


# --------------------------------------------------------------- harness


class RssSampler(threading.Thread):
    """Polls the memory the driver JVM and its Python workers hold.

    The JVM counts every memory pool (heap and non-heap) as its latest
    collection left it: what it retains, not how much garbage sits in
    the heap at the sample or how far the collector has grown the
    committed heap.  The Python daemon and workers under the JVM count
    their proportional set size, shared pages split between their
    sharers, so a forked worker is not counted twice.  Other children
    of the JVM (short-lived forks that run file-system commands) are
    not the program's memory and are skipped."""

    def __init__(self, root_pid: int, jvm=None, interval: float = 1.0):
        super().__init__(daemon=True)
        self.root_pid, self.interval = root_pid, interval
        mf = jvm.java.lang.management.ManagementFactory if jvm is not None else None
        self.collectors = list(mf.getGarbageCollectorMXBeans()) if mf is not None else []
        self.samples: list[dict] = []
        self._gc_count, self._after_gc = -1, None
        self._stop_evt = threading.Event()

    def tree(self) -> list[int]:
        """The root pid and every process under it."""
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat", encoding="utf-8") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        tree, todo = [], [self.root_pid]
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo.extend(children.get(pid, ()))
        return tree

    def jvm_after_gc(self) -> int | None:
        """Bytes in every JVM memory pool after the latest collection
        (None before the first one).  Read again only when a collection
        has run since the last read: each read is a few dozen gateway
        calls, which contend with the sink's callbacks."""
        count = sum(gc.getCollectionCount() for gc in self.collectors)
        if count == self._gc_count:
            return self._after_gc
        latest, used = None, None
        for gc in self.collectors:
            info = gc.getLastGcInfo()
            if info is not None and (latest is None or info.getEndTime() > latest):
                after = info.getMemoryUsageAfterGc()
                latest, used = info.getEndTime(), sum(after.get(k).getUsed() for k in after.keys())
        self._gc_count, self._after_gc = count, used
        return used

    def sample(self) -> None:
        snap = {}
        for pid in self.tree():
            try:
                with open(f"/proc/{pid}/comm", encoding="utf-8") as fh:
                    if not fh.read().startswith("python"):
                        continue
                with open(f"/proc/{pid}/smaps_rollup", encoding="utf-8") as fh:
                    pss_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("Pss:"))
                snap[pid] = pss_kb * 1024
            except (OSError, IndexError, ValueError, StopIteration):
                continue
        jvm = self.jvm_after_gc()
        if jvm is not None:
            snap["jvm_after_gc"] = jvm
        self.samples.append(snap)

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self.sample()


class TimedSink:
    """foreachBatch wrapper: records each sink call's start and return
    and counts failed calls; ``after`` runs traced-only bookkeeping
    outside the timed interval."""

    def __init__(self, inner, after=None):
        self.inner, self.after = inner, after
        self.batches: dict[int, tuple[float, float]] = {}
        self.failures = 0

    def __call__(self, batch_df, batch_id: int) -> None:
        t0 = time.time()
        try:
            self.inner(batch_df, batch_id)
        except Exception:
            self.failures += 1
            raise
        t1 = time.time()
        self.batches[batch_id] = (t0, t1)
        if self.after is not None:
            self.after(batch_id)


class Run:
    """One benchmark run: work dirs, generator calls, checks, metrics."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.p = PARAMS[workload]
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}

    # -- bookkeeping
    def d(self, *parts: str) -> str:
        """A path under the work dir whose parent exists."""
        path = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return path

    def dir(self, *parts: str) -> str:
        """A directory under the work dir, created."""
        path = os.path.join(self.work, *parts)
        os.makedirs(path, exist_ok=True)
        return path

    def scaled(self, key: str) -> int:
        """A file count of PARAMS, scaled from 10 s to ``--seconds``
        (at least 2)."""
        return max(2, round(self.p[key] * self.seconds / 10))

    def check(self, name: str, ok: bool, detail: str = "", weight: int = 1) -> None:
        """A correctness check; a failure counts ``weight`` failed
        operations out of ``weight`` attempted."""
        self.attempted += weight
        if not ok:
            self.failed += weight
        log(f"check {name}: {'ok' if ok else 'FAILED'} {detail}")

    def metric(self, name: str, value: float) -> None:
        self.metrics[name] = float(value)

    def layer(self, name: str, value: float) -> None:
        self.layers[name] = float(value)

    def _spec_file(self, spec: dict) -> str:
        spec.setdefault("kind", self.p["kind"])
        spec.setdefault("seed", self.seed)
        for k in ("key_space", "zipf_s", "resend_share"):
            if k in self.p:
                spec.setdefault(k, self.p[k])
        spec["log"] = self.d("gen", f"{spec['prefix']}.jsonl")
        path = self.d("gen", f"{spec['prefix']}.spec.json")
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(spec, fh)
        return path

    def gen(self, *specs: dict) -> list[list[dict]]:
        """Run the generator over ``specs`` to completion; return each
        spec's log entries."""
        paths = [self._spec_file(s) for s in specs]
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), *paths], check=True)
        return [stats.read_jsonl(s["log"]) for s in specs]

    def start_gen(self, spec: dict) -> subprocess.Popen:
        """Start the generator on one spec; its log is ``spec["log"]``."""
        path = self._spec_file(spec)
        return subprocess.Popen([sys.executable, os.path.join(HERE, "gen.py"), path])

    def result(self) -> dict:
        if self.trace:
            values, units = self.layers, LAYERS
            for name, value in self.metrics.items():
                values[f"traced.{name}"] = value
        else:
            values, units = self.metrics, END_TO_END
        return {
            "correct": self.failed == 0,
            "attempted": max(1, self.attempted),
            "failed": self.failed,
            "metrics": {k: {"value": values.get(k, 0.0), "unit": u} for k, u in units.items()},
        }


def wait_for(cond, timeout: float, query=None, poll: float = 0.02) -> bool:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if cond():
            return True
        if query is not None and not query.isActive:
            return cond()
        time.sleep(poll)
    return cond()


def jvm_gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def progress_layers(run: Run, progress: list, batch_ids: set[int], prefix: str) -> None:
    """Trigger-phase spans from ``StreamingQueryProgress``."""

    def dur(p, *keys):
        return sum(p["durationMs"].get(k, 0) for k in keys)

    rows = [p for p in progress if p["batchId"] in batch_ids and p["numInputRows"] > 0]
    if not rows:
        return
    run.layer(f"{prefix}.trigger_ms_p50", stats.median([dur(p, "triggerExecution") for p in rows]))
    run.layer(f"{prefix}.source_ms_p50", stats.median([dur(p, "latestOffset", "getBatch") for p in rows]))
    run.layer(f"{prefix}.commit_ms_p50", stats.median([dur(p, "walCommit", "commitOffsets") for p in rows]))
    run.layer(f"{prefix}.planning_ms_p50", stats.median([dur(p, "queryPlanning") for p in rows]))


# ------------------------------------------------------------ CDC workloads


class CdcWorkload:
    """Shared driver of ``cdc_queue`` and ``cdc_mv``."""

    table = "movies"

    def __init__(self, run: Run):
        self.run, self.spark = run, None
        self.kind = run.p["kind"]

    # subclass hooks
    def make_sink(self, tag: str):
        raise NotImplementedError

    def start_query(self, in_dir: str, ckpt: str, sink):
        raise NotImplementedError

    def envelopes(self, in_dir: str):
        from sample_keyspaces_cdc_streams_connectors_spark.sources.kinesis import parse_wire_records
        from sample_keyspaces_cdc_streams_connectors_spark.streaming import CdcPipeline, PipelineConfig

        raw = CdcPipeline(PipelineConfig()).read_envelope_stream(self.spark, in_dir, raw_schema())
        return parse_wire_records(raw, image_schema(self.kind), "media", self.table)

    def warm_up(self) -> None:
        """Start the measured query on the warm-up files and wait until
        it has delivered them, so the measured phases run on a running,
        warm query (and, on ``cdc_mv``, a view that is not empty)."""
        run = self.run
        self.sink = sink = TimedSink(self.make_sink("main"), after=self.after_batch if run.trace else None)
        self.query = self.start_query(run.dir("main", "in"), run.d("main", "ckpt"), sink)
        warm = wait_for(lambda: len(sink.batches) >= WARM_FILES, 120, self.query)
        if not warm or self.query.exception() is not None or sink.failures:
            self.query.stop()
            raise RuntimeError(f"warm-up failed: {len(sink.batches)}/{WARM_FILES} batches, "
                               f"{self.query.exception()}")
        self.warm_ids = set(sink.batches)

    def measure(self) -> None:
        """The live phase, then the drain, through the warm query."""
        run, p = self.run, self.run.p
        n_backlog, n_live = self.sizes()
        in_dir, staged = run.dir("main", "in"), run.dir("main", "staged")
        backlog, sink, query = self.backlog, self.sink, self.query
        ckpt = run.d("main", "ckpt")
        n_warm = len(self.warm_ids)
        try:
            spec = dict(mode="live", prefix="live", out_dir=in_dir, files=n_live,
                        events_per_file=p["live_events"], tick_s=p["tick_s"],
                        first_file=WARM_FILES)
            t_live = time.time()
            gen_proc = run.start_gen(spec)
            try:
                gen_ok = gen_proc.wait(timeout=n_live * p["tick_s"] + 60) == 0
            finally:
                if gen_proc.poll() is None:
                    gen_proc.kill()
                    gen_proc.wait()
            run.check("generator ran", gen_ok)
            live = stats.read_jsonl(spec["log"])
            done = wait_for(lambda: len(sink.batches) >= n_warm + n_live, 60, query)
            run.check("live phase completes", done, f"{len(sink.batches) - n_warm}/{n_live} batches")
            live_ids = set(sink.batches) - self.warm_ids
            # the whole backlog appears at once: renamed in, not written
            t_start = time.time()
            for e in backlog:
                os.rename(os.path.join(staged, e["file"]), os.path.join(in_dir, e["file"]))
            drained = wait_for(lambda: len(sink.batches) >= n_warm + n_live + n_backlog, 120, query)
            t_drain_end = time.time()
            run.check("drain completes", drained,
                      f"{len(sink.batches) - n_warm - n_live}/{n_backlog} batches")
        finally:
            query.stop()
            query.awaitTermination(30)
        run.check("query had no error", query.exception() is None and sink.failures == 0,
                  str(query.exception() or ""), weight=max(1, len(sink.batches)))
        progress = [json.loads(pr.json) for pr in query.recentProgress]
        files_by_batch = stats.read_file_source_log(ckpt)
        delivered = {f for b in sink.batches for f in files_by_batch.get(b, ())}
        entries = {e["file"]: e for e in self.warm + live + backlog}
        # every generated event that did not reach the sink is a failure
        lost = sum(e["events"] for f, e in entries.items() if f not in delivered)
        total = sum(e["events"] for e in entries.values())
        run.attempted += total
        run.failed += lost
        log(f"delivered {total - lost}/{total} events in {len(sink.batches)} batches")

        drain_batches = sorted(set(sink.batches) - self.warm_ids - live_ids)
        log(f"drain batch sink s: {[round(sink.batches[b][1] - sink.batches[b][0], 2) for b in drain_batches]}")
        run.metric("drain_events_per_s", stats.drain_rate(
            [sum(entries[f]["events"] for f in files_by_batch.get(b, ())) for b in drain_batches],
            [sink.batches[b][1] for b in drain_batches], t_start))
        run.metric("batch_p50_s", stats.median([sink.batches[b][1] - sink.batches[b][0] for b in drain_batches]))
        due = {e["file"]: e["due"] for e in live}
        lat = stats.batch_latencies_ms({b: sink.batches[b] for b in live_ids}, files_by_batch, due)
        if lat:
            run.metric("latency_p50_ms", stats.percentile(lat, 50))
            run.metric("latency_p90_ms", stats.percentile(lat, 90))
        run.check("latency samples", len(lat) == n_live, f"{len(lat)}/{n_live}")
        log(f"live batch latencies ms: {[round(x) for x in lat]}")

        # open-loop validity and trigger spans of the live phase
        run.layer("gen.late_ms_max", max(e["late_ms"] for e in live))
        run.layer("gen.events", total)
        run.layer("gen.files", len(entries))
        file_done = []
        for b in live_ids:
            file_done += [sink.batches[b][1]] * len(files_by_batch.get(b, ()))
        run.layer("streaming.pipeline.backlog_files_max",
                  stats.backlog_max([e["written"] for e in live], file_done))
        window = (min(e["due"] for e in live), max(sink.batches[b][1] for b in live_ids))
        busy = [(pr_start, pr_start + pr["durationMs"].get("triggerExecution", 0) / 1000.0)
                for pr in progress if pr["numInputRows"] > 0
                for pr_start in [_progress_start(pr)]]
        run.layer("streaming.pipeline.idle_ms", stats.idle_ms(window, busy))
        run.layer("streaming.pipeline.batches", len(sink.batches))
        progress_layers(run, progress, live_ids, "streaming.pipeline")
        self.files_by_batch, self.delivered, self.entries = files_by_batch, delivered, entries
        t0 = time.time()
        self.verify()
        log(f"live {t_start - t_live:.2f}s, drain {t_drain_end - t_start:.2f}s, "
            f"verify {time.time() - t0:.2f}s")
        if run.trace:
            self.trace_layers(progress)
            self.operator_probes(in_dir, sorted(delivered), [e["file"] for e in backlog[-3:]])

    def sizes(self) -> tuple[int, int]:
        """Backlog files and live ticks for ``--seconds``."""
        return self.run.scaled("backlog_files"), self.run.scaled("live_files")

    def prepare(self) -> None:
        """Pre-write the warm-up files into the query's input dir and
        the drain backlog into a staging dir beside it.  File indexes
        (and so sequence numbers) run warm-up, live, backlog."""
        run, p = self.run, self.run.p
        n_backlog, n_live = self.sizes()
        self.warm, self.backlog = run.gen(
            dict(mode="backlog", prefix="warm", out_dir=run.dir("main", "in"),
                 files=WARM_FILES, events_per_file=p["backlog_events"]),
            dict(mode="backlog", prefix="backlog", out_dir=run.dir("main", "staged"),
                 files=n_backlog, events_per_file=p["backlog_events"],
                 first_file=WARM_FILES + n_live),
        )

    def after_batch(self, batch_id: int) -> None:
        pass

    def trace_layers(self, progress: list) -> None:
        pass

    def verify(self) -> None:
        raise NotImplementedError

    def operator_probes(self, in_dir: str, files: list[str], sample: list[str]) -> None:
        """Traced run only, after the measured window: time the source
        parse and the operator stack over ``sample`` (backlog files) as
        static reads (scan, scan+parse, scan+parse+transform, each into
        the no-op sink), and count rows of ``files`` through the
        operators."""
        from sample_keyspaces_cdc_streams_connectors_spark.sources.kinesis import parse_wire_records

        sample = [os.path.join(in_dir, f) for f in sample]
        parse_ms, transform_ms = [], []
        for path in sample:
            raw = self.spark.read.schema(raw_schema()).parquet(path)
            env = parse_wire_records(raw, image_schema(self.kind), "media", self.table)
            out = self.operators(env)
            times = []
            for df in (raw, env, out):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                times.append((time.perf_counter() - t0) * 1000.0)
            parse_ms.append(max(0.0, times[1] - times[0]))
            transform_ms.append(max(0.0, times[2] - times[1]))
        self.run.layer("sources.parse_ms_p50", stats.median(parse_ms))
        self.run.layer("operators.transform_ms_p50", stats.median(transform_ms))
        allf = [os.path.join(in_dir, f) for f in files]
        env = parse_wire_records(self.spark.read.schema(raw_schema()).parquet(*allf),
                                 image_schema(self.kind), "media", self.table)
        rows_in = env.count()
        rows_out = self.operators(env).count()
        self.run.layer("operators.rows_in", rows_in)
        self.run.layer("operators.rows_out", rows_out)
        self.run.layer("operators.filter_pass_ratio", rows_out / max(1, rows_in))

    def operators(self, env):
        raise NotImplementedError


def _progress_start(pr: dict) -> float:
    from datetime import datetime

    ts = pr["timestamp"].replace("Z", "+00:00")
    return datetime.fromisoformat(ts).timestamp()


class QueueWorkload(CdcWorkload):
    """``cdc_queue``: filter about half the events, shape them in the
    ``default`` format with metadata, and deliver them through
    ``queue_sink`` (256 KiB messages) into the benchmark's transport."""

    def __init__(self, run: Run):
        super().__init__(run)
        from sample_keyspaces_cdc_streams_connectors_spark.metrics import MetricsRegistry

        self.registry = MetricsRegistry()

    def pipeline(self, ckpt: str | None):
        from gen import QUEUE_FILTER

        from sample_keyspaces_cdc_streams_connectors_spark.streaming import CdcPipeline, PipelineConfig

        return CdcPipeline(
            PipelineConfig(
                filter_expression=QUEUE_FILTER,
                record_format="default",
                include_metadata=True,
                checkpoint_dir=ckpt,
                trigger_interval="0 seconds",
            )
        )

    def make_sink(self, tag: str):
        from transport import DirTransportFactory

        from sample_keyspaces_cdc_streams_connectors_spark.streaming import queue_sink

        registry = self.registry if tag == "main" else None
        return queue_sink(
            DirTransportFactory(self.run.dir(tag, "out")),
            max_message_size=QUEUE_SIZE_SETTING,
            registry=registry,
        )

    def start_query(self, in_dir, ckpt, sink):
        return self.pipeline(ckpt).start(self.envelopes(in_dir), sink, query_name="perfbench-queue")

    def operators(self, env):
        return self.pipeline(None).transform(env)

    def verify(self) -> None:
        import duckdb

        from transport import read_stats

        run = self.run
        out_dir = run.dir("main", "out")
        expected = sum(self.entries[f]["expected_out"] for f in self.delivered)
        con = duckdb.connect(config={"temp_directory": run.dir("duckdb")})
        n, n_distinct = con.execute(
            "SELECT count(*), count(DISTINCT stream_sequence_number) FROM "
            f"read_json('{out_dir}/*.jsonl', format='newline_delimited', "
            "columns={'stream_sequence_number': 'VARCHAR'})"
        ).fetchone()
        con.close()
        run.check("queue record count", n == expected, f"{n} delivered, {expected} expected")
        run.check("queue sequence numbers unique", n == n_distinct, f"{n - n_distinct} duplicates")
        sends = read_stats(out_dir)
        sizes = [s for st in sends for s in st["sizes"]]
        oversize = sum(1 for s in sizes if s > QUEUE_MESSAGE_BOUND)
        run.check("queue message size bound", oversize == 0 and bool(sizes),
                  f"{oversize}/{len(sizes)} over bound")
        self.sends = sends

    def trace_layers(self, progress: list) -> None:
        run, reg = self.run, self.registry.snapshot()
        sink_ms = [(r - s) * 1000.0 for s, r in self.sink.batches.values()]
        run.layer("streaming.sinks.queue.batch_ms_p50", stats.median(sink_ms))
        msgs = reg.get("sink.queue.messages_out", 0)
        run.layer("streaming.sinks.queue.messages", msgs)
        run.layer("streaming.sinks.queue.records", reg.get("sink.queue.records_out", 0))
        run.layer("streaming.sinks.queue.bytes", reg.get("sink.queue.bytes_out", 0))
        run.layer("streaming.sinks.queue.fill_ratio",
                  reg.get("sink.queue.bytes_out", 0) / max(1, msgs) / QUEUE_SIZE_SETTING)
        run.layer("streaming.sinks.queue.send_ms_total", sum(s["ms"] for s in self.sends))
        run.layer("streaming.sinks.queue.send_failures", sum(s["failed"] for s in self.sends))


N_BUCKETS = 64  # materialized_view_sink's default


def parquet_rows(dirs) -> int:
    """Rows in the parquet files under ``dirs`` (footers only)."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(root, n)).metadata.num_rows
        for d in dirs for root, _dirs, names in os.walk(d) for n in names
        if n.endswith(".parquet")
    )


class MvWorkload(CdcWorkload):
    """``cdc_mv``: Zipf-keyed narrow rows merged last-writer-wins into
    ``materialized_view_sink(pk=["title"])`` with 64 buckets."""

    table = "scores"
    FIELDS = ("score", "label")

    def __init__(self, run: Run):
        super().__init__(run)
        from sample_keyspaces_cdc_streams_connectors_spark.metrics import MetricsRegistry

        self.registry = MetricsRegistry()
        self.view_dir = run.dir("main", "view")
        self.manifest: dict[str, str] = {}
        self.touched: dict[int, tuple[int, int]] = {}

    def make_sink(self, tag: str):
        from sample_keyspaces_cdc_streams_connectors_spark.streaming.sinks import materialized_view_sink

        return materialized_view_sink(
            self.run.dir(tag, "view"), pk=["title"], fields=list(self.FIELDS),
            registry=self.registry if tag == "main" else None,
        )

    def operators(self, env):
        from sample_keyspaces_cdc_streams_connectors_spark.operators import classify_operation

        return classify_operation(env)

    def start_query(self, in_dir, ckpt, sink):
        return (
            self.operators(self.envelopes(in_dir))
            .writeStream.queryName("perfbench-mv")
            .foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    def after_batch(self, batch_id: int) -> None:
        """Traced only: which buckets the batch rewrote (manifest diff)
        and how many rows it wrote, read now, before later batches
        prune the version dirs."""
        from sample_keyspaces_cdc_streams_connectors_spark.streaming.sinks import _mv_read_manifest

        cur = _mv_read_manifest(self.view_dir)
        changed = [b for b, path in cur.items() if self.manifest.get(b) != path]
        self.touched[batch_id] = (len(changed), parquet_rows([cur[b] for b in changed]))
        self.manifest = cur

    def verify(self) -> None:
        import duckdb

        from sample_keyspaces_cdc_streams_connectors_spark.streaming.sinks import read_materialized_view

        run = self.run
        got = read_materialized_view(self.spark, self.view_dir).select("title", *self.FIELDS).toPandas()
        files = [os.path.join(run.dir("main", "in"), f) for f in sorted(self.delivered)]
        con = duckdb.connect(config={"temp_directory": run.dir("duckdb")})
        con.register("got", got)
        file_list = "[" + ", ".join(f"'{f}'" for f in files) + "]"
        # last-writer-wins reference, classification per the reference
        # truth table: null origin is ignored, TTL and old-image-only
        # events delete, anything with a new image upserts
        con.execute(f"""
            CREATE TABLE ev AS
            SELECT json_extract_string(j, '$.origin') AS origin,
                   json_extract(j, '$.newImage') AS new_img,
                   json_extract(j, '$.oldImage') AS old_img,
                   seq
            FROM (SELECT decode(data) AS j, sequenceNumber AS seq
                  FROM read_parquet({file_list}))
        """)
        con.execute("""
            CREATE TABLE cls AS
            SELECT *,
                   CASE WHEN origin = 'TTL' THEN 'D'
                        WHEN (old_img IS NOT NULL AND json_type(old_img) <> 'NULL')
                         AND (new_img IS NULL OR json_type(new_img) = 'NULL') THEN 'D'
                        WHEN new_img IS NOT NULL AND json_type(new_img) <> 'NULL' THEN 'U'
                        ELSE 'X' END AS op
            FROM ev WHERE origin IS NOT NULL
        """)
        con.execute("""
            CREATE TABLE ref AS
            WITH keyed AS (
              SELECT CASE WHEN op = 'U' THEN json_extract_string(new_img, '$.title')
                          ELSE json_extract_string(old_img, '$.title') END AS title,
                     op, seq,
                     CAST(json_extract(new_img, '$.score') AS BIGINT) AS score,
                     json_extract_string(new_img, '$.label') AS label
              FROM cls WHERE op IN ('U', 'D')
            ), last AS (
              SELECT title, arg_max(op, seq) AS op, arg_max(score, seq) AS score,
                     arg_max(label, seq) AS label
              FROM keyed WHERE title IS NOT NULL GROUP BY title
            )
            SELECT title, score, label FROM last WHERE op = 'U'
        """)
        missing = con.execute(
            "SELECT count(*) FROM (SELECT * FROM ref EXCEPT SELECT title, score, label FROM got)"
        ).fetchone()[0]
        extra = con.execute(
            "SELECT count(*) FROM (SELECT title, score, label FROM got EXCEPT SELECT * FROM ref)"
        ).fetchone()[0]
        n_ref = con.execute("SELECT count(*) FROM ref").fetchone()[0]
        n_keys = con.execute("SELECT count(DISTINCT title) FROM got").fetchone()[0]
        con.close()
        run.check("mv keys unique", n_keys == len(got), f"{len(got) - n_keys} duplicate keys")
        run.check("mv equals last-writer-wins reference", missing == 0 and extra == 0 and n_ref > 0,
                  f"{n_ref} rows, {missing} missing, {extra} extra", weight=max(1, n_ref))
        self.view_rows = len(got)

    def trace_layers(self, progress: list) -> None:
        run = self.run
        sink_ms = [(r - s) * 1000.0 for s, r in self.sink.batches.values()]
        run.layer("streaming.sinks.mv.batch_ms_p50", stats.median(sink_ms))
        rows_by_batch = {pr["batchId"]: pr["numInputRows"] for pr in progress}
        touched = [n / N_BUCKETS for n, _rows in self.touched.values()]
        amp = [rows / rows_by_batch[b] for b, (_n, rows) in self.touched.items() if rows_by_batch.get(b)]
        run.layer("streaming.sinks.mv.touched_bucket_ratio", stats.median(touched))
        run.layer("streaming.sinks.mv.rewrite_amplification", stats.median(amp))
        paths = sorted(set(self.manifest.values()))
        state_bytes = sum(
            os.path.getsize(os.path.join(root, n))
            for path in paths for root, _d, names in os.walk(path) for n in names
            if n.endswith(".parquet")
        )
        run.layer("streaming.sinks.mv.state_rows", parquet_rows(paths))
        run.layer("streaming.sinks.mv.state_bytes", state_bytes)
        run.layer("streaming.sinks.mv.retries", self.registry.get("retry.mv_sink"))


# ---------------------------------------------------------- corpus ingest


class CorpusWorkload:
    """``corpus_ingest``: a backlog of documents (a fixed share exact
    re-sends) through ``curation_ingest_sink`` with standing exact-dedup
    and BM25 text indexes, both compacted inside the loop."""

    def __init__(self, run: Run):
        self.run, self.spark = run, None
        self.stage_times: dict = {}

    def prepare(self) -> None:
        """Pre-write the seed corpus and the backlog."""
        run, p = self.run, self.run.p
        n_files = run.scaled("backlog_files")
        _seed, self.backlog = run.gen(
            dict(mode="backlog", prefix="seed", out_dir=run.dir("seed"), files=1,
                 events_per_file=p["seed_docs"], first_file=0, resend_share=0.0),
            dict(mode="backlog", prefix="docs", out_dir=run.dir("main", "in"),
                 files=n_files, events_per_file=p["backlog_events"], first_file=1),
        )

    def warm_up(self) -> None:
        """Build the standing indexes over the seed corpus; the
        measured loop appends to them."""
        from sample_keyspaces_cdc_streams_connectors_spark.llm.dedup_index import build_dedup_index
        from sample_keyspaces_cdc_streams_connectors_spark.llm.retrieval import write_text_index

        seed = self.spark.read.schema(docs_schema()).parquet(self.run.dir("seed"))
        self.didx, self.tidx = self.run.d("idx", "didx"), self.run.d("idx", "tidx")
        build_dedup_index(seed, self.didx, mode="exact")
        write_text_index(seed, self.tidx, n_buckets=self.run.p["text_buckets"])

    def make_sink(self, tag: str, didx: str, tidx: str, stage_times=None):
        from sample_keyspaces_cdc_streams_connectors_spark.config import load_config
        from sample_keyspaces_cdc_streams_connectors_spark.streaming import curation_ingest_sink

        every = str(self.run.p["compact_every"])
        cfg = load_config({"keyspaces-cdc-streams": {"corpus": {
            "scrub-pii": "true",
            "dedup-index-path": didx,
            "dedup-index-compact-every": every,
            "text-index-path": tidx,
            "text-index-compact-every": every,
            "ingest-ledger-id": f"perfbench-{tag}",
        }}})
        return curation_ingest_sink(cfg, self.run.d(tag, "out"), stage_times=stage_times)

    def start_query(self, in_dir: str, ckpt: str, sink):
        return (
            self.spark.readStream.schema(docs_schema())
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
            .writeStream.queryName("perfbench-ingest")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    def measure(self) -> None:
        run, didx, tidx = self.run, self.didx, self.tidx
        self.sink = sink = TimedSink(self.make_sink("main", didx, tidx, self.stage_times if run.trace else None))
        ckpt = run.d("main", "ckpt")
        t_start = time.time()
        query = self.start_query(run.dir("main", "in"), ckpt, sink)
        query.awaitTermination(170)
        if query.isActive:
            query.stop()
        run.check("query had no error", query.exception() is None and sink.failures == 0,
                  str(query.exception() or ""), weight=max(1, len(sink.batches)))
        progress = [json.loads(pr.json) for pr in query.recentProgress]
        files_by_batch = stats.read_file_source_log(ckpt)
        delivered = {f for b in sink.batches for f in files_by_batch.get(b, ())}
        entries = {e["file"]: e for e in self.backlog}
        docs = sum(e["events"] for e in entries.values())
        lost = sum(e["events"] for f, e in entries.items() if f not in delivered)
        run.attempted += docs
        run.failed += lost
        batches = sorted(sink.batches)
        log(f"batch sink s: {[round(sink.batches[b][1] - sink.batches[b][0], 2) for b in batches]}")
        run.metric("drain_events_per_s", stats.drain_rate(
            [sum(entries[f]["events"] for f in files_by_batch.get(b, ())) for b in batches],
            [sink.batches[b][1] for b in batches], t_start))
        run.metric("batch_p50_s", stats.median([r - s for s, r in sink.batches.values()]))
        # the whole backlog is there when the query starts: a
        # document's latency is its wait in the backlog plus service
        lat = stats.batch_latencies_ms(sink.batches, files_by_batch, {f: t_start for f in entries})
        run.metric("latency_p50_ms", stats.percentile(lat, 50))
        run.metric("latency_p90_ms", stats.percentile(lat, 90))
        run.layer("gen.late_ms_max", 0.0)
        run.layer("gen.events", docs)
        run.layer("gen.files", len(entries))
        run.layer("streaming.pipeline.batches", len(sink.batches))
        progress_layers(run, progress, set(sink.batches), "streaming.pipeline")
        survivors = self.verify(entries, delivered, tidx)
        if run.trace:
            self.trace_layers(entries, delivered, survivors, didx, tidx)

    def verify(self, entries: dict, delivered: set, tidx: str) -> int:
        from sample_keyspaces_cdc_streams_connectors_spark.llm.retrieval import STATS_FILE

        run = self.run
        ids = [r[0] for r in self.spark.read.parquet(run.d("main", "out")).select("doc_id").collect()]
        expected = {i for f in delivered for i in entries[f]["fresh_ids"]}
        resent = {i for f in delivered for i in entries[f]["resent_ids"]}
        got = set(ids)
        run.check("survivors equal unique documents", got == expected and len(ids) == len(got),
                  f"{len(ids)} survivors, {len(expected)} expected", weight=max(1, len(expected)))
        run.check("re-sends suppressed", len(ids) == len(got) and resent <= got,
                  f"{len(resent)} re-sent ids, {len(ids) - len(got)} duplicates")
        with open(os.path.join(tidx, STATS_FILE), encoding="utf-8") as fh:
            n_docs = json.load(fh)["n_docs"]
        run.check("text index document count", n_docs - run.p["seed_docs"] == len(ids),
                  f"{n_docs} indexed, {run.p['seed_docs']} seed + {len(ids)} survivors")
        self.resends = sum(entries[f]["resends"] for f in delivered)
        return len(ids)

    def trace_layers(self, entries, delivered, survivors: int, didx: str, tidx: str) -> None:
        run, st = self.run, self.stage_times

        def p50(key: str) -> float:
            vals = st.get(key) or [0.0]
            return stats.median(vals) * 1000.0

        run.layer("streaming.ingest.curate_ms_p50", p50("curate_probe_checkpoint"))
        run.layer("streaming.ingest.output_append_ms_p50", p50("output_append"))
        run.layer("streaming.ingest.ledger_ms_p50", p50("ledger"))
        docs = sum(entries[f]["events"] for f in delivered)
        run.layer("streaming.ingest.survivor_ratio", survivors / max(1, docs))
        run.layer("llm.dedup_index.append_ms_p50", p50("dedup_append"))
        run.layer("llm.dedup_index.compact_ms_p50", p50("dedup_compact"))
        run.layer("llm.dedup_index.dup_catch_ratio",
                  (docs - survivors) / max(1, self.resends))
        run.layer("llm.retrieval.text_append_ms_p50", p50("text_append"))
        run.layer("llm.maintenance.text_compact_ms_p50", p50("text_compact"))
        n_files = sum(len(names) for idx in (didx, tidx) for _r, _d, names in os.walk(idx))
        run.layer("llm.index_files", n_files)
        sink_ms = [(r - s) * 1000.0 for s, r in self.sink.batches.values()]
        run.layer("streaming.ingest.batch_ms_p50", stats.median(sink_ms))


WORKLOADS = {
    "cdc_queue": QueueWorkload,
    "cdc_mv": MvWorkload,
    "corpus_ingest": CorpusWorkload,
}


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
