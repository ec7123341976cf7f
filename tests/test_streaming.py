"""Structured Streaming assembly: file-source micro-batches through
the transform stack into foreachBatch sinks, with checkpointing
(the KCL processRecords contract, KeyspacesRecordProcessor.java:41-60)."""

from __future__ import annotations

import glob
import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from sample_keyspaces_cdc_streams_connectors_spark.streaming import (
    CdcPipeline,
    PipelineConfig,
    QueueTransport,
    memory_rows_sink,
    object_store_sink,
    queue_sink,
)
from sample_keyspaces_cdc_streams_connectors_spark.streaming.sinks import (
    materialized_view_sink,
    read_materialized_view,
)


@pytest.fixture(scope="module")
def env_parquet(spark, envelopes, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("env") / "envelopes")
    # two files -> two micro-batches under maxFilesPerTrigger=1
    envelopes.limit(200).repartition(2).write.parquet(path)
    schema = spark.read.parquet(path).schema
    return path, schema


def _run(spark, env_parquet, config, sink):
    path, schema = env_parquet
    pipe = CdcPipeline(config)
    stream = pipe.read_envelope_stream(spark, path, schema)
    assert stream.isStreaming
    q = pipe.start(stream, sink)
    q.awaitTermination(120)
    return q


def test_stream_matches_batch(spark, env_parquet, envelopes, tmp_path):
    """The streaming result equals the same transform run in batch —
    the core stream/batch unification claim."""
    cfg = PipelineConfig(
        filter_expression="metadata.stream_operation_type <> 'UNKNOWN'",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    store: list = []
    _run(spark, env_parquet, cfg, memory_rows_sink(store))
    streamed = sorted(
        r.stream_sequence_number for _, rows in store for r in rows
    )
    path, _ = env_parquet
    batch = CdcPipeline(cfg).transform(spark.read.parquet(path))
    expected = sorted(
        r.stream_sequence_number
        for r in batch.select("stream_sequence_number").collect()
    )
    assert streamed == expected
    assert len(store) >= 2  # maxFilesPerTrigger=1 -> one batch per file


def test_checkpoint_no_redelivery_on_restart(spark, env_parquet, tmp_path):
    """Restarting an exhausted stream with the same checkpoint delivers
    nothing new (offsets persisted — the DynamoDB lease-table analog)."""
    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "ckpt2"))
    store: list = []
    _run(spark, env_parquet, cfg, memory_rows_sink(store))
    first = sum(len(rows) for _, rows in store)
    assert first > 0
    store.clear()
    _run(spark, env_parquet, cfg, memory_rows_sink(store))
    assert sum(len(rows) for _, rows in store) == 0


def test_sink_failure_blocks_checkpoint(spark, env_parquet, tmp_path):
    """A throwing sink fails the query and does NOT advance the
    checkpoint; the records are redelivered on restart (at-least-once,
    KeyspacesRecordProcessor.java:48-56)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "ckpt3"))

    def bad_sink(df, bid):
        raise RuntimeError("sink down")

    path, schema = env_parquet
    pipe = CdcPipeline(cfg)
    q = pipe.start(pipe.read_envelope_stream(spark, path, schema), bad_sink)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
        raise q.exception() or AssertionError("query should have failed")

    store: list = []
    _run(spark, env_parquet, cfg, memory_rows_sink(store))
    assert sum(len(rows) for _, rows in store) > 0  # redelivered


def test_object_store_sink_partitions(spark, env_parquet, tmp_path):
    out = str(tmp_path / "objects")
    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "ckpt4"))
    _run(
        spark,
        env_parquet,
        cfg,
        object_store_sink(out, granularity="hours", output_format="json"),
    )
    part_dirs = glob.glob(f"{out}/__part=*")
    assert part_dirs, "expected time-partitioned output dirs"
    # partition values look like YYYY/MM/DD/HH (url-encoded slashes)
    sample = part_dirs[0].rsplit("__part=", 1)[1]
    assert len(sample.replace("%2F", "/").split("/")) == 4


def _counting_factory(out_dir: str, fail=lambda n: []):
    """Picklable transport factory: each send writes its bodies to one
    file named ``<entry count>-<uuid>``; ``fail(n)`` picks the failed
    indexes of an ``n``-entry send."""

    def make() -> QueueTransport:
        os.makedirs(out_dir, exist_ok=True)

        def send(batch):
            name = f"{len(batch)}-{uuid.uuid4().hex}"
            with open(os.path.join(out_dir, name), "w") as fh:
                fh.write("\n".join(m.body for m in batch) + "\n")
            return fail(len(batch))

        return QueueTransport(send_batch=send)

    return make


def test_queue_sink_chunks_of_ten(spark, envelopes, tmp_path):
    """SQS sends at most 10 messages per SendMessageBatch
    (SQSTargetMapper.java:90)."""
    from sample_keyspaces_cdc_streams_connectors_spark.operators import shape_output

    out = str(tmp_path / "sends")
    # tiny max size -> ~one record per message -> many sends per partition
    queue_sink(_counting_factory(out), max_message_size=512)(
        shape_output(envelopes.limit(200)), 0
    )
    files = glob.glob(f"{out}/*")
    sizes = [int(os.path.basename(f).split("-")[0]) for f in files]
    assert max(sizes) == 10
    assert sum(len(open(f).read().splitlines()) for f in files) == 200


def test_queue_sink_failure_classification(spark, envelopes, tmp_path):
    """Partial failures raise PartialFailureError; total failure raises
    AllItemsFailureError (PartialFailureException.java:27-47) — the
    class name reaches the driver-side error."""
    from sample_keyspaces_cdc_streams_connectors_spark.operators import shape_output

    batch = shape_output(envelopes.limit(50))

    # the first entry of every send fails; the others succeed
    fail_first = _counting_factory(str(tmp_path / "p"), lambda n: [0])
    with pytest.raises(Exception, match=r"PartialFailureError: \d+ failed"):
        queue_sink(fail_first, max_message_size=512)(batch, 0)

    fail_all = _counting_factory(str(tmp_path / "a"), lambda n: list(range(n)))
    with pytest.raises(
        Exception, match=r"AllItemsFailureError: all \d+ messages failed"
    ):
        queue_sink(fail_all, max_message_size=512)(batch, 0)


def _message_factory(out_dir: str):
    """Picklable transport factory: each send writes its message bodies
    as one JSON list, so message boundaries survive."""

    def make() -> QueueTransport:
        os.makedirs(out_dir, exist_ok=True)

        def send(batch):
            with open(os.path.join(out_dir, uuid.uuid4().hex), "w") as fh:
                json.dump([m.body for m in batch], fh)
            return []

        return QueueTransport(send_batch=send)

    return make


def _messages(out_dir: str) -> list[str]:
    return sorted(
        body for f in glob.glob(f"{out_dir}/*") for body in json.load(open(f))
    )


def test_queue_sink_byte_bound_is_utf8(spark, tmp_path):
    """The message-size bound counts UTF-8 bytes, separators included:
    a 668-byte record of 300 "é" (368 characters) goes alone under a
    1,024-byte bound, where counting characters packed three records
    into a 2,006-byte message."""
    rows = [("ks", f"{i:04d}", "é" * 300) for i in range(40)]
    batch = spark.createDataFrame(
        rows,
        "stream_keyspace_name string, stream_sequence_number string, v string",
    )
    out = str(tmp_path / "utf8")
    queue_sink(_message_factory(out), max_message_size=1024)(batch, 0)
    sizes = [len(body.encode("utf-8")) for body in _messages(out)]
    assert sizes == [668] * 40


def test_queue_sink_one_stage_and_replay(spark, env_parquet, tmp_path):
    """A file-sourced batch packs and sends in one Spark job of one
    stage (no exchange), and a replayed batch delivers the same
    message bodies."""
    path, schema = env_parquet
    batch = CdcPipeline(PipelineConfig()).transform(
        spark.read.schema(schema).parquet(path)
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    delivered = []
    for attempt in range(2):
        out = str(tmp_path / f"replay{attempt}")
        group = f"queue-sink-plan-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "queue sink plan shape")
        try:
            queue_sink(_message_factory(out), max_message_size=4096)(batch, 0)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = tracker.getJobIdsForGroup(group)
        assert len(jobs) == 1
        assert len(tracker.getJobInfo(jobs[0]).stageIds) == 1
        delivered.append(_messages(out))
    assert delivered[0] == delivered[1]
    recs = [json.loads(r) for body in delivered[0] for r in body.split("\n")]
    assert len(recs) == 200
    assert len({r["stream_sequence_number"] for r in recs}) == 200


def test_watermark_windowed_stream_matches_batch(spark, sf_dir, tmp_path):
    """Real event-time streaming: readStream + withWatermark + tumbling
    window converges (after availableNow drains) to the batch result of
    the same aggregation — the claim queries/streaming.py makes."""
    from pyspark.sql import functions as F

    from sample_keyspaces_cdc_streams_connectors_spark.sources import load_table

    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").limit(500)
    src = str(tmp_path / "events_src")
    # three event-time-ordered chunks written sequentially (increasing
    # mtime -> FileStreamSource replays them in order), so the
    # watermark never drops records and append-mode windows close with
    # their exact final counts.
    chunked = ev.withColumn("__c", F.ntile(3).over(W.orderBy("ts", "event_id")))
    for c in (1, 2, 3):
        chunked.filter(F.col("__c") == c).drop("__c").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    schema = spark.read.parquet(src).schema

    def windowed(df):
        return (
            df.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("window_start"), "event_type", "n")
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        windowed(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_counts")
        .option("checkpointLocation", str(tmp_path / "ckpt_wm"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits windows the watermark has closed; drain the
    # remainder by reading the state through one more restart cycle is
    # unnecessary — compare only emitted windows against batch values.
    streamed = {
        (r.window_start, r.event_type): r.n
        for r in spark.sql("SELECT * FROM wm_counts").collect()
    }
    batch = {
        (r.window_start, r.event_type): r.n
        for r in windowed(spark.read.parquet(src)).collect()
    }
    assert streamed, "watermark should have closed at least one window"
    for key, n in streamed.items():
        assert batch[key] == n  # every emitted window is exactly right


def test_materialized_view_sink_incremental(spark, envelopes, tmp_path):
    """Streaming MV maintenance across micro-batches equals the batch
    last-writer-wins reconstruction over the full log — and deletes
    stay deleted (tombstones survive merges)."""
    from sample_keyspaces_cdc_streams_connectors_spark.operators.mv import mv_apply

    env = envelopes.limit(400)
    src = str(tmp_path / "mv_src")
    env.repartition(3).write.parquet(src)  # 3 files -> 3 micro-batches
    schema = spark.read.parquet(src).schema

    view_dir = str(tmp_path / "view")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            materialized_view_sink(
                view_dir, pk=["user_id"], fields=["event_type", "value"]
            )
        )
        .option("checkpointLocation", str(tmp_path / "mv_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r.user_id: (r.event_type, r.value)
        for r in read_materialized_view(spark, view_dir).collect()
    }
    expect = {
        r.user_id: (r.event_type, r.value)
        for r in mv_apply(
            spark.read.parquet(src),
            pk=["user_id"],
            fields=["event_type", "value"],
        ).collect()
    }
    assert got == expect
    assert expect  # non-vacuous
    # superseded versions are pruned: at most current + predecessor remain
    import os

    versions = [
        d
        for d in os.listdir(view_dir)
        if d.startswith("v") and os.path.isdir(os.path.join(view_dir, d))
    ]
    # version dirs are bounded: only dirs still referenced by the
    # bucket manifest (plus one pruning generation) survive
    assert len(versions) <= 3


def test_materialized_view_untouched_buckets_not_rewritten(
    spark, envelopes, tmp_path
):
    """A batch touching one key rewrites ONLY that key's bucket: every
    other bucket's manifest path and parquet files are byte-identical
    afterwards — the O(touched) property that prevents the full-view
    compaction spiral at scale."""
    import os

    from sample_keyspaces_cdc_streams_connectors_spark.streaming.sinks import _mv_read_manifest

    view_dir = str(tmp_path / "view_inc")
    sink = materialized_view_sink(
        view_dir, pk=["user_id"], fields=["event_type", "value"],
        n_buckets=16,
    )
    env = envelopes.limit(400).cache()
    sink(env, 0)

    m1 = _mv_read_manifest(view_dir)
    assert m1, "first batch must populate the manifest"

    def file_stats(path):
        out = {}
        for root, _, files in os.walk(path):
            for f in files:
                full = os.path.join(root, f)
                st = os.stat(full)
                out[full] = (st.st_size, st.st_mtime_ns)
        return out

    stats1 = {b: file_stats(p) for b, p in m1.items()}

    # second batch: exactly one key
    one_key = env.filter(
        F.col("event_id")
        == env.select(F.min("event_id").alias("m")).first().m
    )
    assert one_key.count() == 1
    sink(one_key, 1)

    m2 = _mv_read_manifest(view_dir)
    changed = {b for b in m2 if m1.get(b) != m2[b]}
    assert len(changed) == 1, f"exactly one bucket rewritten, got {changed}"
    for b, p in m2.items():
        if b in changed:
            continue
        assert m1[b] == p  # untouched bucket: same path...
        assert file_stats(p) == stats1[b]  # ...and byte-identical files


def test_stream_stream_join_with_watermarks(spark, sf_dir, tmp_path):
    """Interval-bounded stream-stream inner join: click events join
    purchase events of the same user within +1 hour, both sides
    watermarked — state stays bounded and results equal the batch
    join."""
    from pyspark.sql import functions as F

    from sample_keyspaces_cdc_streams_connectors_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").limit(400)
    src = str(tmp_path / "ev")
    ev.coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def split(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("cu"),
            F.col("ts").alias("cts"),
            F.col("event_id").alias("cid"),
        )
        buys = df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("bu"),
            F.col("ts").alias("bts"),
            F.col("event_id").alias("bid"),
        )
        return clicks, buys

    def joined(clicks, buys, streaming):
        if streaming:
            clicks = clicks.withWatermark("cts", "2 hours")
            buys = buys.withWatermark("bts", "2 hours")
        cond = (
            (F.col("cu") == F.col("bu"))
            & (F.col("bts") >= F.col("cts"))
            & (F.col("bts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR"))
        )
        return clicks.join(buys, cond).select("cid", "bid")

    stream = spark.readStream.schema(schema).parquet(src)
    sc, sb = split(stream)
    q = (
        joined(sc, sb, streaming=True)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj")
        .option("checkpointLocation", str(tmp_path / "ck_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.cid, r.bid) for r in spark.sql("SELECT * FROM ssj").collect()
    }
    bc, bb = split(spark.read.parquet(src))
    expect = {(r.cid, r.bid) for r in joined(bc, bb, streaming=False).collect()}
    assert got == expect
    assert expect  # non-vacuous


def test_streaming_drop_duplicates_within_watermark(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark on (user_id, event_type): each key
    emits at least once, never more than batch-distinct, and state is
    evicted by the watermark."""
    from pyspark.sql import functions as F

    from sample_keyspaces_cdc_streams_connectors_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").limit(300)
    src = str(tmp_path / "ev2")
    ev.coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = (
        spark.readStream.schema(schema)
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("ddw")
        .option("checkpointLocation", str(tmp_path / "ck_ddw"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [
        (r.user_id, r.event_type)
        for r in spark.sql("SELECT user_id, event_type FROM ddw").collect()
    ]
    distinct_keys = {
        (r.user_id, r.event_type)
        for r in spark.read.parquet(src)
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert set(got) == distinct_keys  # every key surfaced
    # within one watermark span of a single file the dedup is exact
    assert len(got) == len(distinct_keys)


def test_replay_queries_leave_no_temp_views(spark, sf_dir):
    """The memory-sink replays must DROP their uuid-named temp views:
    a long-lived session invoking gate queries repeatedly would
    otherwise accrete one view per call (same leak class as the
    round-2 ngram persist)."""
    from sample_keyspaces_cdc_streams_connectors_spark.queries import load_all

    before = {t.name for t in spark.catalog.listTables()}
    reg = load_all()
    for name in (
        "stream_dedup_watermark",
        "stateful_running_stats",
        "stream_interval_join",
        "session_window_agg",
    ):
        assert reg[name].fn(spark, sf_dir).count() > 0
    after = {t.name for t in spark.catalog.listTables()}
    assert after == before, f"leaked temp views: {after - before}"
