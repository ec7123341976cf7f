"""foreachBatch sink implementations — the connector layer.

Each reference connector becomes a small ``(batch_df, batch_id)``
callable built from the shared batching operators; cloud clients are
behind injectable transports so tests run with local fakes (the
reference's Mockito seam, SQSTargetMapperTest.java:79-96, moved to
constructor injection).

Each connector has one delivery path: :func:`queue_sink` sends from
the executors and classifies failures per partition (Partial vs
AllItems, as the reference does); :func:`materialized_view_sink`
merges each batch into the stored view with the one last-writer-wins
pick in :mod:`~sample_keyspaces_cdc_streams_connectors_spark.operators.mv`.

Delivery contract: a sink exception fails the micro-batch → the
checkpoint does not advance → redelivery (at-least-once), and file
names derived from sequence ranges make redelivery idempotent —
exactly the reference's `firstSeq-lastSeq` object naming
(S3TargetMapper.java:119-176).
"""

from __future__ import annotations

import functools
import itertools
import json
import os
from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sample_keyspaces_cdc_streams_connectors_spark.operators.batching import (
    DEFAULT_MAX_MESSAGE_SIZE,
    assign_messages,
    time_partition,
)

SQS_BATCH_SIZE = 10  # SQSTargetMapper.java:90


class PartialFailureError(RuntimeError):
    """Some messages in a batch failed (PartialFailureException.java:27-47)."""

    def __init__(self, failed: int, succeeded: int):
        super().__init__(f"{failed} failed, {succeeded} succeeded")
        self.failed, self.succeeded = failed, succeeded


class AllItemsFailureError(RuntimeError):
    """Every message failed (AllItemsFailureException.java:26-46)."""


_AVRO_AVAILABLE: bool | None = None


def _avro_available(spark) -> bool:
    """The avro data source is an external Spark module; gate on a
    one-time probe (absent in this container — parquet fallback)."""
    global _AVRO_AVAILABLE
    if _AVRO_AVAILABLE is None:
        try:
            # the definitive probe is the data-source lookup Spark
            # itself performs (class-existence checks false-positive:
            # avro serde classes ship without the data source module)
            spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
                "avro", spark._jsc.sc().conf()
            )
            _AVRO_AVAILABLE = True
        except Exception:
            _AVRO_AVAILABLE = False
    return _AVRO_AVAILABLE


def object_store_sink(
    out_dir: str,
    ts_col: str = "stream_arrival_timestamp",
    granularity: str = "hours",
    output_format: str = "json",
) -> Callable[[DataFrame, int], None]:
    """S3-object-sink analog (S3TargetMapper.java:70-179): files under
    a time-partitioned path, format ``json`` | ``avro`` | ``parquet``
    (the reference default is avro, S3TargetMapper.java:70-76).

    ``avro`` writes REAL ``.avro`` object-container files: through
    the external spark-avro DataSource when present, else through the
    engine's executor-side container writer (:mod:`.avro_io` —
    validated byte-compatible with the Avro Java reader) for
    task-visible filesystem paths.  A schemed URI (s3a://, hdfs://)
    without spark-avro keeps the parquet fallback through Spark's
    Hadoop-FS writer — the engine writer opens local files and must
    not silently shadow an object-store path.

    Uses the distributed writer (no driver collect): partition path
    columns + ``partitionBy`` give `prefix/YYYY/MM/...` layout; file
    contents are the shaped records.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if output_format == "avro":
            # reference Avro value semantics (decimal-as-string,
            # date-as-int, timestamp-as-millis) apply regardless of
            # which container writer runs
            from sample_keyspaces_cdc_streams_connectors_spark.streaming.avro import to_avro_compatible

            batch_df = to_avro_compatible(batch_df)
        ts = (F.col(ts_col) / 1000).cast("timestamp")
        with_part = batch_df.withColumn(
            "__part", time_partition(ts, granularity)
        )
        if output_format == "json":
            with_part.write.mode("append").partitionBy("__part").json(
                out_dir
            )
        elif output_format == "avro":
            if _avro_available(batch_df.sparkSession):
                with_part.write.mode("append").partitionBy(
                    "__part"
                ).format("avro").save(out_dir)
            elif "://" not in out_dir:
                from sample_keyspaces_cdc_streams_connectors_spark.streaming.avro_io import write_avro_dir

                write_avro_dir(with_part, out_dir, partition_col="__part")
            else:
                # schemed URI without spark-avro: the engine writer
                # opens local files executor-side and would silently
                # write to a look-alike local path — keep the parquet
                # fallback (same self-describing-container role)
                # through Spark's Hadoop-FS writer instead
                with_part.write.mode("append").partitionBy(
                    "__part"
                ).parquet(out_dir)
        else:
            with_part.write.mode("append").partitionBy("__part").parquet(
                out_dir
            )

    return sink


@dataclass(frozen=True)
class QueueMessage:
    """One outbound queue message: the reference's
    SendMessageBatchRequestEntry analog (SQSJsonConverter.java:17-24) —
    body plus the per-entry ``delaySeconds`` stamped from the
    ``delay-seconds`` connector config (SQSTargetMapper.java:36,60)."""

    body: str
    delay_seconds: int = 0


@dataclass
class QueueTransport:
    """Injectable message transport (SQS stand-in — the SQSService
    seam).  ``send_batch`` takes a batch of :class:`QueueMessage` and
    returns the list of failed indexes (empty = all ok)."""

    send_batch: Callable[[list[QueueMessage]], list[int]]


def local_dir_transport(out_dir: str) -> QueueTransport:
    """Default local transport: each message batch lands as one
    JSON-lines file.  File names carry a per-transport unique prefix,
    so per-partition instances (the distributed sink opens one per
    partition) never collide.  delay_seconds has no local-dir
    semantics and is ignored."""
    import uuid

    os.makedirs(out_dir, exist_ok=True)
    prefix = uuid.uuid4().hex[:12]
    counter = {"n": 0}

    def send(batch: list[QueueMessage]) -> list[int]:
        path = os.path.join(
            out_dir, f"batch-{prefix}-{counter['n']:06d}.jsonl"
        )
        counter["n"] += 1
        with open(path, "a", encoding="utf-8") as fh:
            for m in batch:
                fh.write(m.body + "\n")
        return []

    return QueueTransport(send_batch=send)


def queue_sink(
    transport_factory: Callable[[], QueueTransport],
    shard_col: str = "stream_keyspace_name",
    seq_col: str = "stream_sequence_number",
    max_message_size: int = DEFAULT_MAX_MESSAGE_SIZE,
    max_records: int = -1,
    delay_seconds: int = 0,
    registry=None,
    metrics_name: str = "queue",
) -> Callable[[DataFrame, int], None]:
    """SQS-sink analog (SQSTargetMapper.java:76-155), executor-side:
    message bodies never visit the driver.  Rows serialize to JSON and
    pack into messages of about ``max_message_size`` bytes (and at
    most ``max_records`` records when positive); a message can
    overshoot the byte bound by up to one record plus its newline
    separators
    (:func:`~sample_keyspaces_cdc_streams_connectors_spark.operators.batching.assign_messages`).
    Each partition opens its own transport (the per-executor
    client-singleton pattern, S3VectorTargetMapper.java:183-190) and
    sends its messages in batches of 10 (SQSTargetMapper.java:90),
    each entry stamped with ``delay_seconds``
    (SQSTargetMapper.java:36,60 → SQSJsonConverter.java:22).

    ``transport_factory`` must be picklable and is invoked once per
    partition on the executor.  A partition sends ALL of its batches,
    counting failed entries, then classifies like the reference
    (SQSTargetMapper.java:113-155): every entry failed →
    :class:`AllItemsFailureError`, some failed →
    :class:`PartialFailureError`.  The error fails the task → Spark
    retries it → if retries exhaust, the micro-batch fails and the
    checkpoint does not advance (at-least-once).

    Pass a ``registry``
    (:class:`~sample_keyspaces_cdc_streams_connectors_spark.metrics.MetricsRegistry`)
    to count delivered messages: because the send runs through an RDD
    ``foreachPartition`` (invisible to SQL observed metrics), counts
    are gathered with Spark ACCUMULATORS — each task adds its
    partition's delivered messages/records/bytes, the driver folds the
    totals into ``sink.<metrics_name>.{messages_out,records_out,bytes_out}``
    after the action.  Note Spark re-runs of a failed task can
    double-count accumulator updates — counters here are delivery
    telemetry (like the reference's CloudWatch counts), not an exact
    ledger.
    """

    # accumulators are created ONCE per sink instance and reused
    # across micro-batches (per-batch creation leaks driver registry
    # entries on long streams); per-batch counts are value deltas
    acc: dict = {}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        payload = batch_df.withColumn(
            "__json", F.to_json(F.struct(*batch_df.columns))
        )
        messages = assign_messages(
            payload,
            shard_col=shard_col,
            seq_col=seq_col,
            size_col=F.length("__json").cast("bigint"),
            max_message_size=max_message_size,
            max_records=max_records,
        ).groupBy(shard_col, "message_idx", "message_id").agg(
            F.concat_ws("\n", F.collect_list("__json")).alias("body")
        )
        acc_msgs = acc_records = acc_bytes = None
        base = (0, 0, 0)
        if registry is not None:
            sc = batch_df.sparkSession.sparkContext
            if not acc:
                acc["msgs"] = sc.accumulator(0)
                acc["records"] = sc.accumulator(0)
                acc["bytes"] = sc.accumulator(0)
            acc_msgs, acc_records, acc_bytes = (
                acc["msgs"], acc["records"], acc["bytes"],
            )
            base = (acc_msgs.value, acc_records.value, acc_bytes.value)

        def send_partition(rows) -> None:
            entries = (QueueMessage(row.body, delay_seconds) for row in rows)
            transport = None
            total = failed = 0
            while chunk := list(itertools.islice(entries, SQS_BATCH_SIZE)):
                if transport is None:
                    transport = transport_factory()
                bad = set(transport.send_batch(chunk))
                total += len(chunk)
                failed += len(bad)
                if acc_msgs is not None:
                    ok = [m for i, m in enumerate(chunk) if i not in bad]
                    acc_msgs.add(len(ok))
                    acc_records.add(sum(m.body.count("\n") + 1 for m in ok))
                    acc_bytes.add(sum(len(m.body.encode()) for m in ok))
            if failed and failed == total:
                raise AllItemsFailureError(f"all {total} messages failed")
            if failed:
                raise PartialFailureError(failed, total - failed)

        try:
            messages.foreachPartition(send_partition)
        except Exception:
            if registry is not None:
                registry.inc(f"sink.{metrics_name}.failed_batches")
            raise
        if registry is not None:
            registry.inc(f"sink.{metrics_name}.batches")
            registry.inc(
                f"sink.{metrics_name}.messages_out",
                acc_msgs.value - base[0],
            )
            registry.inc(
                f"sink.{metrics_name}.records_out",
                acc_records.value - base[1],
            )
            registry.inc(
                f"sink.{metrics_name}.bytes_out", acc_bytes.value - base[2]
            )

    return sink


def console_sink(num_rows: int = 20) -> Callable[[DataFrame, int], None]:
    """Default/log sink (DefaultKeyspacesTargetMapper.java:31-38)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.show(num_rows, truncate=False)

    return sink


MV_MANIFEST = "_MANIFEST.json"


def _mv_read_manifest(view_dir: str) -> dict[str, str]:
    """bucket (str int) → parquet dir holding that bucket's rows."""
    path = os.path.join(view_dir, MV_MANIFEST)
    if not os.path.exists(path):
        return {}
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def _mv_version(view_dir: str, path: str) -> str:
    """Name of the version dir (``v<batch_id>``) a manifest value lives
    in: the value itself, or its parent for the ``v…/__pb=<bucket>``
    leaf dirs of views written with one subdir per bucket."""
    return os.path.relpath(path, view_dir).split(os.sep)[0]


def _mv_read_buckets(
    spark, manifest: dict[str, str], buckets, schema
) -> DataFrame | None:
    """Stored rows of ``buckets`` (None when the manifest names none).

    A version dir holds every bucket its batch touched, and a later
    batch can move some of them to a newer dir, so each manifest path
    is read keeping only the buckets the manifest maps to it: a row is
    read only from the dir the manifest names for its bucket.  Files
    are sorted by ``__bucket``, so the filter also prunes row groups.
    Reading with the stored-row ``schema`` skips footer inference."""
    by_path: dict[str, list[int]] = {}
    for b in buckets:
        if str(b) in manifest:
            by_path.setdefault(manifest[str(b)], []).append(int(b))
    frames = [
        spark.read.schema(schema)
        .parquet(path)
        .filter(F.col("__bucket").isin(wanted))
        for path, wanted in sorted(by_path.items())
    ]
    return functools.reduce(DataFrame.unionByName, frames) if frames else None


def _mv_write_version(latest: DataFrame, new_dir: str) -> None:
    """One version-directory write (module-level so tests can inject
    transient failures around the retried unit): one plain parquet dir,
    one file per write task, rows sorted by ``__bucket`` within each
    file so row-group statistics can skip other buckets.  ``overwrite``
    makes a retried half-written attempt idempotent."""
    latest.sortWithinPartitions("__bucket").write.mode("overwrite").parquet(
        new_dir
    )


def materialized_view_sink(
    view_dir: str,
    pk: Sequence[str],
    fields: Sequence[str],
    seq_col: str = "metadata.stream_sequence_number",
    n_buckets: int = 64,
    max_retries: int = 3,
    registry=None,
) -> Callable[[DataFrame, int], None]:
    """Keyspaces materialized-view sink analog
    (KeyspacesViewTargetMapper.java:81-154): maintains a parquet table
    under ``view_dir`` by merging each micro-batch of classified CDC
    envelopes with last-writer-wins semantics.

    INCREMENTAL BY BUCKET: the stored view is hash-partitioned into
    ``n_buckets`` pk-hash buckets tracked by a JSON manifest
    (bucket → parquet dir).  The batch's events become stored rows
    (:func:`~sample_keyspaces_cdc_streams_connectors_spark.operators.mv.mv_rows`);
    a batch rewrites ONLY the buckets those rows touch, merging prior
    state for the touched buckets with the batch rows through the same
    combinable last-writer-wins pick the batch rebuild uses
    (:func:`~sample_keyspaces_cdc_streams_connectors_spark.operators.mv.last_writer_wins`,
    one exchange).  The merged rows land in one new version dir
    ``v<batch_id>`` — a few files, one per write task, rows sorted by
    ``__bucket`` — and every touched bucket's manifest entry names that
    dir.  Reads keep, from each dir, only the buckets the manifest maps
    to it, so superseded rows left in older dirs are never read.
    Untouched buckets' files are never rewritten, so per-batch I/O is
    O(|touched state|), not O(|view|) — the property that keeps a
    100 TB view from the full-rewrite compaction spiral.  The manifest
    flips atomically (os.replace) after a successful write, so a failed
    batch never corrupts the readable view; replaying a batch yields
    the same winners, and a batch_id whose version dir the manifest
    already references is skipped (idempotent under at-least-once
    redelivery).  A version dir is pruned once neither the current nor
    the previous manifest names it.  Deletes stay as tombstones in the
    stored state so replays cannot resurrect deleted keys; readers
    filter them.

    The version write retries under the reference's linear MV policy
    (``sleep(10ms * attempt)`` up to ``max_retries``,
    KeyspacesViewTargetMapper.java:136-149); each re-attempt
    increments ``retry.mv_sink`` in ``registry`` (default: the
    process metrics registry → visible on ``GET /metrics``).
    """
    from sample_keyspaces_cdc_streams_connectors_spark.operators.mv import (
        last_writer_wins,
        mv_rows,
    )

    bucket_expr = F.pmod(F.hash(*pk), F.lit(n_buckets)).cast("int")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        os.makedirs(view_dir, exist_ok=True)
        manifest = _mv_read_manifest(view_dir)
        version = f"v{batch_id:06d}"
        new_dir = os.path.join(view_dir, version)
        if any(_mv_version(view_dir, p) == version for p in manifest.values()):
            # redelivery of a batch whose manifest flip already landed:
            # the same batch_id carries the same rows, and rewriting
            # would overwrite the dir the merge reads its prior from
            return

        # stored-row form: (pk, fields, __seq, __deleted, __bucket)
        rows = mv_rows(batch_df, pk, fields, seq_col).withColumn(
            "__bucket", bucket_expr
        )
        touched = sorted(
            r["__bucket"] for r in rows.select("__bucket").distinct().collect()
        )
        if not touched:
            return

        prior = _mv_read_buckets(spark, manifest, touched, rows.schema)
        if prior is not None:
            rows = prior.unionByName(rows)
        latest = last_writer_wins(rows, pk)
        # the write runs under the reference's linear MV retry policy
        # (KeyspacesViewTargetMapper.java:136-149); retries count into
        # the metrics registry as ``retry.mv_sink`` by default
        from sample_keyspaces_cdc_streams_connectors_spark.streaming.retry import with_linear_retry

        with_linear_retry(
            lambda: _mv_write_version(latest, new_dir),
            max_retries=max_retries,
            metric="retry.mv_sink",
            registry=registry,
        )()

        new_manifest = dict(manifest)
        for b in touched:
            new_manifest[str(b)] = new_dir
        tmp = os.path.join(view_dir, MV_MANIFEST + ".tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(new_manifest, fh, sort_keys=True)
        os.replace(tmp, os.path.join(view_dir, MV_MANIFEST))

        # prune version dirs no longer referenced by the current or
        # previous manifest (kept one generation for readers mid-scan)
        import shutil

        referenced = {
            _mv_version(view_dir, p)
            for p in (*new_manifest.values(), *manifest.values())
        }
        for entry in os.listdir(view_dir):
            full = os.path.join(view_dir, entry)
            if (
                entry.startswith("v")
                and os.path.isdir(full)
                and entry not in referenced
            ):
                shutil.rmtree(full, ignore_errors=True)

    return sink


def read_materialized_view(spark, view_dir: str):
    """Current view contents (tombstones filtered)."""
    manifest = _mv_read_manifest(view_dir)
    paths = sorted(set(manifest.values()))
    # one footer gives the stored-row schema for every path
    schema = spark.read.parquet(*paths[-1:]).schema
    df = _mv_read_buckets(spark, manifest, manifest.keys(), schema)
    return df.filter(~F.col("__deleted")).drop(
        "__seq", "__deleted", "__bucket"
    )


def memory_rows_sink(store: list) -> Callable[[DataFrame, int], None]:
    """Test sink: append collected rows (list of Row) per batch."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        store.append((batch_id, batch_df.collect()))

    return sink
