"""Size/count-bounded batching and time-based partitioning.

Reference behaviors:

- **Message chunking** (AbstractJSONConverter.java:108-177,
  AbstractAvroConverter.java:209-266): split a shard's record list
  into messages bounded by serialized size (``max-message-size``,
  default 256 KiB) and count (``max-records-per-message``, default
  -1 = unlimited for JSON; the Avro path omits the -1 guard so the
  default Avro config emits one record per message —
  AbstractAvroConverter.java:235).  Message id =
  ``firstSeq-lastSeq[-epochMillis]``.

- **Time partitioning** (S3TargetMapper.java:84-136): processing-time
  path ``YYYY/MM/DD/HH/mm/ss`` truncated at the configured
  granularity; object key = ``prefix/partition/firstSeq-lastSeq-ts``.

Spark-first: chunk assignment is a *window computation*, not a
driver loop — per shard (partition key), order by sequence number,
running byte total / row number, bucket index by integer division.
This is one shuffle per micro-batch and scales linearly; the actual
file split is then ``partitionBy`` + ``maxRecordsPerFile`` on write.

Divergence note (documented): the reference packs greedily (a record
starts a new message when adding it would cross the limit), which is
a running-sum-with-reset — inherently sequential.  We bucket by
``floor(exclusive_running_size / max_size)``, which crosses a
boundary at the same multiples but without per-message reset.  A
message starts while its running total is under the bound and takes
whole records, so it can overshoot ``max_size`` by up to one record
plus its newline separators; callers with a hard transport limit set
``max_size`` that much below it.  Message ids are deterministic and
replayable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_MAX_MESSAGE_SIZE = 256 * 1024  # AbstractJSONConverter.java:48
DEFAULT_MAX_RECORDS = -1  # AbstractJSONConverter.java:49

GRANULARITIES = ("years", "months", "days", "hours", "minutes", "seconds")


def assign_messages(
    df: DataFrame,
    shard_col: str,
    seq_col: str,
    size_col: Column,
    max_message_size: int = DEFAULT_MAX_MESSAGE_SIZE,
    max_records: int = DEFAULT_MAX_RECORDS,
) -> DataFrame:
    """Assign each record a ``message_id`` within its shard.

    Adds columns: ``__size`` (the record's serialized size),
    ``message_idx`` (0-based within shard), ``message_id``
    (``firstSeq-lastSeq`` of the message — the reference's
    deterministic id without the optional wallclock suffix,
    AbstractJSONConverter.java:170-176).

    The byte bound is not strict: a message can overshoot
    ``max_message_size`` by up to one record plus its newline
    separators (see the module docstring).
    """
    w = Window.partitionBy(shard_col).orderBy(seq_col)
    sized = df.withColumn("__size", size_col)
    run_excl = F.coalesce(
        F.sum("__size").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    by_size = F.floor(run_excl / F.lit(max_message_size))
    if max_records and max_records > 0:
        rn = F.row_number().over(w) - 1
        by_count = F.floor(rn / F.lit(max_records))
        # chunk on whichever bound trips more often: combine by taking
        # the pairwise max of the two monotone bucket indexes.
        idx = F.greatest(by_size, by_count)
    else:
        idx = by_size
    bucketed = sized.withColumn("message_idx", idx.cast("bigint"))
    mw = Window.partitionBy(shard_col, "message_idx")
    return bucketed.withColumn(
        "message_id",
        F.concat_ws(
            "-", F.min(seq_col).over(mw), F.max(seq_col).over(mw)
        ),
    )


def time_partition(
    ts: Column, granularity: str = "minutes", sep: str = "/"
) -> Column:
    """Partition path from a timestamp at the configured granularity —
    the S3TargetMapper.getPartitionPath fall-through switch
    (S3TargetMapper.java:88-136) as one format_string expression."""
    if granularity not in GRANULARITIES:
        raise ValueError(f"granularity must be one of {GRANULARITIES}")
    parts = [
        F.format_string("%04d", F.year(ts)),
        F.format_string("%02d", F.month(ts)),
        F.format_string("%02d", F.dayofmonth(ts)),
        F.format_string("%02d", F.hour(ts)),
        F.format_string("%02d", F.minute(ts)),
        F.format_string("%02d", F.second(ts)),
    ]
    depth = GRANULARITIES.index(granularity) + 1
    return F.concat_ws(sep, *parts[:depth])


def time_partition_columns(df: DataFrame, ts_col: str) -> DataFrame:
    """Year/month/day/hour columns for ``partitionBy`` file layout —
    the scan-efficient layout downstream consumers prune on."""
    ts = F.col(ts_col)
    return (
        df.withColumn("y", F.year(ts))
        .withColumn("m", F.month(ts))
        .withColumn("d", F.dayofmonth(ts))
        .withColumn("h", F.hour(ts))
    )
