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

The queue sink packs greedily, as the reference does
(:func:`pack_greedy`): it sorts each partition by (shard, sequence
number) and packs it in the same task, with no exchange and exact
bounds.  Message ids and bodies are deterministic for a given input
partitioning.

Divergence note (documented): :func:`assign_messages`, the window form
kept for the Spark-side callers that need a message index column
(sink-shape queries, document chunking, sequence packing, the Avro
path), buckets by ``floor(exclusive_running_size / max_size)`` — a
running sum without per-message reset, parallel per shard key.  It
crosses a boundary at the same multiples as greedy packing, but a
message can overshoot ``max_size`` by up to one record plus its
newline separators.  Its ids are deterministic and replayable too.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

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

    This is the window form, for callers that keep messages as a
    column; the queue sink packs with :func:`pack_greedy` instead.  The
    byte bound is not strict: a message can overshoot
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


def pack_greedy(
    records: Iterable[tuple[Any, Any, str]],
    max_message_size: int = DEFAULT_MAX_MESSAGE_SIZE,
    max_records: int = DEFAULT_MAX_RECORDS,
) -> Iterator[tuple[str, str, int, int]]:
    """Pack ``(shard, seq, body)`` records, sorted by (shard, seq), into
    messages greedily (AbstractJSONConverter.java:108-177).

    Yields ``(message_id, body, n_records, n_bytes)``: the id is
    ``firstSeq-lastSeq``, the body joins the records with ``\\n`` and
    ``n_bytes`` is its UTF-8 length.  A record starts a new message
    when the shard changes, when ``max_records`` (if positive) records
    are already in the message, or when adding it and its separator
    would take the body past ``max_message_size`` bytes; a record
    larger than the bound goes alone.
    """
    parts: list[str] = []
    shard = first = last = None
    size = 0
    for rec_shard, seq, body in records:
        n = len(body.encode("utf-8"))
        if parts and (
            rec_shard != shard
            or size + 1 + n > max_message_size
            or 0 < max_records <= len(parts)
        ):
            yield f"{first}-{last}", "\n".join(parts), len(parts), size
            parts = []
        if parts:
            size += 1 + n
        else:
            shard, first, size = rec_shard, seq, n
        parts.append(body)
        last = seq
    if parts:
        yield f"{first}-{last}", "\n".join(parts), len(parts), size


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
