"""Materialized-view apply — last-writer-wins CDC reconstruction.

Reference: ``KeyspacesViewTargetMapper.handleRecords``
(KeyspacesViewTargetMapper.java:81-154) replays the CDC log against a
Cassandra table record-at-a-time: INSERT/UPDATE/REPLICATED_{INSERT,
UPDATE} bind ``newImage`` into a CQL INSERT (upsert, :113-121);
DELETE/TTL/REPLICATED_DELETE bind the primary key from ``oldImage``
into a CQL DELETE (:122-129).  Because Cassandra upserts are
last-writer-wins per primary key, the final table state is fully
determined by the *latest* event per key.

Spark-first: instead of replaying row-at-a-time, reconstruct the
final state declaratively, in two steps shared by the batch rebuild
(:func:`mv_apply`) and the incremental view sink
(``streaming.sinks.materialized_view_sink``):

* :func:`mv_rows` turns each upsert/delete event into the stored-row
  form ``pk…, fields…, __seq, __deleted`` (fields are taken out of
  the image here, before any exchange);
* :func:`last_writer_wins` keeps each key's highest-``__seq`` row with
  ``groupBy(pk).agg(max_by(struct(...), __seq))``.  Unlike the
  equivalent ``row_number() OVER (... ORDER BY seq DESC) = 1`` window,
  ``max_by`` is a combinable aggregate: every map task reduces its
  local rows to one candidate per key BEFORE the exchange, so a hot
  key that dominates the log shrinks to ~n_tasks rows in flight
  instead of funnelling every event through a single sorting task.
  At 100 TB this is a single hash-partition-by-pk exchange whose
  volume is bounded by distinct keys, not events.

Deletes win as tombstone rows (``__deleted``); :func:`mv_apply` drops
them, the view sink stores them so a stale replay cannot resurrect a
deleted key.
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

UPSERT_OPS = ("INSERT", "UPDATE", "REPLICATED_INSERT", "REPLICATED_UPDATE")
DELETE_OPS = ("DELETE", "REPLICATED_DELETE", "TTL")


def mv_rows(
    env: DataFrame,
    pk: Sequence[str],
    fields: Sequence[str],
    seq_col: str = "metadata.stream_sequence_number",
) -> DataFrame:
    """Classified CDC envelopes → stored-row form
    ``pk…, fields…, __seq, __deleted``, one row per upsert or delete
    event.

    The key binds from ``newImage`` on upserts and from ``oldImage`` on
    deletes (the reference's dispatch); ``fields`` come from
    ``newImage`` (NULL on a delete).  Events that are neither upsert-
    nor delete-class (UNKNOWN) are ignored, mirroring the reference's
    dispatch which only handles the listed ops
    (KeyspacesViewTargetMapper.java:113-133).
    """
    op = F.col("metadata.stream_operation_type")
    key_source = F.when(op.isin(*UPSERT_OPS), F.col("newImage")).otherwise(
        F.col("oldImage")
    )
    return (
        env.filter(op.isin(*UPSERT_OPS, *DELETE_OPS))
        .select(
            *[key_source.getField(k).alias(k) for k in pk],
            *[F.col("newImage").getField(f).alias(f) for f in fields],
            F.col(seq_col).alias("__seq"),
            op.isin(*DELETE_OPS).alias("__deleted"),
        )
        .filter(
            # a delete with no old image (or upsert with no new) can't
            # bind its key — the reference would NPE per record; we
            # drop.  Every component of a composite key must bind
            # (conjunction, not coalesce: isNotNull never returns NULL,
            # so a coalesce would reduce to the first component's check).
            functools.reduce(
                operator.and_, [F.col(k).isNotNull() for k in pk]
            )
        )
    )


def last_writer_wins(rows: DataFrame, pk: Sequence[str]) -> DataFrame:
    """Each ``pk``'s highest-``__seq`` row of ``rows``, columns in
    ``rows``' order — the combinable ``max_by`` pick (partial
    aggregate before the one exchange by ``pk``)."""
    values = [c for c in rows.columns if c not in pk]
    return (
        rows.groupBy(*pk)
        .agg(F.max_by(F.struct(*values), F.col("__seq")).alias("__last"))
        .select(
            *[
                F.col(c) if c in pk else F.col("__last").getField(c).alias(c)
                for c in rows.columns
            ]
        )
    )


def mv_apply(
    env: DataFrame,
    pk: Sequence[str],
    fields: Sequence[str],
    seq_col: str = "metadata.stream_sequence_number",
) -> DataFrame:
    """Reconstruct final MV state (``pk…, fields…``) from a classified
    CDC envelope log: :func:`last_writer_wins` over :func:`mv_rows`,
    minus the keys whose last event is a delete."""
    latest = last_writer_wins(mv_rows(env, pk, fields, seq_col), pk)
    return latest.filter(~F.col("__deleted")).select(*pk, *fields)
