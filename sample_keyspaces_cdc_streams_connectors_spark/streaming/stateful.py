"""Custom stateful streaming operators (``applyInPandasWithState``).

The reference keeps no user-level state — its only state is the KCL
checkpoint cursor.  An analytics engine needs keyed running state
(counters, last-image trackers) that survives across micro-batches;
Structured Streaming's ``applyInPandasWithState`` provides exactly
that: per-key GroupState on the state store, Arrow-batched user logic,
checkpoint-consistent.

Operators here follow one contract: per micro-batch they emit the
key's UPDATED running aggregate (output mode ``update``), so the final
emission per key equals the batch aggregate over the whole input —
which is how the tests pin correctness.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)


def running_event_stats(
    env: DataFrame,
    key_col: str = "user_id",
    seq_col: str = "stream_sequence_number",
) -> DataFrame:
    """Per-key running CDC stats: total events seen and the max
    sequence number so far — the streaming analog of a keyed
    ``count(*) / max(seq)`` that updates every micro-batch.

    State per key is two scalars (count, max-seq), so state-store size
    is O(distinct keys) regardless of stream length.  Input ``env``
    must be a *streaming* DataFrame with ``key_col`` and ``seq_col``
    top-level columns (shape it with ``shape_output`` first).
    """
    out_schema = StructType(
        [
            StructField("key", LongType(), False),
            StructField("n_events", LongType(), False),
            StructField("max_seq", StringType(), True),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType(), False),
            StructField("mx", StringType(), True),
        ]
    )

    def update(
        key, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        n, mx = state.get if state.exists else (0, None)
        for pdf in pdfs:
            n += len(pdf)
            batch_max = pdf[seq_col].dropna().max()
            if batch_max is not None and not pd.isna(batch_max):
                mx = batch_max if mx is None else max(mx, batch_max)
        state.update((n, mx))
        yield pd.DataFrame({"key": [key[0]], "n_events": [n], "max_seq": [mx]})

    return (
        env.select(key_col, seq_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def last_image_tracker(
    env: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    seq_col: str = "stream_sequence_number",
) -> DataFrame:
    """Streaming last-writer-wins tracker: for each key, keep the value
    from the highest-sequence record seen so far (the stateful
    streaming form of ``operators.mv.last_writer_wins``).

    Emits the key's current winner each micro-batch it changes in.
    """
    out_fields = [
        StructField(k, LongType(), True) for k in key_cols
    ] + [
        StructField("seq", StringType(), True),
        StructField("value", StringType(), True),
    ]
    out_schema = StructType(out_fields)
    state_schema = StructType(
        [
            StructField("seq", StringType(), True),
            StructField("value", StringType(), True),
        ]
    )

    def update(
        key, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        seq, val = state.get if state.exists else (None, None)
        for pdf in pdfs:
            for _, row in pdf.iterrows():
                rseq = row[seq_col]
                if seq is None or (rseq is not None and rseq > seq):
                    seq, val = rseq, row[value_col]
        state.update((seq, val))
        yield pd.DataFrame(
            {
                **{k: [key[i]] for i, k in enumerate(key_cols)},
                "seq": [seq],
                "value": [None if val is None else str(val)],
            }
        )

    return (
        env.select(*key_cols, seq_col, value_col)
        .groupBy(*key_cols)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
