"""Size/count-bounded message batching + time partitioning
(AbstractJSONConverter.java:108-177, S3TargetMapper.java:84-136)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sample_keyspaces_cdc_streams_connectors_spark.operators.batching import (
    assign_messages,
    pack_greedy,
    time_partition,
)


def _records(spark, n=20, size=100):
    rows = [("s1", f"{i:06d}", size) for i in range(n)]
    return spark.createDataFrame(rows, "shard string, seq string, nbytes long")


def test_size_bound(spark):
    # 20 records x 100 B, max 250 B -> floor(run/250): 2 per message
    df = assign_messages(
        _records(spark),
        shard_col="shard",
        seq_col="seq",
        size_col=F.col("nbytes"),
        max_message_size=250,
    )
    # floor(100*i/250) crosses a boundary every 250 B: buckets of 3,2,3,2...
    per_msg = df.groupBy("message_idx").count().collect()
    assert all(r["count"] <= 3 for r in per_msg)
    assert df.select("message_idx").distinct().count() == 8


def test_count_bound(spark):
    df = assign_messages(
        _records(spark),
        shard_col="shard",
        seq_col="seq",
        size_col=F.col("nbytes"),
        max_message_size=1 << 30,
        max_records=7,
    )
    counts = sorted(
        r["count"] for r in df.groupBy("message_idx").count().collect()
    )
    assert counts == [6, 7, 7]


def test_unlimited_records_default(spark):
    """max_records=-1 means unlimited (JSON default,
    AbstractJSONConverter.java:140-148)."""
    df = assign_messages(
        _records(spark),
        shard_col="shard",
        seq_col="seq",
        size_col=F.col("nbytes"),
        max_message_size=1 << 30,
        max_records=-1,
    )
    assert df.select("message_idx").distinct().count() == 1


def test_avro_quirk_one_record_per_message(spark):
    """The reference's Avro path omits the -1 guard so every record is
    its own message (AbstractAvroConverter.java:235) — engine exposes
    the same behavior via max_records=1."""
    df = assign_messages(
        _records(spark),
        shard_col="shard",
        seq_col="seq",
        size_col=F.col("nbytes"),
        max_records=1,
    )
    assert df.select("message_idx").distinct().count() == 20


def test_message_id_is_seq_range(spark):
    df = assign_messages(
        _records(spark, n=4, size=100),
        shard_col="shard",
        seq_col="seq",
        size_col=F.col("nbytes"),
        max_message_size=200,
    )
    ids = {r.message_id for r in df.select("message_id").distinct().collect()}
    assert ids == {"000000-000001", "000002-000003"}


def test_oversize_record_isolated(spark):
    """A record larger than max_size still lands in exactly one message
    (the reference sends it alone; both respect determinism)."""
    rows = [("s1", "000000", 50), ("s1", "000001", 900), ("s1", "000002", 50)]
    df = assign_messages(
        spark.createDataFrame(rows, "shard string, seq string, nbytes long"),
        shard_col="shard",
        seq_col="seq",
        size_col=F.col("nbytes"),
        max_message_size=100,
    )
    out = {r.seq: r.message_idx for r in df.collect()}
    assert len(set(out.values())) >= 2  # the big record forces a boundary


def test_pack_greedy_exact_bounds():
    """Greedy packing: a record joins the message while the UTF-8 body,
    separators included, stays within the bound; a shard change or the
    record bound starts a new message; an oversize record goes alone."""
    recs = [
        ("a", "01", "xx"),
        ("a", "02", "yy"),  # "xx\nyy" is exactly 5 bytes
        ("a", "03", "é"),  # 2 bytes: 5 + 1 + 2 > 5
        ("a", "04", "z" * 9),  # over the bound on its own
        ("a", "05", "w"),
        ("b", "06", "v"),  # new shard
    ]
    assert list(pack_greedy(recs, max_message_size=5)) == [
        ("01-02", "xx\nyy", 2, 5),
        ("03-03", "é", 1, 2),
        ("04-04", "z" * 9, 1, 9),
        ("05-05", "w", 1, 1),
        ("06-06", "v", 1, 1),
    ]
    assert [m[2] for m in pack_greedy(recs, 1 << 20, max_records=2)] == [2, 2, 1, 1]
    assert [m[2] for m in pack_greedy(recs, 1 << 20, max_records=-1)] == [5, 1]


_pack_records = st.lists(
    st.tuples(
        st.sampled_from("abc"),
        st.text(
            st.characters(blacklist_categories=("Cs",), blacklist_characters="\n"),
            max_size=30,
        ),
    ),
    max_size=60,
).map(
    lambda rs: [
        (shard, f"{i:04d}", body)
        for i, (shard, body) in enumerate(sorted(rs, key=lambda r: r[0]))
    ]
)


@settings(max_examples=400, deadline=None, derandomize=True)
@given(
    recs=_pack_records,
    max_size=st.integers(1, 120),
    max_records=st.sampled_from([-1, 0]) | st.integers(1, 6),
)
def test_pack_greedy_properties(recs, max_size, max_records):
    """Spark-free invariants of the queue sink's packer: every record
    exactly once and in order; the byte bound holds unless a message is
    one record; the record bound holds; one shard per message; each
    message is maximal; the same input gives the same messages."""
    msgs = list(pack_greedy(recs, max_size, max_records))
    assert msgs == list(pack_greedy(iter(recs), max_size, max_records))
    rec_bytes = [len(r[2].encode("utf-8")) for r in recs]
    at = 0
    for i, (mid, body, n, size) in enumerate(msgs):
        part = recs[at : at + n]
        assert n >= 1 and len(part) == n
        assert body == "\n".join(r[2] for r in part)
        assert size == len(body.encode("utf-8"))
        assert mid == f"{part[0][1]}-{part[-1][1]}"
        assert size <= max_size or n == 1
        assert max_records <= 0 or n <= max_records
        assert len({r[0] for r in part}) == 1
        at += n
        if i + 1 < len(msgs) and recs[at][0] == part[0][0]:
            # the next record of the same shard would not have fit
            full = 0 < max_records <= n
            assert full or size + 1 + rec_bytes[at] > max_size
    assert at == len(recs)


@pytest.mark.parametrize(
    "gran,expected",
    [
        ("years", "2024"),
        ("days", "2024/03/05"),
        ("seconds", "2024/03/05/17/30/09"),
    ],
)
def test_time_partition_granularity(spark, gran, expected):
    df = spark.createDataFrame(
        [("2024-03-05 17:30:09",)], "t string"
    ).select(time_partition(F.col("t").cast("timestamp"), gran).alias("p"))
    assert df.collect()[0].p == expected


def test_time_partition_bad_granularity():
    with pytest.raises(ValueError):
        time_partition(F.lit("x").cast("timestamp"), "fortnights")
