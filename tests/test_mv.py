"""MV apply: last-writer-wins reconstruction
(KeyspacesViewTargetMapper.java:81-154) — upsert binds newImage,
delete binds the key from oldImage, latest sequence wins per key."""

from __future__ import annotations

from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from sample_keyspaces_cdc_streams_connectors_spark.operators.mv import mv_apply
from sample_keyspaces_cdc_streams_connectors_spark.streaming import sinks

IMG = StructType(
    [
        StructField("k", IntegerType(), True),
        StructField("v", StringType(), True),
    ]
)
SCHEMA = StructType(
    [
        StructField(
            "metadata",
            StructType(
                [
                    StructField("stream_operation_type", StringType(), True),
                    StructField("stream_sequence_number", StringType(), True),
                ]
            ),
            False,
        ),
        StructField("newImage", IMG, True),
        StructField("oldImage", IMG, True),
    ]
)


def _env(spark, events, schema=SCHEMA):
    """events: (seq, op, new image|None, old image|None)"""
    rows = [
        ((op, f"{seq:06d}"), new, old) for seq, op, new, old in events
    ]
    return spark.createDataFrame(rows, schema)


def _state(spark, events):
    out = mv_apply(_env(spark, events), pk=["k"], fields=["v"])
    return {r.k: r.v for r in out.collect()}


def test_insert_then_update(spark):
    assert _state(
        spark,
        [
            (1, "INSERT", (1, "a"), None),
            (2, "UPDATE", (1, "b"), (1, "a")),
        ],
    ) == {1: "b"}


def test_delete_wins_when_last(spark):
    assert (
        _state(
            spark,
            [
                (1, "INSERT", (1, "a"), None),
                (2, "DELETE", None, (1, "a")),
            ],
        )
        == {}
    )


def test_reinsert_after_delete(spark):
    assert _state(
        spark,
        [
            (1, "INSERT", (1, "a"), None),
            (2, "DELETE", None, (1, "a")),
            (3, "REPLICATED_INSERT", (1, "c"), None),
        ],
    ) == {1: "c"}


def test_sequence_order_not_arrival_order(spark):
    # events listed out of order; seq decides
    assert _state(
        spark,
        [
            (5, "UPDATE", (1, "late"), (1, "x")),
            (2, "INSERT", (1, "early"), None),
        ],
    ) == {1: "late"}


def test_unknown_ops_ignored(spark):
    assert _state(
        spark,
        [
            (1, "INSERT", (1, "a"), None),
            (2, "UNKNOWN", None, None),
        ],
    ) == {1: "a"}


def test_ttl_is_delete_class(spark):
    assert (
        _state(
            spark,
            [
                (1, "INSERT", (1, "a"), None),
                (2, "TTL", None, (1, "a")),
            ],
        )
        == {}
    )


def test_unbindable_key_dropped(spark):
    # a delete with no oldImage cannot bind its key -> dropped, and the
    # prior insert survives
    assert _state(
        spark,
        [
            (1, "INSERT", (1, "a"), None),
            (2, "DELETE", None, None),
        ],
    ) == {1: "a"}


def test_hot_key_shrinks_map_side(spark):
    """A pk that dominates the log (skew) must not funnel every event
    into one task: the combinable max_by reduces each map task's
    slice of the hot key to ONE candidate before the exchange
    (partial_max_by in the plan), so shuffle volume is bounded by
    distinct keys x tasks, not by events."""
    hot = [
        (i, "INSERT" if i == 0 else "UPDATE", (1, f"v{i}"), (1, "x"))
        for i in range(5000)
    ]
    cold = [(10_000 + k, "INSERT", (100 + k, "c"), None) for k in range(10)]
    env = _env(spark, hot + cold).repartition(8)
    out = mv_apply(env, pk=["k"], fields=["v"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_max_by" in plan
    assert "Window" not in plan
    state = {r.k: r.v for r in out.collect()}
    assert state[1] == "v4999"
    assert all(state[100 + k] == "c" for k in range(10))


def test_independent_keys(spark):
    assert _state(
        spark,
        [
            (1, "INSERT", (1, "a"), None),
            (2, "INSERT", (2, "b"), None),
            (3, "DELETE", None, (1, "a")),
        ],
    ) == {2: "b"}


# --- incremental view sink: the same merge, across micro-batches ---------


def _sink(view_dir, pk=("k",), fields=("v",)):
    return sinks.materialized_view_sink(
        str(view_dir), pk=list(pk), fields=list(fields), n_buckets=4
    )


def _view(spark, view_dir):
    return {
        r.k: r.v
        for r in sinks.read_materialized_view(spark, str(view_dir)).collect()
    }


def test_view_sink_redelivery_is_idempotent(spark, tmp_path):
    """At-least-once: the same frame under the same batch_id applied
    twice leaves the view unchanged.  Runs without adaptive execution,
    where the merge's read of the prior state and the version write
    share one job, so rewriting the committed version dir would delete
    the files the merge is about to read."""
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sink = _sink(tmp_path / "view")
        # eight keys over four buckets: the redelivered batch's buckets
        # also hold keys only the prior state carries
        sink(_env(spark, [(k, "INSERT", (k, "a"), None) for k in range(1, 9)]), 0)
        again = _env(spark, [(10, "UPDATE", (1, "c"), (1, "a")),
                             (11, "DELETE", None, (2, "a")),
                             (12, "INSERT", (9, "d"), None)])
        sink(again, 1)
        before = _view(spark, tmp_path / "view")
        sink(again, 1)
        assert _view(spark, tmp_path / "view") == before
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert before == {1: "c", **{k: "a" for k in range(3, 9)}, 9: "d"}


def test_view_sink_stale_upsert_cannot_resurrect_delete(spark, tmp_path):
    """The delete's tombstone (seq 3) outranks a stale upsert (seq 2)
    that arrives in a later batch."""
    sink = _sink(tmp_path / "view")
    sink(_env(spark, [(1, "INSERT", (1, "a"), None)]), 0)
    sink(_env(spark, [(3, "DELETE", None, (1, "a"))]), 1)
    sink(_env(spark, [(2, "UPDATE", (1, "stale"), (1, "a"))]), 2)
    assert _view(spark, tmp_path / "view") == {}


IMG2 = StructType(
    [
        StructField("a", IntegerType(), True),
        StructField("b", StringType(), True),
        StructField("v", StringType(), True),
    ]
)
SCHEMA2 = StructType(
    [
        SCHEMA["metadata"],
        StructField("newImage", IMG2, True),
        StructField("oldImage", IMG2, True),
    ]
)


def test_view_sink_composite_pk_equals_mv_apply(spark, tmp_path):
    """With a two-column pk, the view built batch by batch equals
    mv_apply over the whole log."""
    log = [
        (1, "INSERT", (1, "x", "a"), None),
        (2, "INSERT", (1, "y", "b"), None),
        (3, "INSERT", (2, "x", "c"), None),
        (4, "UPDATE", (1, "x", "a2"), (1, "x", "a")),
        (5, "DELETE", None, (1, "y", "b")),
        (6, "INSERT", (1, "y", "b2"), None),
        (7, "TTL", None, (2, "x", "c")),
        (8, "UPDATE", (2, "y", "d"), (2, "y", "z")),
        (9, "DELETE", None, (1, "x", "a2")),
    ]
    view_dir = str(tmp_path / "view")
    sink = _sink(view_dir, pk=("a", "b"))
    for batch_id, start in enumerate(range(0, len(log), 3)):
        sink(_env(spark, log[start:start + 3], SCHEMA2), batch_id)
    got = {
        (r.a, r.b, r.v)
        for r in sinks.read_materialized_view(spark, view_dir).collect()
    }
    whole = mv_apply(_env(spark, log, SCHEMA2), pk=["a", "b"], fields=["v"])
    expect = {(r.a, r.b, r.v) for r in whole.collect()}
    assert got == expect == {(1, "y", "b2"), (2, "y", "d")}


def test_view_sink_merge_is_one_combinable_exchange(spark, tmp_path, monkeypatch):
    """The frame the sink writes merges prior state and the batch with
    the map-side combinable max_by pick: no Window, one Exchange."""
    written = []
    real = sinks._mv_write_version

    def capture(latest, new_dir):
        written.append(latest)
        real(latest, new_dir)

    monkeypatch.setattr(sinks, "_mv_write_version", capture)
    sink = _sink(tmp_path / "view")
    sink(_env(spark, [(1, "INSERT", (1, "a"), None)]), 0)
    sink(_env(spark, [(2, "UPDATE", (1, "b"), (1, "a"))]), 1)  # reads prior
    assert len(written) == 2
    for latest in written:
        plan = latest._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        assert "partial_max_by" in plan
        assert plan.count("Exchange") == 1
