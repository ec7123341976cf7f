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


# --- view layout: one version dir per batch, shared by its buckets -------


def _buckets(spark, keys, n_buckets):
    """key → view bucket, computed as the sink does."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(k,) for k in keys], IMG[:1])
    return {
        r.k: r.b
        for r in df.select(
            "k", F.pmod(F.hash("k"), F.lit(n_buckets)).alias("b")
        ).collect()
    }


def _inserts(keys, seq0, value):
    return [(seq0 + i, "INSERT", (k, value), None) for i, k in enumerate(keys)]


def test_view_sink_superseded_buckets_never_read(spark, tmp_path):
    """Buckets a later batch moved to a newer version dir still have
    rows in the older, shared dir; reads take each bucket only from the
    dir the manifest names for it, and that older dir is kept while an
    untouched bucket names it."""
    import os

    view_dir = str(tmp_path / "view")
    sink = sinks.materialized_view_sink(view_dir, pk=["k"], fields=["v"], n_buckets=16)
    keys = list(range(1, 161))
    bucket = _buckets(spark, keys, 16)
    a = _inserts(keys, 1, "a")
    sink(_env(spark, a), 0)
    m_a = sinks._mv_read_manifest(view_dir)
    assert len(m_a) == 16
    (dir_a,) = set(m_a.values())  # every bucket names one version dir

    k1, k2 = 1, 2
    b = [(100, "UPDATE", (k1, "b"), (k1, "a")), (101, "DELETE", None, (k2, "a"))]
    sink(_env(spark, b), 1)
    got = sinks.read_materialized_view(spark, view_dir).collect()
    assert sorted(r.k for r in got) == [k for k in keys if k != k2]
    assert {r.k: r.v for r in got}[k1] == "b"

    m_b = sinks._mv_read_manifest(view_dir)
    still_a = next(k for k in keys if m_b[str(bucket[k])] == dir_a)
    c = [(200, "UPDATE", (k1, "c"), (k1, "b")), (201, "UPDATE", (still_a, "c"), (still_a, "a"))]
    sink(_env(spark, c), 2)
    expect = mv_apply(_env(spark, a + b + c), pk=["k"], fields=["v"])
    assert _view(spark, view_dir) == {r.k: r.v for r in expect.collect()}
    m_c = sinks._mv_read_manifest(view_dir)
    assert dir_a in m_c.values() and os.path.isdir(dir_a)


def _write_parent_format_view(spark, view_dir, events, n_buckets):
    """A view as the one-subdir-per-bucket layout stored it:
    ``partitionBy("__pb")`` leaf dirs, manifest values ``v…/__pb=<b>``."""
    import json
    import os

    from pyspark.sql import functions as F

    from sample_keyspaces_cdc_streams_connectors_spark.operators.mv import (
        last_writer_wins,
        mv_rows,
    )

    rows = mv_rows(_env(spark, events), ["k"], ["v"]).withColumn(
        "__bucket", F.pmod(F.hash("k"), F.lit(n_buckets)).cast("int")
    )
    v0 = os.path.join(view_dir, "v000000")
    last_writer_wins(rows, ["k"]).withColumn("__pb", F.col("__bucket")).write.partitionBy(
        "__pb"
    ).parquet(v0)
    touched = {r["__bucket"] for r in rows.select("__bucket").distinct().collect()}
    with open(os.path.join(view_dir, sinks.MV_MANIFEST), "w", encoding="utf-8") as fh:
        json.dump({str(b): os.path.join(v0, f"__pb={b}") for b in touched}, fh)


def test_view_sink_reads_and_merges_parent_format_view(spark, tmp_path):
    """A view stored as one subdir per bucket reads as before and
    merges into the one-dir-per-version layout."""
    view_dir = str(tmp_path / "view")
    keys = list(range(1, 33))
    first = _inserts(keys, 1, "a") + [(50, "DELETE", None, (3, "a"))]
    _write_parent_format_view(spark, view_dir, first, 4)
    m0 = sinks._mv_read_manifest(view_dir)
    assert len(m0) == 4 and all("__pb=" in p for p in m0.values())
    expect = mv_apply(_env(spark, first), pk=["k"], fields=["v"])
    assert _view(spark, view_dir) == {r.k: r.v for r in expect.collect()}

    sink = _sink(view_dir)
    second = [(60, "UPDATE", (1, "b"), (1, "a")), (61, "DELETE", None, (2, "a"))]
    sink(_env(spark, second), 1)
    expect = mv_apply(_env(spark, first + second), pk=["k"], fields=["v"])
    assert _view(spark, view_dir) == {r.k: r.v for r in expect.collect()}

    third = _inserts(keys, 100, "c")
    sink(_env(spark, third), 2)
    assert not any("__pb=" in p for p in sinks._mv_read_manifest(view_dir).values())
    assert _view(spark, view_dir) == {k: "c" for k in keys}


def test_view_sink_version_layout(spark, tmp_path):
    """One sink call writes one flat version dir: no subdirectories, at
    most one parquet file per shuffle partition, rows sorted by bucket
    within each file."""
    import os

    import pyarrow.parquet as pq

    view_dir = str(tmp_path / "view")
    sink = sinks.materialized_view_sink(view_dir, pk=["k"], fields=["v"], n_buckets=16)
    sink(_env(spark, _inserts(range(500), 1, "a")).repartition(3), 0)
    (new_dir,) = set(sinks._mv_read_manifest(view_dir).values())
    entries = os.listdir(new_dir)
    assert not [e for e in entries if os.path.isdir(os.path.join(new_dir, e))]
    files = [e for e in entries if e.endswith(".parquet")]
    assert 1 <= len(files) <= int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = 0
    for f in files:
        buckets = pq.read_table(os.path.join(new_dir, f), columns=["__bucket"]).column(0).to_pylist()
        assert buckets == sorted(buckets)
        n += len(buckets)
    assert n == 500
