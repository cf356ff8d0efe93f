"""applyInPandasWithState custom stateful operator: the final running
totals must equal the batch groupBy aggregate."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.streaming.ops import read_events_stream, run_to_memory
from etl_pipeline_project_spark.streaming.stateful import stream_running_totals
from etl_pipeline_project_spark.sources.readers import load_table


def test_running_totals_match_batch_aggregate(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    out = run_to_memory(stream_running_totals(stream), output_mode="update")
    # update mode may emit several rows per key (one per batch); the last
    # (= max n_events) is the final state
    final = out.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_expected"))
    )
    joined = final.join(batch, "user_id")
    assert joined.count() == batch.count()
    assert joined.filter(F.col("n_events") != F.col("n_expected")).count() == 0


def test_stream_session_counts_cover_all_events(spark, sf_dir):
    from pyspark.sql import functions as F

    from etl_pipeline_project_spark.queries import REGISTRY
    from etl_pipeline_project_spark.sources.readers import load_table

    out = REGISTRY["q_stream_session"](spark, sf_dir)
    total = out.agg(F.sum("n_events")).first()[0]
    assert total == load_table(spark, sf_dir, "events").count()
    # every session has at least one event and a real start
    assert out.filter(F.col("n_events") < 1).count() == 0
    assert out.filter(F.col("session_start").isNull()).count() == 0


def test_stream_state_partitions_scoping(spark, monkeypatch):
    """On a local master the state store is min(8, the session's shuffle
    partitions) wide; other masters are left alone (None); the env
    override wins everywhere."""
    from types import SimpleNamespace

    from etl_pipeline_project_spark.streaming.ops import stream_state_partitions

    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", raising=False)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        assert stream_state_partitions(spark) == "4"
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        assert stream_state_partitions(spark) == "8"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    # non-local master -> no override
    fake = SimpleNamespace(sparkContext=SimpleNamespace(master="spark://host:7077"))
    assert stream_state_partitions(fake) is None
    fake_yarn = SimpleNamespace(sparkContext=SimpleNamespace(master="yarn"))
    assert stream_state_partitions(fake_yarn) is None
    # env override wins everywhere
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "64")
    assert stream_state_partitions(spark) == "64"
    assert stream_state_partitions(fake) == "64"


def test_sized_state_store_noop_when_unsized(spark, monkeypatch):
    """sized_state_store must not touch the conf when sizing declines."""
    import etl_pipeline_project_spark.streaming.ops as ops

    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", raising=False)
    monkeypatch.setattr(ops, "stream_state_partitions", lambda s: None)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with ops.sized_state_store(spark):
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_stream_keys_size_state_through_stream_state_partitions(spark, sf_dir, monkeypatch):
    """The stateful streaming keys take their state-store width from
    ``stream_state_partitions`` (via ``run_to_memory``), not from a literal
    of their own: every stateful operator's progress reports exactly that
    many shuffle partitions."""
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    from etl_pipeline_project_spark.queries import REGISTRY
    from etl_pipeline_project_spark.streaming.ops import stream_state_partitions

    class Collect(StreamingQueryListener):
        def __init__(self):
            self.parts: list[int] = []
            self.done = threading.Event()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.parts += [op.numShufflePartitions for op in event.progress.stateOperators]

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.done.set()

    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", raising=False)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        want = int(stream_state_partitions(spark))
        for key in ["q_stream_stream_join", "q_stream_stream_left_join", "q_stream_window_append"]:
            listener = Collect()
            spark.streams.addListener(listener)
            try:
                REGISTRY[key](spark, sf_dir).collect()
                assert listener.done.wait(60), key
            finally:
                spark.streams.removeListener(listener)
            assert listener.parts, key
            assert set(listener.parts) == {want}, (key, listener.parts)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
