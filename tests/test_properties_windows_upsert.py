"""Property-based tests for gap sessionization, grouped top-k, and the
foreachBatch insert-if-absent upsert — against Python references on
generated inputs (boundary gaps, single-event keys, key collisions
across micro-batches)."""

from __future__ import annotations

import datetime as dt
import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_pipeline_project_spark.operators.windows import sessionize, topk_per_group
from etl_pipeline_project_spark.streaming.upsert import merge_batch

_SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

EPOCH = dt.datetime(2024, 1, 1)

SESS_SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("eid", T.LongType(), False),
    ]
)

# (key, second-offset) unique so the session reference needs no tie-break
sess_events = st.dictionaries(
    st.tuples(st.sampled_from(["a", "b"]), st.integers(min_value=0, max_value=120)),
    st.none(),
    min_size=0,
    max_size=15,
)


@given(events=sess_events, gap=st.integers(min_value=1, max_value=40))
@_SETTINGS
def test_sessionize_matches_reference(spark, events, gap):
    rows = [
        (k, EPOCH + dt.timedelta(seconds=s), i)
        for i, (k, s) in enumerate(sorted(events.keys()))
    ]
    df = spark.createDataFrame(rows, SESS_SCHEMA)
    got = {
        r["eid"]: r["session_id"]
        for r in sessionize(df, key="k", ts="ts", gap_seconds=gap, tiebreak="eid").collect()
    }
    # reference: per key in ts order, session bumps when the gap is EXCEEDED
    expect = {}
    by_key: dict[str, list] = {}
    for k, ts, eid in rows:
        by_key.setdefault(k, []).append((ts, eid))
    for k, evs in by_key.items():
        evs.sort()
        sid, prev = 0, None
        for ts, eid in evs:
            if prev is None or (ts - prev).total_seconds() > gap:
                sid += 1
            expect[eid] = sid
            prev = ts
    assert got == expect


topk_rows = st.lists(
    st.tuples(
        st.sampled_from(["g1", "g2"]),
        st.integers(min_value=-50, max_value=50),
        st.integers(min_value=0, max_value=10**6),
    ),
    min_size=0,
    max_size=20,
    unique_by=lambda r: r[2],  # unique id => deterministic total order
)


@given(rows=topk_rows, k=st.integers(min_value=1, max_value=5))
@_SETTINGS
def test_topk_per_group_matches_reference(spark, rows, k):
    schema = T.StructType(
        [
            T.StructField("g", T.StringType(), False),
            T.StructField("v", T.LongType(), False),
            T.StructField("rid", T.LongType(), False),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    got = {
        (r["g"], r["rid"]): r["rn"]
        for r in topk_per_group(
            df, "g", [F.col("v").desc(), F.col("rid")], k, rank_col="rn"
        ).collect()
    }
    expect = {}
    by_g: dict[str, list] = {}
    for g, v, rid in rows:
        by_g.setdefault(g, []).append((v, rid))
    for g, items in by_g.items():
        items.sort(key=lambda vr: (-vr[0], vr[1]))
        for rank, (v, rid) in enumerate(items[:k], start=1):
            expect[(g, rid)] = rank
    assert got == expect


# waves of (key -> value); keys unique WITHIN a wave (dropDuplicates on a
# duplicate-key batch is tie-broken arbitrarily, out of contract here)
upsert_waves = st.lists(
    st.dictionaries(
        st.integers(min_value=0, max_value=6),
        st.integers(min_value=-100, max_value=100),
        min_size=0,
        max_size=5,
    ),
    min_size=1,
    max_size=4,
)


@given(waves=upsert_waves)
@_SETTINGS
def test_merge_batch_first_write_wins(spark, tmp_path_factory, waves):
    schema = T.StructType(
        [T.StructField("k", T.LongType(), False), T.StructField("v", T.LongType(), False)]
    )
    target = str(tmp_path_factory.mktemp("upsert") / "t")
    wrote_any = False
    for wave in waves:
        if wave:
            merge_batch(spark.createDataFrame(sorted(wave.items()), schema), target, "k")
            wrote_any = True
    if not wrote_any:
        return
    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    # insert-if-absent: the FIRST wave containing a key fixes its value
    expect = {}
    for wave in waves:
        for k, v in wave.items():
            expect.setdefault(k, v)
    assert got == expect

    # idempotence: re-delivering every wave changes nothing
    for wave in waves:
        if wave:
            merge_batch(spark.createDataFrame(sorted(wave.items()), schema), target, "k")
    again = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert again == expect


def test_merge_batch_appends_and_leaves_existing_parts_alone(spark, tmp_path):
    """Each merge appends only unseen keys: the part files already in the
    target keep their names and sizes, and a replayed batch adds no rows."""
    schema = T.StructType(
        [T.StructField("k", T.LongType(), False), T.StructField("v", T.LongType(), False)]
    )
    target = str(tmp_path / "t")

    def parts():
        return {f: os.path.getsize(os.path.join(target, f))
                for f in os.listdir(target) if f.endswith(".parquet")}

    merge_batch(spark.createDataFrame([(1, 10), (2, 20)], schema), target, "k")
    first = parts()
    second_batch = spark.createDataFrame([(2, 99), (3, 30)], schema)
    merge_batch(second_batch, target, "k")
    assert first.items() <= parts().items()
    rows = sorted(tuple(r) for r in spark.read.parquet(target).collect())
    assert rows == [(1, 10), (2, 20), (3, 30)]

    merge_batch(second_batch, target, "k")
    assert spark.read.parquet(target).count() == 3
