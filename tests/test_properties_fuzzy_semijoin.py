"""Property-based test for the coarse-bucket semi join:
coarse_bucket_semi_join ≡ a plain left-semi join for any bucket count
(the membership pre-filter passes a superset; correctness must never
depend on it) — checked down to n_buckets=1, where every row passes the
filter and the exact join does all the work.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from etl_pipeline_project_spark.operators.joins import coarse_bucket_semi_join

_SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


KV_SCHEMA = T.StructType(
    [T.StructField("k", T.LongType(), False), T.StructField("v", T.LongType(), False)]
)


@given(
    fact=st.lists(
        st.tuples(st.integers(min_value=0, max_value=30), st.integers(min_value=0, max_value=99)),
        min_size=0,
        max_size=20,
    ),
    dim_keys=st.lists(st.integers(min_value=0, max_value=30), min_size=0, max_size=8),
    n_buckets=st.sampled_from([1, 2, 7, 4096]),
)
@_SETTINGS
def test_coarse_bucket_semi_join_equals_plain(spark, fact, dim_keys, n_buckets):
    fdf = spark.createDataFrame(fact, KV_SCHEMA)
    ddf = spark.createDataFrame([(k, 0) for k in dim_keys], KV_SCHEMA)
    got = sorted(
        tuple(r) for r in coarse_bucket_semi_join(fdf, ddf, "k", "k", n_buckets).collect()
    )
    keys = set(dim_keys)
    expect = sorted((k, v) for k, v in fact if k in keys)
    assert got == expect
