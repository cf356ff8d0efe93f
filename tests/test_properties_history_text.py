"""Property-based tests for the core text primitives, against Python
references on generated inputs."""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from etl_pipeline_project_spark.operators.text_analysis import (
    chunk_text,
    normalize_text,
    word_count,
)

_SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

texts = st.lists(
    st.text(alphabet="aB c\t\nd.!", min_size=0, max_size=30),
    min_size=1,
    max_size=8,
)


@given(ts=texts)
@_SETTINGS
def test_text_primitives_match_reference(spark, ts):
    schema = T.StructType(
        [T.StructField("i", T.LongType(), False), T.StructField("t", T.StringType(), False)]
    )
    df = spark.createDataFrame(list(enumerate(ts)), schema)
    got = {
        r["i"]: (r["norm"], r["wc"])
        for r in df.select(
            "i", normalize_text("t").alias("norm"), word_count("t").alias("wc")
        ).collect()
    }
    for i, t in enumerate(ts):
        norm = re.sub(r"\s+", " ", t.strip().lower())
        wc = 0 if t.strip() == "" else len(re.split(r"\s+", t.strip()))
        assert got[i] == (norm, wc)


@given(ts=texts, size=st.integers(min_value=2, max_value=8), stride=st.integers(min_value=1, max_value=6))
@_SETTINGS
def test_chunk_text_covers_document(spark, ts, size, stride):
    stride = min(stride, size)  # overlapped or abutting, never gapped
    schema = T.StructType(
        [T.StructField("i", T.LongType(), False), T.StructField("t", T.StringType(), False)]
    )
    df = spark.createDataFrame(list(enumerate(ts)), schema)
    rows = df.select("i", chunk_text("t", size, stride).alias("chunks")).collect()
    for r in rows:
        t = ts[r["i"]]
        chunks = sorted((c["chunk_id"], c["chunk"]) for c in r["chunks"])
        # chunk_ids are dense from 0; heads step by stride; chunks are the
        # substring windows; their union covers the whole document
        assert [cid for cid, _ in chunks] == list(range(len(chunks)))
        covered = set()
        for cid, chunk in chunks:
            off = cid * stride
            assert chunk == t[off : off + size]
            covered.update(range(off, min(off + size, len(t))))
        assert covered == set(range(len(t)))
        # no trailing all-empty chunk beyond the last character
        if len(t) > 0:
            assert (len(chunks) - 1) * stride < len(t)
