"""``query_mix``: a fixed stratified sample of read-only registry keys.

``KEYS`` was drawn once from every read-only, non-streaming registry key
with a DuckDB twin, one key per cost band of each stratum (``README.md``
records how). Each run takes the keys in an order set by its seed. One
pass runs every key as ``REGISTRY[key](spark, data_dir)`` followed by a
``noop`` save; each key is one op. The warm-up pass collects each key's
rows instead; ``check`` compares them with the key's DuckDB twin after
timing ends.
"""

from __future__ import annotations

import random

from etl_pipeline_project_spark.queries import ORACLE, REGISTRY
from etl_pipeline_project_spark.schemas import TESTDATA_TABLES
from perfbench import checks

# (key, stratum); strata: callers of operators.windows' order-stats helpers,
# pandas UDFs, localCheckpoint pins, and plain DataFrame/SQL plans
KEYS = [
    ("q_vocab_coverage", "plain"),
    ("q_palma_ratio", "order_stats"),
    ("q_hash_split", "plain"),
    ("q_epoch_plan", "plain"),
    ("q_join_asof_grouped", "pandas_udf"),
    ("q_agg_cube", "plain"),
    ("q_pagerank_nations", "local_checkpoint"),
    ("q_ltv_cohort_curve", "plain"),
]


class QueryMix:
    # nominal length of one timed pass on a 4-core host; sets the pass count
    PASS_S = 6.0

    def __init__(self, passes: int):
        missing = [k for k, _ in KEYS if k not in REGISTRY or k not in ORACLE]
        if missing:
            raise SystemExit(f"perfbench: query_mix keys missing from REGISTRY/ORACLE: {missing}")

    def setup(self, ctx) -> None:
        self.keys = list(KEYS)
        random.Random(ctx.seed).shuffle(self.keys)

    def run_pass(self, ctx) -> None:
        spark = ctx.spark
        for key, stratum in self.keys:
            def run(key=key, stratum=stratum):
                with ctx.span("queries.build"):
                    df = REGISTRY[key](spark, ctx.data_dir)
                with ctx.span(f"queries.{stratum}.exec"):
                    df.write.mode("overwrite").format("noop").save()

            ctx.op(key, run)

    def warmup(self, ctx) -> None:
        """Collect every key's rows for the check."""
        self.rows = {}
        for key, _ in self.keys:
            def run(key=key):
                df = REGISTRY[key](ctx.spark, ctx.data_dir)
                self.rows[key] = (df.columns, [tuple(r) for r in df.collect()])

            ctx.op(key, run)

    def check(self, ctx) -> None:
        """Each key's warm-up rows equal its DuckDB twin's."""
        con = checks.duck()
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{ctx.data_dir}/{t}.parquet'")
        for key, _ in self.keys:
            got = self.rows.get(key)
            if got is None:
                ctx.fail(key, "failed in the warm-up pass")
            elif not checks.same(got, checks.rows(con, ORACLE[key])):
                ctx.fail(key, "differs from its DuckDB twin")
            else:
                checks.digest(ctx.outputs, key, got)
