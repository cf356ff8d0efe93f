"""Cardinality bounds of the keys that window over a GRID.

Each key in GRID_KEYS runs its window (unpartitioned, or partitioned by a
bounded enum) over a domain-bounded grid — days, enum cells, fixed
buckets — not over corpus-scaled rows; the one-line reason is next to
each key. This test turns those reasons into a measured property: run
every key at sf0.001 and sf0.01 (a 10x fact-table scale-up) and assert
the output shows grid behavior, not corpus behavior:

- default: output rows grow <= 3x under the 10x fact scale-up
  (equal-or-calendar growth — saturated grids barely move);
- grids still FILLING IN at these tiny scales (sparse cells appear as
  facts land in them) instead satisfy an ABSOLUTE domain ceiling that
  is constant across scale factors: the testdata generator pins events
  to a 30-day window x 24 h x 5 types and orders to the fixed
  1995..2001 span (~2406 distinct dates) at EVERY sf, so a
  fact-scaled grid would blow through the ceiling while a calendar
  grid cannot.

q_compaction_plan is the one key whose OUTPUT is not its grid: the
window runs over the per-file table of a day-partitioned layout
(<= #days files — the bounded input), while the output bin-packs rows
into fixed-size groups and therefore scales with rows/target. The test
asserts its true window input (the day grid) directly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import REGISTRY
from etl_pipeline_project_spark.sources.readers import load_table

SF_SMALL = "/root/testdata/sf0.001"
SF_BIG = "/root/testdata/sf0.01"  # 10x the fact rows of SF_SMALL
MAX_GROWTH = 3.0

# Domain ceilings (constant across scale factors) for grids that are
# still filling in at test scale — each derives from the generator's
# fixed spans, not from any fact-table size.
DOMAIN_CEILING = {
    # 5 event types x 30 days x 24 hours (+ slack for span edges)
    "q_event_rate_alert": 5 * 30 * 24 + 100,
    # distinct first-order dates <= the fixed 1995..2001 order span
    "q_running_distinct": 2500,
    # distinct day-durations <= the same fixed date span
    "q_survival_table": 2500,
}

GRID_KEYS = {
    "q_adoption_curve": "event_type x first-adoption day (calendar-bounded daily grid)",
    "q_alloc_largest_remainder": "nations (fixed 25-row dimension)",
    "q_backlog_curve": "days (calendar-bounded event series)",
    "q_benford_digits": "leading digits (<= 9 rows)",
    "q_benjamini_hochberg": "event types (fixed enum of hypotheses)",
    "q_bootstrap_diff_ci": "bootstrap replicates (fixed 32)",
    "q_centered_ma": "days (calendar-bounded)",
    "q_chi_square": "event_type x value bucket (fixed contingency cells)",
    "q_complementary_suppression": "event_type x 4 cohorts (fixed <= |enum|*4 cells)",
    "q_emd_tcloseness": "value/50 buckets (fixed quantization domain)",
    "q_event_rate_alert": "event_type x hour (calendar-bounded hourly grid)",
    "q_haberman_residuals": "event_type x bucket (fixed cells)",
    "q_hierarchical_share": "region x nation (fixed 25-row dimension)",
    "q_max_concurrency": "days (calendar-bounded)",
    "q_mtd_ytd": "order dates (calendar-bounded)",
    "q_multi_offset_lags": "days (calendar-bounded)",
    "q_mutual_information": "event_type x bucket (fixed cells)",
    "q_newsvendor": "event_type x distinct daily demands (<= days, calendar-bounded)",
    "q_neyman_allocation": "order priorities (fixed enum, 5)",
    "q_peak_detect": "days (calendar-bounded)",
    "q_running_distinct": "first-order dates (calendar-bounded)",
    "q_semi_additive_balance": "days (calendar-bounded)",
    "q_survival_table": "distinct day-durations (date-span-bounded)",
    "q_wow_change": "weeks (calendar-bounded)",
}
KEYS = sorted(GRID_KEYS)


@pytest.mark.parametrize("key", KEYS)
def test_whitelisted_grid_is_fact_size_independent(spark, key) -> None:
    small = REGISTRY[key](spark, SF_SMALL).count()
    big = REGISTRY[key](spark, SF_BIG).count()
    assert small > 0, f"{key}: empty output at {SF_SMALL}"
    ceiling = DOMAIN_CEILING.get(key)
    if ceiling is not None:
        assert small <= ceiling and big <= ceiling, (
            f"{key}: output {small}/{big} exceeds its domain ceiling "
            f"{ceiling} — the window grid looks corpus-scaled"
        )
    else:
        assert big <= MAX_GROWTH * small, (
            f"{key}: output rows grew {small} -> {big} under a 10x fact "
            "scale-up — the window grid looks corpus-scaled"
        )


def test_compaction_plan_window_input_is_day_bounded(spark) -> None:
    # the window input is one row per file of the day-partitioned layout
    # (file <-> day by construction); assert the DAY grid, which is what
    # bounds it, stays fixed across the 10x fact scale-up
    days = [
        load_table(spark, sf, "events")
        .select(F.to_date("ts").alias("d"))
        .distinct()
        .count()
        for sf in (SF_SMALL, SF_BIG)
    ]
    assert max(days) <= 40, days
    assert days[0] == days[1], days
