"""Job counters — the reference's global metric surface rebuilt on
``df.observe``.

Reference: MRC/mapreduce/Counters.java, TaskCounter.java:28-47
(MAP_INPUT_RECORDS, MAP_OUTPUT_RECORDS, SPILLED_RECORDS, ...): every job
accumulates named long counters merged at the AM, readable after
completion. Spark's ``Observation`` is the declarative equivalent —
metrics are computed inside the existing plan (no extra pass, merged
exactly once per row even under task retries, unlike raw accumulators).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation


def with_counters(
    df: DataFrame, name: str = "counters", **metrics: Column
) -> tuple[DataFrame, Observation]:
    """Attach named counters to a DataFrame; values are available from the
    returned Observation after the first action.

        counted, obs = with_counters(df, input_records=F.count(F.lit(1)))
        counted.write...   # any action
        obs.get["input_records"]
    """
    obs = Observation(name)
    cols = [expr.alias(key) for key, expr in metrics.items()]
    return df.observe(obs, *cols), obs
