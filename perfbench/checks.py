"""Helpers shared by the workloads: the outcome of one operation, and
consuming a DataFrame into the noop sink while observing checksums."""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation


class Outcome:
    """What one operation produced: work units done, and a check that
    runs after the timer stops and returns whether the output is right."""

    def __init__(self, units: float, check):
        self.units = units
        self.check = check


def observe_noop(df: DataFrame, *aggs) -> dict:
    """Run ``df`` to the noop sink; return the aggregates observed on
    the rows it produced."""
    obs = Observation()
    df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    return obs.get
