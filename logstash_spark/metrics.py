"""Pipeline row and failure-tag metrics — the stats-API mirror.

The reference exposes flow stats via thread naming / queue sizes
(lib/logstash/util.rb:12-25, sized_queue.rb:6-8 TODO). Our engine reports:

- per-stage row counts via `df.observe` (Observation API — collected by the
  JVM during the SAME job, zero extra passes; this is the 100 TB-safe way,
  never `count()` side-jobs),
- parse-failure rates from the failure tags (_grokparsefailure etc.).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class PipelineMetrics:
    observations: dict[str, Observation] = field(default_factory=dict)

    def observe(self, df: DataFrame, stage: str, *, failure_tags: list[str] | None = None,
                counts: dict[str, Column] | None = None) -> DataFrame:
        """Attach counters to the plan at this stage: ``rows``, one count
        per failure tag, and one ``count_if`` per named predicate."""
        obs = Observation(stage)
        metrics = [F.count(F.lit(1)).alias("rows")]
        metrics += [F.count_if(c).alias(name) for name, c in (counts or {}).items()]
        if failure_tags and "tags" in df.columns:
            for t in failure_tags:
                metrics.append(
                    F.sum(F.array_contains(F.coalesce(F.col("tags"), F.array().cast("array<string>")), t).cast("long")).alias(t)
                )
        self.observations[stage] = obs
        return df.observe(obs, *metrics)

    def report(self) -> dict:
        stages = {}
        for name, obs in self.observations.items():
            try:
                stages[name] = dict(obs.get)
            except Exception:
                stages[name] = {}
        return {"stages": stages}
