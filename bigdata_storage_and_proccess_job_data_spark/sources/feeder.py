"""Test-data feeder: the engine-side analogue of the reference's
API->Kafka producer leg (S12, producer.py/producer_v2.py) and its
sampling data generator (X3, JobService.java:44-142).

Deterministic (seeded) so fixtures are reproducible -- the reference's
random.uniform/randint mutation is made seed-stable (SURVEY.md §7.3
nondeterminism note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sample_with_replacement(
    pool: DataFrame, fraction: float, seed: int = 42
) -> DataFrame:
    """Random sample with replacement from a pool (X3,
    JobService.java:44-68): distributed df.sample, never a driver-side
    random.choice loop."""
    return pool.sample(withReplacement=True, fraction=fraction, seed=seed)


def mutate_counters(df: DataFrame, cols: list[str]) -> DataFrame:
    """Seeded counter mutation (X3, JobService.java:112-142: views/applies
    += randint(0,5)): deterministic per-row increments derived from
    xxhash64 of the row key columns -- reproducible across retries,
    unlike rand()."""
    out = df
    for i, c in enumerate(cols):
        inc = F.pmod(
            F.xxhash64(*[F.col(k) for k in df.columns[:1]], F.lit(42 + i)),
            F.lit(6),
        ).cast("int")
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)) + inc)
    return out


def stamp_ingest(df: DataFrame) -> DataFrame:
    """Producer-side ingest timestamp (S12, producer_v2.py:58,95)."""
    return df.withColumn(
        "ingest_timestamp", F.unix_timestamp(F.current_timestamp()).cast("double")
    )
