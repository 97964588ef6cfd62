"""Per-partition lineage + per-stage metrics (SURVEY.md §4.2,
BASELINE.json:6 "per-partition lineage rows and metrics checkpointed").

Lineage capture is a pure-SQL aggregation over ``spark_partition_id()``
— one row per physical output partition with its row count — rather
than a pass-through Python shim, so the data path stays free of any
Python crossing. The rows are collected to the driver in ONE small
Spark job and committed, with the stage's metrics, as driver-side
``pyarrow.Table`` appends (``TableIO.write``), which launch no job:
per committed stage the audit costs one job, and the metrics ``rows``
value is the lineage ``rows_out`` sum rather than a separate count."""

from __future__ import annotations

import time
from contextlib import contextmanager
from functools import reduce

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from dedup.schema import LINEAGE, METRICS


def partition_lineage(
    df: DataFrame, run_id: str, stage: str, wall_ms: int | None = None,
    snapshot_id: int | None = None,
) -> DataFrame:
    """One lineage row per partition of ``df`` (schema.LINEAGE)."""
    agg = df.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.count("*").alias("rows_out")
    )
    return (
        agg.withColumn("run_id", F.lit(run_id))
        .withColumn("stage", F.lit(stage))
        .withColumn("wall_ms", F.lit(wall_ms).cast("long"))
        .withColumn("snapshot_id", F.lit(snapshot_id).cast("long"))
        .select([f.name for f in LINEAGE.fields])
    )


@contextmanager
def _one_job(spark):
    """Plan the lineage aggregate as a single job: adaptive execution
    would submit its (tiny) shuffle map stage as a job of its own, and
    one reduce partition is all a few rows per partition need. The
    session conf is restored on exit. Neither setting moves the
    partitions being counted as long as the frame's partitioning is
    already fixed — a committed snapshot's scan or a materialized
    cache, which is what both callers pass."""
    keys = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "1",
    }
    old = {k: spark.conf.get(k) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _arrow(rows: list[dict], schema: StructType) -> pa.Table:
    return pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))


def collect_lineage(*lineage: DataFrame) -> pa.Table:
    """Collect ``partition_lineage`` frames (unioned) to the driver in
    one Spark job, as a LINEAGE-schema table for ``TableIO.write``."""
    df = reduce(DataFrame.unionByName, lineage)
    with _one_job(df.sparkSession):
        rows = df.collect()
    return _arrow([r.asDict() for r in rows], LINEAGE)


def metrics_rows(run_id: str, stage: str, values: dict[str, float]) -> list[dict]:
    return [
        {"run_id": run_id, "stage": stage, "key": k, "value": float(v)}
        for k, v in values.items()
    ]


def metrics_table(run_id: str, stage: str, values: dict[str, float]) -> pa.Table:
    return _arrow(metrics_rows(run_id, stage, values), METRICS)


class StageTimer:
    """Context manager: wall-clock a stage for lineage/metrics."""

    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall_ms = int((time.perf_counter() - self.t0) * 1000)
        return False
