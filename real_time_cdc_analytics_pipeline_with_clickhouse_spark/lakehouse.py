"""Optional lakehouse-native storage path (SURVEY.md §2.6 K1/J2).

The warehouse MERGE and dimension publish are emulated over plain
parquet (streaming/pipeline.py) because this container ships neither
delta-spark nor Iceberg.  This module is the NATIVE path for
environments that have Delta Lake on the classpath: real ``MERGE
INTO`` through the transaction log (per-partition data skipping, ACID
commit, no staging dirs) and transactional dimension overwrites
(snapshot isolation replaces the ``_CURRENT`` pointer emulation).

Availability is probed the same way session.py guards the RocksDB
state store: a Python-import plus JVM-classload check, so the engine
degrades cleanly to the parquet emulation — ``merge_upsert`` is the
one entry point and dispatches per call.  Tests parametrize over both
paths and skip the delta leg when the package is absent
(tests/test_lakehouse_optional.py).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .storage import finish_interrupted_swaps
from .warehouse import MONTH_COL


def delta_available(spark: SparkSession) -> bool:
    """True when BOTH the delta-spark Python bindings and the Delta JVM
    classes are loadable (either alone is not enough to run a MERGE)."""
    try:
        import delta  # noqa: F401
    except ImportError:
        return False
    try:
        spark._jvm.java.lang.Class.forName("io.delta.tables.DeltaTable")  # type: ignore[union-attr]
        return True
    except Exception:
        return False


def is_delta_table(path: str) -> bool:
    """Cheap layout probe: a Delta table is identified by its log dir
    (no Spark session needed — usable from read_dim's resolution)."""
    return os.path.isdir(os.path.join(path, "_delta_log"))


def merge_upsert_delta(batch: DataFrame, target_dir: str, key: str, version: str) -> None:
    """K1/A2 as a REAL ``MERGE INTO`` (Delta): latest-wins per ``key``
    scoped to the batch's month partitions.

    Contract-identical to ``merge_upsert_parquet``:

    - the month-IN-list predicate on the TARGET side lets Delta's data
      skipping prune untouched partitions from the join (the emulation
      achieves this by only reading those partition dirs);
    - ``whenMatchedUpdateAll`` is conditioned on ``s.version >
      t.version`` — a re-delivered row loses the latest-wins tiebreak,
      exactly the ReplacingMergeTree contract the emulation keeps;
    - the batch is pre-compacted per key so MERGE sees a unique source
      (multiple updates per key in one batch would otherwise be a
      MERGE cardinality violation);
    - commit is transactional through the Delta log: no staged months,
      no rename window.
    """
    from delta.tables import DeltaTable

    from .operators.rollups import dedup_latest_event_version

    spark = batch.sparkSession
    batch = dedup_latest_event_version(
        batch.withColumn(MONTH_COL, F.date_format(F.col(version), "yyyyMM")),
        key=key,
        version=version,
    )
    if not DeltaTable.isDeltaTable(spark, target_dir):
        batch.write.format("delta").partitionBy(MONTH_COL).mode("overwrite").save(target_dir)
        return
    months = [r[0] for r in batch.select(MONTH_COL).distinct().collect()]
    if not months:
        return
    in_list = ", ".join(f"'{m}'" for m in months)
    (
        DeltaTable.forPath(spark, target_dir)
        .alias("t")
        .merge(
            batch.alias("s"),
            f"t.{MONTH_COL} IN ({in_list}) AND t.{MONTH_COL} = s.{MONTH_COL} "
            f"AND t.{key} = s.{key}",
        )
        .whenMatchedUpdateAll(condition=f"s.{version} > t.{version}")
        .whenNotMatchedInsertAll()
        .execute()
    )


def _is_parquet_emulation_table(path: str) -> bool:
    """An existing month-partitioned parquet target written by the
    emulation (and NOT a Delta table)."""
    return (
        not is_delta_table(path)
        and os.path.isdir(path)
        and any(f.startswith(MONTH_COL + "=") for f in os.listdir(path))
    )


def merge_upsert(batch: DataFrame, target_dir: str, key: str, version: str) -> None:
    """The one MERGE entry point: Delta-native when the package is on
    the classpath (or the target already IS a Delta table), else the
    partition-scoped parquet emulation.  Both are latest-wins per key
    within a month partition and idempotent under replay.

    Format is STICKY per table: a target already maintained by the
    parquet emulation keeps using it even after delta-spark appears on
    the classpath — the Delta bootstrap is an ``overwrite``, so routing
    an existing parquet table there would silently destroy its history
    (migrate explicitly with ``CONVERT TO DELTA`` semantics instead)."""
    from .streaming.pipeline import merge_upsert_parquet

    if not is_delta_table(target_dir):
        # a parquet table caught between a month's two renames may list
        # no month at all: finish the swap before routing on its shape
        finish_interrupted_swaps(target_dir)
    if is_delta_table(target_dir):
        merge_upsert_delta(batch, target_dir, key, version)
    elif _is_parquet_emulation_table(target_dir):
        merge_upsert_parquet(batch, target_dir, key, version)
    elif delta_available(batch.sparkSession):
        merge_upsert_delta(batch, target_dir, key, version)
    else:
        merge_upsert_parquet(batch, target_dir, key, version)


def read_merged(spark: SparkSession, path: str) -> DataFrame:
    """Read a table written by ``merge_upsert`` whichever path wrote it."""
    if is_delta_table(path):
        return spark.read.format("delta").load(path)
    return spark.read.parquet(path)


def publish_dim_delta(df: DataFrame, dim_dir: str) -> None:
    """J2 dimension publish as one transactional Delta overwrite: the
    log commit gives readers snapshot isolation — the native form of
    the versioned-dir + atomic ``_CURRENT`` pointer swap emulation."""
    df.write.format("delta").mode("overwrite").option(
        "overwriteSchema", "true"
    ).save(dim_dir)


def read_dim_delta(spark: SparkSession, dim_dir: str) -> DataFrame:
    return spark.read.format("delta").load(dim_dir)
