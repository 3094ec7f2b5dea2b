"""Per-partition lineage (north_rule B9).

`lineage_table`: a mapInPandas pass emitting one row per partition
(partition_id, rows, min/max of a key, sha256 of sorted keys) — a durable
side table that joins stage outputs to their inputs, the row-level analog
of the reference's md5 content keys (reference index.js:806-826).

Live stage row counts come from `DataFrame.observe` (an `Observation`
read after the action), not accumulators, which over-count when Spark
re-runs a task.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

LINEAGE_SCHEMA = (
    "partition_id int, n_rows long, key_min string, key_max string, keys_sha256 string"
)


def lineage_table(df: DataFrame, key_col: str) -> DataFrame:
    """One row per partition: counts + key range + content hash of the
    sorted key set (order-insensitive, so repartitioning upstream does not
    change the aggregate lineage of identical content)."""
    from pyspark.sql import functions as F

    with_pid = df.select(
        F.spark_partition_id().alias("partition_id"), F.col(key_col).cast("string").alias("k")
    )

    def _per_partition(batch_iter):
        pid = -1
        keys: list = []
        n = 0
        for pdf in batch_iter:
            if len(pdf):
                pid = int(pdf["partition_id"].iloc[0])
                n += len(pdf)
                keys.append(pdf["k"].to_numpy())
        if n == 0:
            return
        allk = np.sort(np.concatenate(keys))
        h = hashlib.sha256()
        for k in allk:
            h.update(str(k).encode())
            h.update(b"\x00")
        yield pd.DataFrame(
            {
                "partition_id": [pid],
                "n_rows": [n],
                "key_min": [str(allk[0])],
                "key_max": [str(allk[-1])],
                "keys_sha256": [h.hexdigest()],
            }
        )

    return with_pid.mapInPandas(_per_partition, LINEAGE_SCHEMA)
