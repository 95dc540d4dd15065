"""Parquet-based lineage cutting for iterative operators.

Iterative graph algorithms (connected components, SSSP, closure) embed
each round's plan inside the next — often TWICE (join + union /
dist + frontier) — so the optimizer tree grows exponentially in rounds
and the DRIVER OOMs long before the data does.  The cure is a true
lineage cut every round.

Spark's own checkpoint()/localCheckpoint() would be the natural tool,
but Spark 4.1 dies with `NoSuchElementException: key not found: <attr>`
when re-checkpointing plans that reference earlier checkpoint
generations across loop iterations (reproduced in
pipeline/canonicalize.py, where this pattern originated).  A parquet
write + read-back is semantically the same reliable checkpoint —
materialized, lineage gone — and a fresh scan mints brand-new attribute
ids every round, so nothing can go stale.  On a cluster, set the Spark
checkpoint dir to DFS and the same code path survives executor loss.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def parquet_cutter(
    spark: SparkSession, prefix: str = "omx-cut-"
) -> Callable[[DataFrame], DataFrame]:
    """Returns cut(df) -> df': writes df to a fresh parquet dir under
    the session checkpoint dir and reads it back.

    A configured checkpoint dir (DFS on a cluster) always wins.
    Otherwise each cutter gets its own mkdtemp under tempfile's
    directory (OMX_CC_CUT_DIR overrides the parent), removed at
    interpreter exit — the frames a cutter returns are lazy scans of
    its files, so they must outlive the call that made them."""
    base = spark.sparkContext.getCheckpointDir()
    if not base:
        base = tempfile.mkdtemp(prefix=prefix, dir=os.environ.get("OMX_CC_CUT_DIR"))
        atexit.register(shutil.rmtree, base, True)
    seq = [0]

    def cut(df: DataFrame) -> DataFrame:
        path = os.path.join(base, f"{prefix}{seq[0]}")
        seq[0] += 1
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    return cut
