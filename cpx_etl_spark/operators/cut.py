"""The one lineage cut, and the one executor-loss policy for every cut.

Every lineage cut in the package goes through :func:`cut`; no other
module calls ``localCheckpoint`` or ``checkpoint`` (tests/test_cut.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

_POLICIES = ("local", "reliable")


def cut(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize ``df`` and truncate its lineage.

    A cut pays where one frame feeds several consumers (each would
    otherwise re-run the subtree behind it) or where a loop would grow
    its plan on every iteration. Each call site outside a loop carries a
    ``# kept:`` line with the A/B that justified it (PERF.md, "Cuts").

    Policy, from ``$SPARK_GRAFT_INDEX_MATERIALIZE``:

    - ``local`` (default): ``localCheckpoint``. The blocks live in the
      executors' block managers, unreplicated, and the lineage behind
      them is gone. If an executor is lost (crash, preemption, dynamic
      allocation releasing it) the query fails with a missing-block
      error and must be rerun from the start; nothing is recomputed
      from the parquet inputs. Fine on one box or static executors.
    - ``reliable``: ``checkpoint`` to ``spark.checkpoint.dir`` (which
      must be set, e.g. on HDFS or object storage). The blocks survive
      executor loss, at the price of writing every cut to that store and
      reading it back: each cut pays a full write of its rows plus the
      file listing, and nothing is cleaned up until the directory is.

    Any other value raises ``ValueError``.

    Under AQE ``eager=False`` is not lazy: building the checkpoint RDD
    plans the frame, and AQE runs every upstream shuffle stage as its
    own job at that moment. A query with cuts therefore runs Spark jobs
    while it is being constructed (``dedup_minhash_lsh`` runs 8 before
    it returns). ``eager=True`` also runs the final stage and counts the
    rows.
    """
    policy = os.environ.get("SPARK_GRAFT_INDEX_MATERIALIZE", "local")
    if policy == "local":
        return df.localCheckpoint(eager=eager)
    if policy == "reliable":
        return df.checkpoint(eager=eager)
    raise ValueError(
        f"SPARK_GRAFT_INDEX_MATERIALIZE={policy!r}: expected one of "
        + ", ".join(_POLICIES)
    )
