"""Lineage pins — ``localCheckpoint`` with explicit, deterministic release.

Several operators pin multiply-consumed intermediates with
``localCheckpoint`` (guide §2.4/§5: one materialization instead of N
replays of the upstream subtree).  r11's ADVICE flagged two costs of the
raw call this module now owns:

1. **Release.**  Checkpoint blocks live in the block manager until Spark's
   ContextCleaner notices the RDD is garbage — which, inside a tight
   multi-query session, effectively never happens on its own (measured:
   graph_triangle_count ran 8.6 s straight after graph_pagerank vs 4.2 s
   clean — query k was paying for query k-1's leftover blocks).  ``pin``
   registers the checkpoint RDD handle; :func:`release_pins` unpersists
   every registered pin in one deterministic pass.  Call it BETWEEN
   queries, after the previous query's result has been fully consumed:
   release truncates lineage AND drops the data, so a released DataFrame
   cannot be recomputed (re-collecting it raises
   ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``).  bench.py calls it in its
   untimed inter-query reap; library sessions running several operators
   back-to-back should do the same.

2. **Fault tolerance.**  ``localCheckpoint`` stores non-replicated
   executor-local blocks: on a cluster, losing an executor mid-query
   fails the query (fail-stop, never wrong — the GraphX trade).  For
   long corpus-scale runs under preemption set
   ``HSEP_RELIABLE_CHECKPOINT=1`` and a ``spark.sparkContext
   .setCheckpointDir(...)``: every pin then uses a RELIABLE checkpoint
   (HDFS/object-store blocks, recomputable after executor loss) at the
   cost of a write to stable storage.  Local runs and the bench keep the
   fast path.
"""

from __future__ import annotations

import os
import threading
import warnings

from pyspark.sql import DataFrame

_LOCK = threading.Lock()
_PINNED: list = []  # py4j handles of live checkpoint RDDs, FIFO


def pin(df: DataFrame, eager: bool = False) -> DataFrame:
    """Checkpoint ``df`` (lazy by default) and register it for release.

    Lazy is the operators' default: the first downstream action
    materializes the blocks, so constructing a query runs no extra job.

    Under ``HSEP_RELIABLE_CHECKPOINT`` with no checkpoint dir set on the
    SparkContext, pin warns and falls back to ``localCheckpoint``; any
    other reliable-checkpoint failure propagates.
    """
    if os.environ.get("HSEP_RELIABLE_CHECKPOINT"):
        sc = df.sparkSession.sparkContext
        if sc._jsc.sc().getCheckpointDir().isDefined():
            return df.checkpoint(eager=eager)
        warnings.warn(
            "HSEP_RELIABLE_CHECKPOINT is set but the SparkContext has no "
            "checkpoint dir; pinning with a non-replicated localCheckpoint",
            RuntimeWarning,
            stacklevel=2,
        )
    cp = df.localCheckpoint(eager=eager)
    try:
        handle = cp._jdf.queryExecution().logical().rdd()
        with _LOCK:
            _PINNED.append(handle)
    except Exception:
        pass  # registration is best-effort; GC remains the backstop
    return cp


def unpin(df: DataFrame) -> None:
    """Immediately drop one pinned DataFrame's blocks (non-blocking).

    For operator-internal use where a pin is provably dead (e.g. a
    superseded iteration's label table after the next round has
    materialized).  The DataFrame must never be computed again.
    """
    try:
        handle = df._jdf.queryExecution().logical().rdd()
        handle.unpersist(False)
        with _LOCK:
            for i, h in enumerate(_PINNED):
                if h.equals(handle):
                    del _PINNED[i]
                    break
    except Exception:
        pass


def release_pins() -> int:
    """Unpersist every registered pin; returns how many were released.

    Call only between queries, after all results derived from prior
    operator calls have been materialized/collected — released pins are
    unrecoverable (lineage was truncated at pin time).
    """
    released = 0
    with _LOCK:
        handles, _PINNED[:] = _PINNED[:], []
    for h in handles:
        try:
            h.unpersist(False)
            released += 1
        except Exception:
            pass
    return released


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The ``explain`` text of ``df`` as a string (never printed)."""
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )
