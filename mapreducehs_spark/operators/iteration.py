"""The materialization lifetime contract: ``with materialize(spark) as m:``.

Every persist and every localCheckpoint in the engine is made through a
scope, never by hand, so that no intermediate outlives the query that
made it — the Spark analog of the reference engine, which resets its
shuffle store before each run and keeps no stage output past the
pipeline (reference ``src/Impl.hs:96``, ``src/Core/Store.hs:70-75``).

What is freed when:

- ``m.persist(df)`` caches ``df`` through the CacheManager;
  ``m.checkpoint(df, eager=...)`` localCheckpoints it.  Both return the
  materialized frame and register it with the scope.
- ``m.free(df)`` releases one registered frame early — the per-round
  frames of iterative loops (q96, q108, s12, d28, the dedup closure),
  once the next round has materialized.
- Leaving the scope, normally or by an exception, frees everything
  still registered, newest first.  A builder that registers a persist
  and then fails therefore leaks nothing.

Who owns the result: ``m.result(df)`` is an eager localCheckpoint that
is NOT registered — the one frame handed out of the scope.  Because it
is materialized before the scope frees the inputs it was computed from,
the "checkpoint the result before unpersisting its inputs" ordering
holds by construction.  A query that returns a lazy frame may hand
out, instead, the checkpoint that frame reads.  Helpers that persist
internally and return a lazy frame take the caller's ``m`` and return
only the frame.

Why checkpoints need the registry diff: ``DataFrame.unpersist()`` is a
no-op on a checkpointed frame.  ``Dataset.localCheckpoint`` persists
its internal RDD directly, not through the CacheManager, so the blocks
would linger until the JVM garbage-collects the RDD reference.
``m.checkpoint`` diffs the SparkContext's persistent-RDD registry
around the call and frees exactly the newly registered RDDs (pinned in
tests/test_operators.py::test_materialize_scope_releases_blocks).
Freed blocks are gone for good — re-reading a freed checkpoint raises
``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` — so free only what nothing will
read again.  The diff assumes no other driver thread persists
concurrently, true for these single-threaded driver loops.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession


class Materialization:
    """The handle ``materialize`` yields (see the module docstring)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._held: list[tuple[DataFrame, Callable[[], None]]] = []

    def persist(self, df: DataFrame) -> DataFrame:
        out = df.persist()
        self._held.append((out, lambda: out.unpersist(blocking=False)))
        return out

    def checkpoint(self, df: DataFrame, eager: bool = True) -> DataFrame:
        jsc = self.spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs().keySet().toArray())
        out = df.localCheckpoint(eager=eager)
        jmap = jsc.getPersistentRDDs()
        fresh = [jmap[k] for k in jmap.keySet().toArray() if k not in before]

        def release() -> None:
            for rdd in fresh:
                try:
                    rdd.unpersist(False)
                except Exception:
                    pass  # already cleaned by ContextCleaner — nothing to free

        self._held.append((out, release))
        return out

    def free(self, df: DataFrame) -> None:
        for i, (held, release) in enumerate(self._held):
            if held is df:
                del self._held[i]
                release()
                return
        raise ValueError("free(): frame is not held by this scope")

    def result(self, df: DataFrame) -> DataFrame:
        return df.localCheckpoint()

    def _close(self) -> None:
        while self._held:
            self._held.pop()[1]()


@contextmanager
def materialize(spark: SparkSession) -> Iterator[Materialization]:
    m = Materialization(spark)
    try:
        yield m
    finally:
        m._close()
