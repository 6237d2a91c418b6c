"""The JVM's persistent-RDD registry, which holds every RDD with
storage blocks: persisted caches and ``localCheckpoint`` generations.
The tests read it to check that each block has an owner that frees it
(``session.QueryRun``, or an eager operator's own ``finally``)."""

from __future__ import annotations


def persistent_rdd_ids(spark, checkpointed_only: bool = False) -> set[int]:
    """Ids of the RDDs that hold blocks; with ``checkpointed_only``, of
    the localCheckpoint generations alone."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    ids = set(jmap.keySet().toArray())
    if not checkpointed_only:
        return ids
    return {i for i in ids if jmap.get(i).rdd().isLocallyCheckpointed()}


def spy_live_generations(spark, monkeypatch) -> list[int]:
    """Patch the session's DataFrame class so that each
    ``localCheckpoint`` call first notes how many checkpoint
    generations made since the patch still hold blocks; returns the
    list the notes go to."""
    before = persistent_rdd_ids(spark, checkpointed_only=True)
    live: list[int] = []
    df_cls = type(spark.range(0))
    real = df_cls.localCheckpoint

    def spy(self, eager=True):
        live.append(len(persistent_rdd_ids(spark, checkpointed_only=True) - before))
        return real(self, eager)

    monkeypatch.setattr(df_cls, "localCheckpoint", spy)
    return live
