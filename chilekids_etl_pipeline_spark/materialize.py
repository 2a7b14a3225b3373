"""The one materialization point of the query plans.

A query plan pins a subtree when several of its consumers would
otherwise each recompute it (SQL CTEs inline in Spark). Every such pin
goes through ``materialize``, which also owns its release: a session
holds at most one build's table per site name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# site name -> (pinned frame, eager) of the last build under that name
_PINNED: dict[str, tuple[DataFrame, bool]] = {}


def materialize(df: DataFrame, name: str, *, eager: bool) -> DataFrame:
    """Pin ``df`` for the plan being built and register it as temp view
    ``name``; return the pinned frame.

    ``eager=False`` is a lazy ``persist()``: the cache fills during the
    first action that reads it, so consumers that start as concurrent
    stages may still race it, but nothing runs at build time.
    ``eager=True`` is an eager ``localCheckpoint()``: one blocking job
    now, after which consumers read the blocks by reference, so the
    subtree runs exactly once.

    Lifetime: a name holds one table. Pinning under a name first releases
    the table pinned under it before, so no build reads another build's
    cache and repeated builds do not accumulate storage. A frame built by
    an entry therefore stays valid until that site is built again; after
    that a lazy pin recomputes from its lineage and an eager pin's blocks
    are gone. Names are unique per site; a helper shared by several
    entries takes its name from the caller. Lazy pins of identical plans
    share one cache entry, so releasing either drops it: that costs the
    other a recompute, never a wrong result.
    """
    old = _PINNED.pop(name, None)
    if old is not None:
        _release(*old)
    pinned = df.localCheckpoint(eager=True) if eager else df.persist()
    pinned.createOrReplaceTempView(name)
    _PINNED[name] = (pinned, eager)
    return pinned


def _release(df: DataFrame, eager: bool) -> None:
    try:
        if eager:
            # unpersist() does not reach a checkpoint: its blocks belong
            # to the LogicalRDD's RDD, not to the cache manager
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        else:
            df.unpersist()
    except Exception:
        # the session that pinned it is gone, and its storage with it
        pass
