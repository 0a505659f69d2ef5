"""Cache lifecycle for plan-builder operators: one registry, one release.

An executor cache outlives the Python object that made it, so dropping
a DataFrame frees nothing. Every cache an operator or a slot builder
makes goes through :func:`tracked_cache`, and every plan-truncating
``localCheckpoint`` through :func:`tracked_local_checkpoint`; both
register the frame here. :func:`release` frees every registered frame
and empties the registry. ``configure_session`` (the first statement of
every query body) calls it, and so does the bench after each slot, so a
slot's storage blocks never bleed into the next.

The two kinds differ in when a release is safe:

- A **cache** keeps its lineage. A plan that reads a released cache
  recomputes it, so releasing early costs time, never correctness:
  release any time after the consuming action.
- A **local checkpoint** has no lineage. Once released, a plan that
  still reads it fails. Release only at a slot boundary, when the plans
  that read it are dead. Session-lived checkpoints (``catalog.points_df``)
  must not be registered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# (frame, is_checkpoint) for every cache and checkpoint not yet released
_TRACKED: list[tuple[DataFrame, bool]] = []


def tracked_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` + registration for :func:`release`."""
    out = df.cache()
    _TRACKED.append((out, False))
    return out


def tracked_local_checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint(eager)`` + registration for :func:`release`.

    CAUTION: a locally-checkpointed frame has NO lineage — once released
    it cannot be recomputed. Only register checkpoints whose consuming
    plans die with the slot (the operator-internal plan truncations)."""
    out = df.localCheckpoint(eager=eager)
    _TRACKED.append((out, True))
    return out


def release(blocking: bool = False) -> int:
    """Unpersist every tracked cache and checkpoint and empty the
    registry. Returns the number of frames released. Safe on frames
    never materialized (unpersist is then a no-op)."""
    from py4j.protocol import Py4JError

    global _TRACKED
    frames, _TRACKED = _TRACKED, []
    released = 0
    for df, is_checkpoint in frames:
        try:
            if is_checkpoint:
                # Dataset.localCheckpoint returns a plan that IS a
                # LogicalRDD holding the persisted RDD; DataFrame.unpersist
                # only talks to the SQL cache manager, so reach the RDD.
                plan = df._jdf.queryExecution().analyzed()
                if plan.getClass().getSimpleName() != "LogicalRDD":
                    continue
                plan.rdd().unpersist(blocking)
            else:
                df.unpersist(blocking)
            released += 1
        except Py4JError:
            # a dead JVM / already-collected RDD is not worth failing
            # the NEXT slot over
            pass
    return released


def tracked_count() -> int:
    """Tracked frames not yet released — test/audit surface."""
    return len(_TRACKED)


# The benchmark harness (perfbench/, kept unchanged so runs stay
# comparable across versions) imports these two names; both free
# everything. ``unpersist_intermediates`` ignores the frame it is passed.
release_checkpoints = release


def unpersist_intermediates(
    _df: DataFrame | None = None, blocking: bool = False
) -> int:
    return release(blocking)
