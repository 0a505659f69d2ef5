"""Cache-lifecycle control for plan-builder operators. Two mechanisms:

- **Tagged caches.** Several operators (``incremental_dedup_frames``,
  ``train_logreg`` / ``distill_quality_classifier``, the gopher quality
  slot) cache small intermediate frames that the RETURNED plan
  references — the cache is what keeps a multi-consumer or per-epoch
  lineage linear. Unpersisting inside the builder would defeat that, so
  **the caller owns the cache lifecycle**: builders tag the returned
  DataFrame with its intermediates (:func:`tag_caches`); call
  :func:`unpersist_intermediates` after the consuming action (or
  ``spark.catalog.clearCache()`` between unrelated workloads, as
  ``bench.py`` does) to release the executor-memory blocks in
  long-lived sessions.
- **Tracked checkpoints.** Plan-truncating ``localCheckpoint`` blocks
  that ``clearCache`` cannot see are registered through
  :func:`tracked_local_checkpoint` and released at the next slot
  boundary by :func:`release_checkpoints` (``configure_session``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_ATTR = "_xda_intermediate_caches"


def tag_caches(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Attach ``cached`` (already ``.cache()``-ed) frames to ``result``
    so the caller can release them once the result is consumed.

    Limitation: the tag is a Python attribute on THIS DataFrame object —
    any further transformation (``result.filter(...)``, ``select``,
    checkpoint) returns a NEW object without the tag, and
    :func:`unpersist_intermediates` on that derived frame is a no-op.
    Callers must either unpersist via the originally returned frame, or
    re-tag the derived frame with ``tag_caches(derived,
    *get_tagged_caches(result))`` before discarding the original."""
    existing = list(getattr(result, _ATTR, ()))
    setattr(result, _ATTR, existing + list(cached))
    return result


def get_tagged_caches(df: DataFrame) -> tuple[DataFrame, ...]:
    """The intermediate caches tagged on ``df`` (empty for untagged
    frames). Public accessor for builders that compose other builders'
    results — merge with ``tag_caches(outer, *get_tagged_caches(inner))``
    instead of reaching into the private attribute."""
    return tuple(getattr(df, _ATTR, ()))


def unpersist_intermediates(df: DataFrame, blocking: bool = False) -> int:
    """Unpersist every intermediate cache tagged on ``df`` (no-op for
    untagged frames — including frames DERIVED from a tagged frame, see
    :func:`tag_caches`). Returns the number of frames released. Call
    only AFTER the consuming action — the result plan reads these
    caches."""
    cached = getattr(df, _ATTR, ())
    for c in cached:
        c.unpersist(blocking=blocking)
    n = len(cached)
    if cached:
        setattr(df, _ATTR, [])
    return n


# ---------------------------------------------------------------------------
# localCheckpoint lifecycle (round 14 — VERDICT r13 #5)
# ---------------------------------------------------------------------------
#: ``spark.catalog.clearCache()`` (the bench's between-slot teardown)
#: only clears SQL-cached relations; the RDD blocks a ``localCheckpoint``
#: pins in executor storage stay until the driver GCs the DataFrame and
#: the ContextCleaner gets around to them. In a 50-slot single-JVM bench
#: that is storage pressure bleeding into later slots. Operators create
#: their plan-truncation checkpoints through
#: :func:`tracked_local_checkpoint`, and ``configure_session`` (the first
#: statement of every query body) drains the registry — by then the
#: previous slot's plans are dead, so their blocks are safe to drop.
_SESSION_CHECKPOINTS: list[DataFrame] = []


def tracked_local_checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint(eager)`` + registration for deferred release.

    CAUTION: a locally-checkpointed frame has NO lineage — once released
    it cannot be recomputed. Only register checkpoints whose consuming
    plans die with the slot (the operator-internal plan truncations);
    session-lived fixtures must keep using the untracked call."""
    out = df.localCheckpoint(eager=eager)
    _SESSION_CHECKPOINTS.append(out)
    return out


def release_checkpoints(blocking: bool = False) -> int:
    """Unpersist the RDD blocks behind every tracked checkpoint and empty
    the registry. Returns the number of frames released. Safe on
    never-materialized (lazy) checkpoints — unpersist is then a no-op."""
    from py4j.protocol import Py4JError

    global _SESSION_CHECKPOINTS
    frames, _SESSION_CHECKPOINTS = _SESSION_CHECKPOINTS, []
    released = 0
    for df in frames:
        try:
            # Dataset.localCheckpoint returns a plan that IS a LogicalRDD
            # holding the persisted RDD; DataFrame.unpersist only talks
            # to the SQL cache manager, so reach the RDD directly.
            plan = df._jdf.queryExecution().analyzed()
            if plan.getClass().getSimpleName() == "LogicalRDD":
                plan.rdd().unpersist(blocking)
                released += 1
        except Py4JError:
            # a dead JVM / already-collected RDD is not worth failing
            # the NEXT slot over
            pass
    return released


def tracked_checkpoint_count() -> int:
    """Live (not yet released) tracked checkpoints — test/audit surface."""
    return len(_SESSION_CHECKPOINTS)
