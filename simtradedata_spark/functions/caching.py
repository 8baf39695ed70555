"""Scratch-cache bookkeeping.

Several operators pin intermediates for the duration of one query —
minhash signatures before the self-join, the per-customer RFM frame, the
connected-components edge list (localCheckpoint per round). Spark has no
"persist until this query's action finishes" scope, so in a long-lived
session those blocks accumulate: a 120-query bench run measurably slowed
its tail queries by seconds once storage memory filled.

``release_scratch`` frees every persistent RDD that is NOT registered as a
session-lifetime cache. Long-lived caches (the memoized synthetic-market
bars, the PTrade client's pinned tables) take a ``snapshot`` before
materializing and call ``protect_new`` right after, which registers exactly
the RDD ids they added; everything else is, by definition, scratch.
Harness/bench code calls ``release_scratch`` between queries; library
callers may call it after a batch job.

Freeing is safe for ``persist()`` frames (they lazily re-cache on reuse)
but DESTROYS ``localCheckpoint`` data (lineage is truncated — there is
nothing to recompute from), which is exactly why checkpointed memos must
be protected and why scratch checkpoints must never be reused across
queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_PROTECTED: set[int] = set()

# Scratch DataFrames registered by ``scratch_persist``, as (seq, frame).
# WHY frames and not just RDD ids: unpersisting a SQL-cached frame through
# its underlying RDD leaves the CacheManager ENTRY alive — a later,
# logically-identical ``persist()`` looks the plan up, finds the dead
# entry ("already cached"), becomes a silent NO-OP, and every consumer
# recomputes the frame from source. That was the r9 1000x intra-session
# drift: run-2 of a bench twin re-persisted the same staging plan after
# release_scratch, cached nothing, and re-tokenized the corpus once per
# consumer (measured 125 s -> 252 s; heap/broadcast telemetry was clean).
# ``DataFrame.unpersist()`` removes the CacheManager entry AND the blocks,
# so release helpers drain this registry FIRST, then sweep raw RDD ids
# for whatever remains (localCheckpoints, third-party persists).
_SCRATCH_FRAMES: list[tuple[int, DataFrame]] = []
_SEQ = [0]


def scratch_persist(df: DataFrame, level=None) -> DataFrame:
    """``persist()`` for operator-internal SCRATCH frames. Registers the
    frame so ``release_scratch``/``release_new`` unpersist it through the
    Dataset API (clearing Spark's CacheManager entry) instead of the raw
    RDD handle — see ``_SCRATCH_FRAMES``. Session-lifetime memos must NOT
    use this; they keep ``persist()`` + ``protect_new``."""
    out = df.persist(level) if level is not None else df.persist()
    _SEQ[0] += 1
    _SCRATCH_FRAMES.append((_SEQ[0], out))
    return out


def _drain_scratch_frames(min_seq: int = 0) -> int:
    """Dataset-API-unpersist every registered scratch frame with
    seq > ``min_seq``; returns how many. Dead-session frames are dropped
    silently (their blocks died with the context)."""
    global _SCRATCH_FRAMES
    freed = 0
    keep = []
    for seq, df in _SCRATCH_FRAMES:
        if seq <= min_seq:
            keep.append((seq, df))
            continue
        try:
            df.unpersist(False)
            freed += 1
        except Exception:
            pass  # stopped session / dead JVM handle — nothing to free
    _SCRATCH_FRAMES = keep
    return freed


class _Snapshot(set):
    """Set of persistent RDD ids + the scratch-registry sequence at
    snapshot time (``seq``), so release_new can scope BOTH sweeps."""

    seq: int = 0


def _jmap(spark: SparkSession):
    return spark.sparkContext._jsc.getPersistentRDDs()


def snapshot(spark: SparkSession) -> set[int]:
    """Current persistent RDD ids — take one BEFORE materializing a
    session-lifetime cache, pass it to ``protect_new`` after."""
    s = _Snapshot(int(k) for k in _jmap(spark).keySet().toArray())
    s.seq = _SEQ[0]
    return s


def protect_new(spark: SparkSession, before: set[int]) -> None:
    """Mark RDDs persisted since ``before`` as session-lifetime. The diff
    form protects exactly the memo being built, never scratch that happens
    to be alive at the same moment."""
    _PROTECTED.update(snapshot(spark) - before)


def release_scratch(spark: SparkSession) -> int:
    """Unpersist all non-protected persistent RDDs; returns how many.

    Session-wide: frees OTHER owners' scratch too, so only harness/bench
    code that owns the whole session should call this. Library code must
    use ``scratch_scope``/``release_new`` instead — they free only the
    frames persisted inside the scope, leaving caller persists (and,
    critically, caller ``localCheckpoint`` data, which CANNOT be
    recomputed) untouched."""
    return release_new(spark, set())


def release_new(
    spark: SparkSession, before: set[int], keep: set[int] | None = None
) -> int:
    """Unpersist only the non-protected RDDs persisted since ``before``
    (a ``snapshot``). The scoped dual of ``protect_new`` — an operator
    frees exactly its own scratch, never a caller's persists or
    localCheckpoints. ``keep`` exempts specific RDD ids (a stage barrier
    that later stages still read — the curation chain frees each finished
    stage's scratch while its newest barrier stays live). Returns how many
    were freed."""
    freed = _drain_scratch_frames(getattr(before, "seq", 0))
    m = _jmap(spark)
    for k in list(m.keySet().toArray()):
        kid = int(k)
        if kid not in before and kid not in _PROTECTED and not (
            keep and kid in keep
        ):
            m.get(k).unpersist(False)
            freed += 1
    return freed


class scratch_scope:
    """Context manager: everything persisted inside the ``with`` block that
    is not ``protect_*``-ed is unpersisted on exit. Wrap a library call to
    a persist-heavy operator (``full_curation``) PLUS the final action that
    consumes its result::

        with scratch_scope(spark):
            flagged = full_curation(docs, ...)
            flagged.write.parquet(out)   # action runs while barriers live

    Single-threaded driver assumption: frames a concurrent thread persists
    during the scope would be swept too."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.freed = 0

    def __enter__(self) -> "scratch_scope":
        self._before = snapshot(self.spark)
        return self

    def __exit__(self, *exc) -> None:
        self.freed = release_new(self.spark, self._before)
