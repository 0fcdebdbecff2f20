"""Lineage cuts for iterative plans, deployment-aware.

The iterative operators (connected components, PageRank, bounded-depth
BFS) re-feed a frame into the next pass, so the unchecked plan doubles
per iteration — optimizer time explodes long before data size matters.
Each pass therefore truncates lineage.

HOW it truncates is a deployment decision, not an algorithm one:

- ``localCheckpoint()`` keeps the materialized blocks on executors —
  zero extra IO, but an executor loss makes them unrecoverable (the
  lineage that could rebuild them was just cut). Right for single-node
  and test runs, where executor loss means the whole app died anyway.
- ``checkpoint()`` writes the blocks to the fault-tolerant checkpoint
  directory (HDFS/S3) — survives any executor loss, at the cost of one
  write+read round trip per cut. Right for a 1000-executor run, where
  losing one executor mid-iteration 7 of 8 must not restart the job.
  (Bare ``checkpoint()`` does NOT cache, unlike ``localCheckpoint``:
  the write job and every consumer of a multi-consumer frame
  (triangle_count's oriented edges feed three join branches) would each
  recompute it — the persist-before-checkpoint caveat. ``cut_lineage``
  therefore persists the input of a reliable cut and registers the
  persist for a post-consumption ``release_cuts()``.)

``cut_lineage`` picks by the session's own deployment signal: a
cluster submit sets ``spark.sparkContext.setCheckpointDir(<dfs path>)``
once at startup and every iterative operator in the repo becomes
fault-tolerant with no code change; without a checkpoint dir the cut
stays executor-local. tests/test_scale.py pins the equivalence (same
results both modes, reliable files actually written).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

# Frames persisted by reliable cuts and managed_persist. A cut cannot
# unpersist its input (the write happens at the frame's first action,
# after cut_lineage returned), so each persist would pin a cached copy
# for the session — one per pass per iterative query.
# The contract: a run harness calls release_cuts() AFTER consuming each
# query's result (bench.py and scripts/diffcheck.py do; a long-lived
# cluster job should too), so the registry drains per query instead of
# growing for the session. Releasing must NOT happen at the next
# builder's start: in a build-all-then-run flow that would unpersist a
# previously built query's frames BEFORE its first action, and every
# reliable checkpoint write would recompute its input — the exact
# multi-consumer recompute the persist exists to prevent (module doc).
# Post-consumption, release is pure cleanup: the checkpoint files serve
# all further reads. Pre-consumption it is still SAFE (persist is a
# recompute-avoidance hint, never a correctness dependency) — just
# slow, so the hook is placed after actions, never before.
_PENDING_UNPERSIST: list[DataFrame] = []
_PENDING_LOCK = threading.Lock()


def release_cuts() -> int:
    """Unpersist every frame a reliable cut (or managed_persist)
    persisted and clear the registry; returns how many. Call after
    consuming a query's result (see the registry comment above).
    Idempotent and safe at any time — a released frame's checkpoint
    (materialized or not) still serves its consumers; an unmaterialized
    one merely recomputes once more at its first action."""
    with _PENDING_LOCK:
        frames = list(_PENDING_UNPERSIST)
        _PENDING_UNPERSIST.clear()
    for f in frames:
        try:
            f.unpersist()
        except Exception:
            pass  # session already stopped — nothing left to release
    return len(frames)


def _uncached(df: DataFrame) -> bool:
    """True when Spark's cache manager holds no entry covering ``df``
    (neither this handle nor a plan-equal frame someone else persisted).
    One storageLevel lookup — it canonicalizes the plan under the
    cache-manager lock, so callers bind the answer once."""
    lvl = df.storageLevel
    return lvl.useMemory is False and lvl.useDisk is False


def managed_persist(df: DataFrame) -> DataFrame:
    """persist() registered for the post-consumption ``release_cuts()``
    drain — for operators whose plan branches over a bounded
    intermediate (frequent_items' candidate frame, an ANN corpus
    feeding training + routing + rerank). A bare ``.persist()`` inside
    an operator pins executor storage for the session with no release
    path; this gives it the same per-query lifecycle the reliable
    checkpoint persists have. Skips (and does not register) frames
    Spark's cache manager already covers — plan-equal to a live cache
    entry, or persisted by a caller/memo that owns the lifecycle.
    (Session-lifetime memo frames guard the other ordering — a managed
    entry registered first, then shared by the memo's no-op persist —
    by re-pinning on access: ensure_persisted.)"""
    if _uncached(df):
        df.persist()
        with _PENDING_LOCK:
            _PENDING_UNPERSIST.append(df)
    return df


def ensure_persisted(df: DataFrame) -> DataFrame:
    """Re-pin a frame whose cache an external release may have dropped
    — the self-healing accessor for session-lifetime memoized frames,
    whose no-op persist may have silently shared a managed entry that
    release_cuts() later drained. NOT registered for release: the
    caller owns a session lifecycle."""
    if _uncached(df):
        df.persist()
    return df


def cut_lineage(df: DataFrame) -> DataFrame:
    """Truncate ``df``'s plan lineage, reliably if the session has a
    checkpoint directory configured, executor-locally otherwise.

    The cut adds no job of its own: the frame materializes and caches at
    the first job that reads it. Taking the cut still executes the
    physical plan, so under adaptive query execution every shuffle stage
    above the cut runs then — AQE finishes those stages to plan the
    rest — and a build that cuts a shuffled frame runs jobs."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        managed_persist(df)  # persist-before-checkpoint (module doc)
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)
