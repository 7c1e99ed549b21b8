"""Release contract for operator-persisted artifacts.

Several operators persist reusable artifacts for the life of the session
(documented in their docstrings): the LSH band index
(``dedup.minhash_lsh_pairs`` / ``_lsh_band_pairs``), the cascade's shared
shingle index, ``corpus.token_budget_selection``'s tokenized frame,
``corpus.global_quality_rank``'s binned frame, and the ``localCheckpoint``s
backing ``graph.connected_components`` labels and
``dedup.keep_best_representative``. That is the right default for batch
jobs — the artifacts amortize across the job and the process exit frees
them — but a long-lived session composing many pipelines would accumulate
cached blocks indefinitely (LRU-evictable, never released).

This module makes the lifetime contract *enforceable* without changing any
operator's signature or behavior:

- Every operator-persisted artifact self-registers here at creation time.
- :func:`scope` is a context manager that releases everything registered
  inside its block on exit — wrap one pipeline composition and its
  artifacts die with it.
- :func:`release` frees one registered frame early, once the results
  derived from it are materialized (e.g. each fixpoint round's labels).
- :func:`release_all` frees every artifact registered so far in the
  session (e.g. between pipeline phases of a long-lived driver).

Each artifact is freed by its own handle — the cached Dataset, or the RDD
under the checkpoint's ``LogicalRDD`` leaf — never by diffing the
SparkContext's persistent-RDD map, so frames the caller or another thread
persisted meanwhile are never touched.

Release semantics differ by artifact kind, and the distinction matters:

- **persist-backed** frames (the band/shingle/token/binned indexes)
  recompute from lineage after release — downstream results stay correct,
  later actions just pay the rebuild.
- **checkpoint-backed** frames (CC labels, keep_best's components) have
  their lineage truncated by ``localCheckpoint``; releasing them frees the
  blocks but makes any frame still referencing them ONE-SHOT INVALID.
  Release these only after the results derived from them are materialized
  (written, collected, or re-checkpointed).

The registry is shared by all driver threads: a scope owns whatever any
thread registers while it is open (e.g. the legs of a driver thread pool
started inside it).
"""

from __future__ import annotations

import threading
import weakref
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass
class _Artifact:
    # the Python DataFrame is held WEAKLY (the registry must not keep
    # caller-dropped frames alive for the session; release() finds the
    # entry through it) plus a strong reference to the small JVM handle
    # that frees the blocks — the cached Dataset, or the checkpoint's RDD —
    # which still works after the Python wrapper is garbage-collected
    df_ref: weakref.ref
    handle: object
    released: bool = False

    def release(self) -> None:
        if not self.released:
            self.handle.unpersist(False)
            self.released = True


_TRACKED: list[_Artifact] = []
# open scope() start-indexes into _TRACKED; pruning is suspended while any
# scope is active because scopes release-and-delete by index range
_SCOPE_MARKS: list[int] = []
_LOCK = threading.Lock()


def _append(df: DataFrame, handle) -> None:
    """Register an artifact, opportunistically dropping already-released
    entries first so a long-lived session that never calls scope()/
    release_all() doesn't accumulate dead entries for its whole
    lifetime. Pruning shifts list indexes, so it is skipped while a
    scope() is open — scopes prune their own range on exit anyway."""
    with _LOCK:
        if not _SCOPE_MARKS and any(a.released for a in _TRACKED):
            _TRACKED[:] = [a for a in _TRACKED if not a.released]
        _TRACKED.append(_Artifact(weakref.ref(df), handle))


def _track_persist(df: DataFrame) -> DataFrame:
    """Register a persist-backed artifact (called by operators right after
    ``.persist()``); returns the frame unchanged."""
    _append(df, df._jdf)
    return df


def persist_tracked(df: DataFrame) -> DataFrame:
    """Persist + register a frame the caller references in two or more
    subplans: without this each reference re-executes the frame's whole
    upstream pipeline (the r11 kmv_overlap lesson, 82 s → 7 s). The one
    public spelling of the ``_track_persist(df.persist())`` idiom —
    operators and catalog queries share it so the registration contract
    has a single definition."""
    return _track_persist(df.persist())


def checkpoint_tracked(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` + registration — the LINEAGE-CUT sibling
    of :func:`persist_tracked`, for SMALL frames (sketches, label maps)
    whose deep upstream plan is about to be referenced from several
    subplans of one query.

    persist() caches the DATA but the analyzed logical plan still carries
    the frame's full lineage into every consumer — Catalyst re-analyzes
    the whole tree per reference and only then substitutes the cache
    (CacheManager.useCachedData), so a ≤ k-row sketch at the end of a
    deep composed pipeline can cost seconds of DRIVER time per reference
    (measured on corpus_e2e_prep's KMV audit: 12.6 s of planning for
    ~2 s of execution). localCheckpoint replaces the plan with a leaf, so
    consumers plan against a ≤ k-row LogicalRDD. Trade-offs (the module
    header's checkpoint semantics): executes HERE (eager), and released
    blocks cannot recompute — use only for frames that are cheap to hold
    and consumed before release."""
    out = df.localCheckpoint(eager=True)
    # DataFrame.unpersist cannot free a checkpoint (its blocks belong to
    # an RDD in the SparkContext, not a CacheManager entry); the plan's
    # LogicalRDD leaf holds exactly that RDD, and its unpersist frees them
    _append(out, out._jdf.queryExecution().logical().rdd())
    return out


def release(df: DataFrame) -> None:
    """Free one registered frame now instead of at its scope's exit (a
    no-op for an unregistered or already-released frame). Same semantics
    as the module header's: a released checkpoint leaves every frame
    still referencing it one-shot invalid."""
    with _LOCK:
        for a in _TRACKED:
            if a.df_ref() is df:
                a.release()


def tracked_count(unreleased_only: bool = True) -> int:
    """Number of registered artifacts (for tests / introspection)."""
    return sum(1 for a in _TRACKED if not (unreleased_only and a.released))


def release_all() -> None:
    """Free every artifact registered so far in this session.

    Persist-backed frames recompute from lineage afterwards (results stay
    correct); checkpoint-backed frames become one-shot invalid — only
    release after their derived results are materialized."""
    with _LOCK:
        for a in _TRACKED:
            a.release()
        _TRACKED.clear()


@contextmanager
def scope():
    """Release every operator artifact created inside the block on exit.

    ::

        with artifacts.scope():
            budgeted = token_budget_selection(docs, budget)
            budgeted.write.parquet(out)      # materialize INSIDE the scope
        # band/token/checkpoint blocks created above are now freed

    Scopes nest: an inner scope releases only its own artifacts."""
    with _LOCK:
        mark = len(_TRACKED)
        _SCOPE_MARKS.append(mark)
    try:
        yield
    finally:
        with _LOCK:
            _SCOPE_MARKS.pop()
            for a in _TRACKED[mark:]:
                a.release()
            del _TRACKED[mark:]
