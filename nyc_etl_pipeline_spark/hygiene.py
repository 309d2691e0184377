"""Scratch-cache hygiene: one epoch registry owns every persist() and
localCheckpoint() intermediate behind a plan an operator returns.

Operators persist or localCheckpoint intermediates that feed several
branches of the plan they RETURN. The consuming action runs later, in
the caller, so the operator has no correct place to unpersist; without
a release point a long-lived session accumulates CacheManager entries
and checkpoint blocks (late-order bench queries ran ~2.5-3x their
isolated times before this registry existed).

The one rule:

* Scratch that backs a returned plan goes through
  ``scratch_persist(df)`` / ``scratch_checkpoint(df, eager=...)``,
  which register it with the CURRENT EPOCH. Scratch that lives only
  inside an operator call uses plain ``persist()`` and an
  ``unpersist()`` in a ``finally``.
* The suite registry advances the epoch at the start of every declared
  query's builder (``suite.all_specs`` wraps each fn). Advancing to
  epoch N releases everything registered at epoch <= N - KEEP_EPOCHS.
* Plan-identical persists share one CacheManager entry, so a
  registration expires without unpersisting while a newer registration
  of the same plan is live: the last one to expire releases the cache.
* An iterative operator registers each round's checkpoint and calls
  ``release_now(prev)`` once the next round's is materialized, so a
  loop that raises leaves only registered scratch behind.

A returned DataFrame is therefore aided for the epoch it was built in
plus the next KEEP_EPOCHS - 1, which covers every harness flow (bench:
build -> action per run, one build per run; driver: build -> collect ->
compare; engine: build -> write). Re-executing it later recomputes
persisted scratch (correct, just unaided). Checkpoint blocks are only
released once an action has materialized them (an un-run plan is never
poisoned), but a checkpoint-backed plan re-executed KEEP_EPOCHS or more
builds after its own fails with a missing-block error instead of
recomputing: hold results that long only after materializing them.

Why epochs and not weakrefs: a PySpark DataFrame's Python handle dies
as soon as the builder returns a derived frame (``df.select(...)``
holds no reference to ``df``), so finalizers fire before the action.
"""

from __future__ import annotations

import logging
import threading
from typing import Any

from pyspark.sql import DataFrame

log = logging.getLogger(__name__)

#: scratch registered at epoch E is released when the epoch counter
#: reaches E + KEEP_EPOCHS: the query's own actions and one full
#: neighbouring build stay aided.
KEEP_EPOCHS = 2

#: an unmaterialized checkpoint entry is re-deferred at most this many
#: sweeps before its registration is dropped (abandoned plans hold no
#: blocks; dropping just stops tracking them).
MAX_DEFERS = 32

_LOCK = threading.RLock()
_EPOCH = 0
# [epoch, DataFrame, jrdd, defers]: jrdd is None for a persist (release
# = unpersist the frame), else the py4j handle of the checkpointed
# RDD[InternalRow] (the frame keeps the handle alive until release).
_ENTRIES: list[list[Any]] = []


def _register(df: DataFrame, jrdd) -> DataFrame:
    with _LOCK:
        _ENTRIES.append([_EPOCH, df, jrdd, 0])
    return df


def scratch_persist(df: DataFrame, storage_level=None) -> DataFrame:
    """persist() + register for epoch-based release. Releasing a
    persist is always value-safe (unpersisted frames recompute)."""
    out = df.persist(storage_level) if storage_level is not None else df.persist()
    return _register(out, None)


def scratch_checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """localCheckpoint() + register the underlying RDD for epoch-based
    release. Its blocks are dropped only after an action has
    materialized them; see the module docstring for the lifetime."""
    out = df.localCheckpoint(eager=eager)
    try:
        # the analyzed plan of a localCheckpoint'ed Dataset is a LogicalRDD
        jrdd = out._jdf.queryExecution().analyzed().rdd()
    except Exception:
        return out  # unexpected plan shape: leave it untracked
    return _register(out, jrdd)


def _has_blocks(jrdd) -> bool:
    """True iff the RDD currently holds checkpoint blocks.
    (isLocallyCheckpointed is true from the moment the RDD is MARKED,
    before any action materializes it — unpersisting at that point
    would poison the plan's first execution, so block presence is the
    release gate.)"""
    rid = jrdd.id()
    infos = jrdd.sparkContext().getRDDStorageInfo()
    return any(infos[i].id() == rid for i in range(len(infos)))


def _drop(entry: list[Any]) -> bool:
    """Release one entry's scratch; False if it is an unmaterialized
    checkpoint (nothing to drop yet)."""
    _, df, jrdd, _ = entry
    try:
        if jrdd is None:
            df.unpersist()
        elif _has_blocks(jrdd):
            jrdd.unpersist(False)
        else:
            return False
    except Exception:
        # a dead/stopped session (tests tear sessions down) must not
        # fail the next query's build
        pass
    return True


def release_now(df: DataFrame) -> None:
    """Drop a registered frame's scratch and its registry entry at once:
    for iterative loops whose round N checkpoint supersedes round N-1's
    (the old table is provably dead inside the operator). A frame that
    was never registered is left alone."""
    with _LOCK:
        mine = [e for e in _ENTRIES if e[1] is df]
        _ENTRIES[:] = [e for e in _ENTRIES if e[1] is not df]
    for entry in mine:
        _drop(entry)


def _shared(entry: list[Any], live: list[list[Any]]) -> bool:
    """True iff a live persist registration has the same plan. The
    CacheManager matched both persists to ONE cache (bench best-of-2
    run 2, or q199 after q178), so unpersisting this handle would drop
    the live registration's cache too."""
    try:
        return any(k[2] is None and k[1].sameSemantics(entry[1]) for k in live)
    except Exception:
        return False


def _release(epoch_cutoff: int) -> None:
    with _LOCK:
        to_drop = [e for e in _ENTRIES if e[0] <= epoch_cutoff]
        _ENTRIES[:] = [e for e in _ENTRIES if e[0] > epoch_cutoff]
        live = list(_ENTRIES)
    deferred: list[list[Any]] = []
    for entry in to_drop:
        if entry[2] is None and _shared(entry, live):
            continue  # the newest registration of the plan releases it
        if _drop(entry):
            continue
        if entry[3] < MAX_DEFERS:
            # never materialized -> holds no blocks yet; keep the
            # registration so blocks created by a LATE first action
            # are still released by a later sweep
            entry[3] += 1
            deferred.append(entry)
        else:
            log.warning(
                "dropping registration of checkpoint RDD %s: not "
                "materialized after %d epoch sweeps",
                entry[2].id(),
                MAX_DEFERS,
            )
    if deferred:
        with _LOCK:
            _ENTRIES.extend(deferred)


def new_epoch() -> int:
    """Advance the declared-query epoch and release scratch registered
    KEEP_EPOCHS or more epochs ago. Called by the suite registry at
    the start of every declared query's builder."""
    global _EPOCH
    with _LOCK:
        _EPOCH += 1
        epoch = _EPOCH
    _release(epoch - KEEP_EPOCHS)
    return epoch


def release_all() -> None:
    """Release everything registered (session teardown / tests)."""
    _release(_EPOCH)
