"""Tracked persist for operator-internal intermediates.

Several operators cache a shared intermediate so multiple consumers
read it once (the MinHash band projection, the finest rollup level,
the funnel's filtered event projection). The returned DataFrames stay
lazy, so the operator itself cannot know when the caller is done and
an unpersist inside the operator would race the consumer's action —
but a long-lived session running many catalog queries would otherwise
accumulate cached partitions in executor memory indefinitely (Spark's
CacheManager holds them until explicitly unpersisted; GC of the
Python handle does NOT release them).

So every internal ``persist`` is registered here, and callers that
run many queries per session (the bench harness, a REPL, a query
service) call :func:`release_intermediates` between queries once the
results are materialized. Executor memory used by tracked caches is
then bounded by one query's intermediates, not the session's history.

Concurrency (ADVICE r9): scoping is by PER-THREAD scope lists, not
registry indices. A ``foreachBatch`` trigger runs on its own thread;
:func:`release_mark` opens a scope on that thread, every
``tracked_persist`` issued from the same thread lands in it, and
:func:`release_since` releases exactly those frames — a concurrent
trigger's pins live in its own thread's scopes (or only the global
registry) and are never popped by this trigger's release. All
registry mutation happens under one lock, so a concurrent
:func:`release_intermediates` cannot shift anything out from under an
open scope (double-release degrades to a no-op via the storage-level
check).

The module also holds the one per-application memo (:func:`app_memo`)
for lazy reader plans and unresolved expression trees.
"""

from __future__ import annotations

import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_LOCK = threading.RLock()
_TRACKED: list[DataFrame] = []  # session-wide registry, all threads
_SCOPES = threading.local()  # per-thread stack of open scope lists


def _scope_stack() -> list[list[DataFrame]]:
    stack = getattr(_SCOPES, "stack", None)
    if stack is None:
        stack = []
        _SCOPES.stack = stack
    return stack


def tracked_persist(
    df: DataFrame, storage_level: StorageLevel | None = None
) -> DataFrame:
    """``df.persist(...)``, registered for later bulk release."""
    out = df.persist(storage_level) if storage_level is not None else df.persist()
    with _LOCK:
        _TRACKED.append(out)
        # register in every scope open on THIS thread, so an outer
        # scope's release also covers pins made under an inner scope
        # that never released (releases are identity-keyed no-ops the
        # second time)
        for scope in _scope_stack():
            scope.append(out)
    return out


def release_intermediates() -> int:
    """Unpersist every tracked intermediate; returns how many were
    released. Safe to call at any time — frames already unpersisted
    (or whose session is gone) are skipped silently. Lazy (non-
    blocking) unpersist: blocks are dropped asynchronously."""
    with _LOCK:
        frames = list(_TRACKED)
        _TRACKED.clear()
    return _release(frames)


def release_mark() -> list[DataFrame]:
    """Open a release scope on the calling thread and return its
    token. Pair with :func:`release_since` to release only the
    intermediates this thread pinned AFTER this point — the scope a
    ``foreachBatch`` trigger needs so a per-trigger release cannot
    unpersist frames pinned by concurrent work in the same session
    (ADVICE r8; identity-snapshot form per ADVICE r9 — another
    thread's concurrent pins or releases cannot shift what this
    token refers to)."""
    token: list[DataFrame] = []
    with _LOCK:
        _scope_stack().append(token)
    return token


def release_since(token: list[DataFrame]) -> int:
    """Unpersist exactly the intermediates registered under ``token``
    (a scope opened by :func:`release_mark` on this thread); pins by
    other threads — before or after the mark — are untouched.
    Double release is a no-op: membership is checked by IDENTITY
    (``is``), so a cleared token — which compares ``==`` to any other
    empty open scope — cannot drain scopes it does not own (ADVICE
    r10)."""
    with _LOCK:
        stack = _scope_stack()
        if any(s is token for s in stack):
            # close this scope and any unreleased inner scopes
            while stack:
                top = stack.pop()
                if top is token:
                    break
        frames = list(token)
        token.clear()
        ids = {id(f) for f in frames}
        _TRACKED[:] = [f for f in _TRACKED if id(f) not in ids]
    return _release(frames)


def _release(frames: list[DataFrame]) -> int:
    released = 0
    for df in frames:
        try:
            lvl = df.storageLevel
            if lvl.useMemory or lvl.useDisk:
                df.unpersist(blocking=False)
                released += 1
        except Exception:
            pass  # stopped session / already-released frame
    return released


# ---- per-application memo --------------------------------------------------

_MEMO_LOCK = threading.Lock()
_MEMO: dict[tuple, tuple[str, object]] = {}  # key -> (app id, value)
_MEMO_APP: str | None = None  # the application the memo holds entries of


def app_memo(app: str | None, key: tuple, build):
    """``build()`` memoized under ``key`` for the Spark application
    ``app``: the session-level registry for lazy reader plans and
    unresolved Columns (never rows), whose construction costs py4j
    round trips on every compile otherwise.

    A py4j handle dies with its application, so an entry is served only
    to the app that built it, and a store from another app first clears
    the memo (a driver that restarts sessions keeps no dead handles).
    ``app is None`` (no active session) builds without caching.
    ``build`` runs outside the lock: a slow build never blocks another
    thread's lookup, and two threads that miss the same key both build,
    the later store winning."""
    global _MEMO_APP
    if app is None:
        return build()
    with _MEMO_LOCK:
        hit = _MEMO.get(key)
    if hit is not None and hit[0] == app:
        return hit[1]
    val = build()
    with _MEMO_LOCK:
        if app != _MEMO_APP:
            _MEMO.clear()
            _MEMO_APP = app
        _MEMO[key] = (app, val)
    return val
