"""Frame and conf lifecycle: the one module that pins (persists) a
DataFrame, memoizes a session's derived objects, releases both, scopes
a temporary Spark conf change, and reads a bounded frame onto the
driver.

Every pin and every memo belongs to an owner inside its SparkSession.
An owner is either a name (``"dedup"``, ``("loaders.graph", sf_dir)``,
...) whose caller releases it (a pin owner when its next invocation
starts, a memo owner when it wants a fresh build), or the innermost
open :func:`scope`, which releases its pins on exit.  A
:func:`memo` holds what a session builds once and reuses: table
handles, graphs, Cypher engines, checkpointed statistics.  Each
session has one registry, kept as an attribute of the session object:
two sessions sharing the process never see or release each other's
state, and dropping a session frees everything it pinned or memoized.

Plan identity.  Spark's CacheManager keys a cache entry on the
canonicalized plan, not on the DataFrame object.  Persisting a frame
whose plan equals a still-pinned one is a no-op onto the existing
entry, and releasing the old frame afterwards would drop the entry the
new frame relies on: its consumers then silently recompute it.  So an
owner is released BEFORE it pins again, and :func:`release` blocks: an
asynchronous unpersist can land after the new persist has attached to
the old entry.  Releasing first also means a re-run recomputes instead
of reading the previous run's cache.
"""

from __future__ import annotations

import contextlib
import threading
from typing import Callable, Hashable, Iterator, Mapping, Sequence, TypeVar

from pyspark.sql import DataFrame, Row, SparkSession

# Largest key set the driver collects and inlines into a plan as
# literals: a write's matched keys, a point-anchored traversal's
# frontier, the edges it ships per hop and the rows it reaches.
LITERAL_KEYS_MAX = 1024

_LOCK = threading.Lock()

T = TypeVar("T")


class _Held:
    """A session's lifecycle state, kept as an attribute of the session:
    owner -> pinned frames, owner -> memoized value, and the owner
    tokens of its open scopes, innermost last.  Each pinned frame or
    memoized graph holds its session, so a registry keyed by session
    from outside it would keep every session alive."""

    __slots__ = ("pins", "memos", "scopes")

    def __init__(self) -> None:
        self.pins: dict[Hashable, list[DataFrame]] = {}
        self.memos: dict[Hashable, object] = {}
        self.scopes: list[object] = []


def _held(spark: SparkSession) -> _Held:
    held = spark.__dict__.get("_lifecycle")
    if held is None:
        held = spark._lifecycle = _Held()
    return held


def pin(
    df: DataFrame, owner: Hashable | None = None, eager: bool = True
) -> DataFrame:
    """Persist ``df`` under ``owner`` and return the persisted frame.

    ``eager`` counts it at once, so consumers on several join legs read
    the cache instead of each recomputing it; with ``eager=False`` the
    caller's next action fills it.  Without an owner the pin belongs to
    the innermost open :func:`scope` of the frame's session.  The frame
    is registered before it is counted, so a failing count still leaves
    it to its owner's release."""
    with _LOCK:
        held = _held(df.sparkSession)
        if owner is None:
            if not held.scopes:
                raise RuntimeError("pin() without an owner needs an open scope")
            owner = held.scopes[-1]
        df = df.persist()
        held.pins.setdefault(owner, []).append(df)
    if eager:
        df.count()
    return df


def memo(spark: SparkSession, owner: Hashable, build: Callable[[], T]) -> T:
    """``build()``'s value, built once per (``spark``, ``owner``) and
    held on the session until :func:`release` forgets it.  ``build``
    runs outside the lock, so it may itself call :func:`memo`; when two
    threads race, both build and the first value stored wins."""
    with _LOCK:
        held = _held(spark)
        if owner in held.memos:
            return held.memos[owner]
    value = build()
    with _LOCK:
        return held.memos.setdefault(owner, value)


def release(spark: SparkSession, owner: Hashable) -> None:
    """Forget ``owner``'s memo in ``spark`` and unpersist, blocking,
    every frame pinned under it."""
    with _LOCK:
        held = _held(spark)
        held.memos.pop(owner, None)
        frames = held.pins.pop(owner, [])
    for df in frames:
        df.unpersist(blocking=True)


@contextlib.contextmanager
def scope(
    spark: SparkSession, conf: Mapping[str, object] | None = None
) -> Iterator[None]:
    """Set ``conf`` for the block, restore every key on exit, and
    release the pins made in the block without an owner; on an
    exception as well.  A ``None`` value leaves its key untouched."""
    token = object()
    saved: dict[str, str | None] = {}
    with _LOCK:
        _held(spark).scopes.append(token)
    try:
        for key, value in (conf or {}).items():
            if value is not None:
                saved[key] = spark.conf.get(key, None)
                spark.conf.set(key, str(value))
        yield
    finally:
        with _LOCK:
            _held(spark).scopes.remove(token)
        try:
            release(spark, token)
        finally:
            for key, old in saved.items():
                if old is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, old)


def collect_bounded(df: DataFrame, order: Sequence[str]) -> list[Row] | None:
    """``df``'s rows sorted by ``order``, read in ONE job, or None when
    it holds more than LITERAL_KEYS_MAX rows.  A top-(LITERAL_KEYS_MAX
    + 1) runs as a per-partition take-ordered plus a driver merge: no
    exchange, unlike ``limit().collect()``'s incremental partition
    scans or a limit-then-aggregate."""
    got = df.orderBy(*order).limit(LITERAL_KEYS_MAX + 1).collect()
    return None if len(got) > LITERAL_KEYS_MAX else got
