"""One process-wide LRU, behind one lock, for what a SparkSession caches.

``memo(spark, key, build)`` caches plans and other values built from a
session; a value that is a persisted DataFrame when built counts toward
``MAX_PERSISTED`` and is unpersisted on eviction. ``hold``/``release``
(and ``rotate``, both as one step) keep one generation of persisted
frames per (session, slot); a released frame merely recomputes, and
``rotate`` keeps the cache of a released frame whose plan is the new
one's.

Keys hold the SparkSession itself (identity hash), so ``newSession()``
never sees another session's frames. Weakrefs would bound nothing:
every DataFrame holds its session strongly. Frames are popped under the
lock and unpersisted after it, each once, by the thread that popped it.
"""

from __future__ import annotations

import threading
from collections import OrderedDict

from py4j.protocol import Py4JError

MAX_ENTRIES = 256
MAX_PERSISTED = 8

_lock = threading.Lock()
# (spark, "memo", key) -> (value, frames) | (spark, "slot", slot) -> (None, frames);
# frames lists the persisted frames the entry owns
_CACHE: OrderedDict[tuple, tuple[object, list]] = OrderedDict()
_counts = {"hits": 0, "misses": 0, "evictions": 0, "unpersists": 0}


def memo(spark, key, build):
    """The value cached for (spark, key), or ``build()`` cached."""
    k = (spark, "memo", key)
    with _lock:
        entry = _CACHE.get(k)
        if entry is not None:
            _CACHE.move_to_end(k)
            _counts["hits"] += 1
            return entry[0]
        _counts["misses"] += 1
    value = build()
    frames = [value] if getattr(value, "is_cached", False) else []
    with _lock:  # a concurrent miss may have built it first; keep that one
        entry = _CACHE.setdefault(k, (value, frames))
        _CACHE.move_to_end(k)
        dropped = _trim() if entry[1] is frames else frames
    _unpersist(dropped)
    return entry[0]


def hold(spark, slot, df):
    """Add persisted ``df`` to the current generation of (spark, slot)."""
    return _hold(spark, slot, df, rotate=False)


def rotate(spark, slot, df):
    """``release(spark, slot)`` then ``hold(spark, slot, df)`` as one
    step, so concurrent rotations leave exactly one frame held."""
    return _hold(spark, slot, df, rotate=True)


def _hold(spark, slot, df, rotate: bool):
    k = (spark, "slot", slot)
    with _lock:
        released = _CACHE.pop(k, (None, []))[1] if rotate else []
        _CACHE.setdefault(k, (None, []))[1].append(df)
        _CACHE.move_to_end(k)
        dropped = _trim()
    # a released frame whose plan matches df's shares df's CacheManager
    # entry: unpersisting it would uncache df as well
    _unpersist([f for f in released if not f.sameSemantics(df)] + dropped)
    return df


def release(spark, slot) -> None:
    """Unpersist and forget the frames held in (spark, slot)."""
    with _lock:
        _, frames = _CACHE.pop((spark, "slot", slot), (None, []))
    _unpersist(frames)


def held(spark, slot) -> list:
    """The frames (spark, slot) holds now, oldest first."""
    with _lock:
        return list(_CACHE.get((spark, "slot", slot), (None, []))[1])


def stats() -> dict[str, int]:
    """Hit/miss/eviction/unpersist counts, plus the entries held now,
    the persisted memo entries among them and the frames in slots."""
    with _lock:
        return {
            **_counts,
            "entries": len(_CACHE),
            "persisted": sum(1 for k, (_, f) in _CACHE.items() if k[1] == "memo" and f),
            "held": sum(len(f) for k, (_, f) in _CACHE.items() if k[1] == "slot"),
        }


def _trim() -> list:
    """Evict past both caps, least recently used first; the caller
    holds the lock. Returns the evicted frames, to unpersist after."""
    dropped, n = [], 0
    persisted = [k for k, (_, f) in _CACHE.items() if k[1] == "memo" and f]
    for k in persisted[: max(0, len(persisted) - MAX_PERSISTED)]:
        dropped += _CACHE.pop(k)[1]
        n += 1
    while len(_CACHE) > MAX_ENTRIES:
        dropped += _CACHE.popitem(last=False)[1][1]
        n += 1
    _counts["evictions"] += n
    return dropped


def _unpersist(frames: list) -> None:
    for df in frames:
        try:
            df.unpersist()
        except Py4JError:
            pass  # its session is already stopped
    with _lock:
        _counts["unpersists"] += len(frames)
