"""Session-scoped cache registry with an explicit release hook.

The engine keeps three kinds of session caches: persisted shared-stage
frames (the dedup family's banded-signature/shingle stages, IVF assigned
frames), small driver-side artifacts (trained integer-Lloyd centroids),
and the size-adaptive dispatch's routing persists (operators/ranking).
They were previously three module-local dicts that only grew (r8 VERDICT
task #4: at 100x a long-lived session accretes persisted frames, and the
ivf hit path silently assumed two of the dicts stayed in sync — ADVICE
r8). This module is the ONE registry behind all of them:

- every entry is keyed ``(applicationId, *key)`` so a cached frame never
  outlives its Spark application;
- ``release(token)`` unpersists and drops every entry whose key contains
  ``token`` — callers key their stages by a corpus token (cache_key /
  sf_dir), so releasing a corpus releases every stage built from it;
  ``release()`` with no token empties the registry. A released key
  re-builds/re-trains on next use (pinned by tests/test_advice_r9.py).

At 100 TB the same role is played by materialized bucket/index tables
plus a TTL'd catalog; in-session, this registry is the unpersist-after-
consume hook that keeps the executor storage pool bounded and observable
(``entries()``).
"""

from __future__ import annotations

import threading
from typing import Callable

from pyspark.sql import DataFrame

# persisted stage frames, keyed (applicationId, *key)
_FRAMES: dict[tuple, DataFrame] = {}
# small driver-side artifacts (e.g. trained centroids), same key shape
_VALUES: dict[tuple, object] = {}
# The registry is shared by every driver thread of the process, and a
# caller may build or release frames from a thread pool (ADVICE r10:
# unlocked iterate-and-mutate risks "dictionary changed size during
# iteration" / lost entries). One module lock guards every _FRAMES/_VALUES
# touch; build() runs OUTSIDE it (it triggers Spark jobs and may re-enter).
_LOCK = threading.Lock()


def cached_frame(df: DataFrame, key: tuple | None, build: Callable[[], DataFrame]) -> DataFrame:
    """Build-once / persist / reuse a stage frame. ``key is None`` opts
    out (build every time, nothing persisted — the default for one-shot
    callers). ``df`` only supplies the session identity."""
    if key is None:
        return build()
    full_key = (df.sparkSession.sparkContext.applicationId, *key)
    with _LOCK:
        hit = _FRAMES.get(full_key)
    if hit is not None:
        return hit
    from pyspark import StorageLevel

    built = build().persist(StorageLevel.MEMORY_AND_DISK)
    with _LOCK:
        racing = _FRAMES.get(full_key)
        if racing is None:
            _FRAMES[full_key] = built
            return built
    # lost a concurrent-build race: keep ONE persisted frame per key —
    # drop ours (nothing materialized yet; unpersist is metadata-only)
    try:
        built.unpersist()
    except Exception:
        pass
    return racing


def put_value(df: DataFrame, key: tuple, value: object) -> None:
    with _LOCK:
        _VALUES[(df.sparkSession.sparkContext.applicationId, *key)] = value


def get_value(df: DataFrame, key: tuple):
    with _LOCK:
        return _VALUES.get((df.sparkSession.sparkContext.applicationId, *key))


def release(token=None) -> int:
    """Unpersist and drop every cache entry whose key tuple contains
    ``token`` (any position — corpus tokens, family tags like
    ``"dispatch"``, or a specific plan hash); ``None`` releases
    everything. Returns the number of entries dropped."""
    n = 0
    with _LOCK:
        frames = [
            _FRAMES.pop(k)
            for k in [k for k in _FRAMES if token is None or token in k]
        ]
        for k in [k for k in _VALUES if token is None or token in k]:
            del _VALUES[k]
            n += 1
    for frame in frames:
        try:
            frame.unpersist()
        except Exception:
            pass  # session already stopped: the JVM cache died with it
        n += 1
    return n


def cap_family(token, max_entries: int) -> int:
    """Bound a cache family: unpersist+drop the OLDEST frames whose key
    contains ``token`` until at most ``max_entries`` remain (registration
    order — dict insertion — is the age; re-probing a seen key reuses the
    entry without refreshing it, so this is FIFO, not LRU). The
    production bound for families that register per distinct plan
    (ADVICE r9: dispatch persists accreted unbounded in long sessions
    because only tests ever called release)."""
    n = 0
    with _LOCK:
        keys = [k for k in _FRAMES if token in k]
        frames = [
            _FRAMES.pop(k) for k in keys[: max(0, len(keys) - max_entries)]
        ]
    for frame in frames:
        try:
            frame.unpersist()
        except Exception:
            pass
        n += 1
    return n


def entries() -> list[tuple]:
    """Registry introspection: the live cache keys (frames then values)."""
    with _LOCK:
        return [*_FRAMES.keys(), *_VALUES.keys()]
