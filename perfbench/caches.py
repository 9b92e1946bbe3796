"""Operator-cache discipline without a hand-kept list.

Every module of ``csv_etl_spark.operators`` is imported and walked for
module-level ``BoundedPersistCache`` / ``BoundedDriverMemo`` instances, so a
cache added later is found without editing the benchmark.  A timed pass
must never time a cache hit: :func:`clear_all` empties every cache found,
releases the sharded codebook broadcasts, and then checks that nothing is
left.
"""

from __future__ import annotations

import importlib
import pkgutil


class CacheNotEmpty(RuntimeError):
    pass


def find_caches() -> dict[str, object]:
    """``{"module.ATTR": cache}`` for every operator cache instance."""
    import csv_etl_spark.operators as ops
    from csv_etl_spark.operators._cache import BoundedDriverMemo, BoundedPersistCache

    found: dict[int, str] = {}
    caches: dict[str, object] = {}
    for info in pkgutil.iter_modules(ops.__path__):
        mod = importlib.import_module(f"{ops.__name__}.{info.name}")
        for attr, value in vars(mod).items():
            if isinstance(value, (BoundedPersistCache, BoundedDriverMemo)) and id(value) not in found:
                found[id(value)] = f"{mod.__name__}.{attr}"
                caches[found[id(value)]] = value
    return caches


def entry_count(cache) -> int:
    return len(cache._entries)


def clear_all(caches: dict[str, object]) -> None:
    """Empty every cache (blocking unpersist), release the sharded
    broadcasts, and raise :class:`CacheNotEmpty` if anything survived."""
    from csv_etl_spark.operators import similarity

    for cache in caches.values():
        cache.invalidate(blocking=True)
    # nothing returned by an earlier pass is still live, so destroying the
    # copies held by this process is safe here
    similarity.release_sharded_broadcasts(destroy=True)
    left = {name: entry_count(c) for name, c in caches.items() if entry_count(c)}
    if similarity._SHARDED_BROADCASTS:
        left["similarity._SHARDED_BROADCASTS"] = len(similarity._SHARDED_BROADCASTS)
    if left:
        raise CacheNotEmpty(f"operator caches not empty after clearing: {left}")
