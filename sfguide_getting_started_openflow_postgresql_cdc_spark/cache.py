"""Session memo registry: the one place intermediate results are kept in
memory for reuse across the queries of a Spark session — the dd4 shingle
sets and verified pairs, the dd15/px16 replay results, the adaptive-ANN
augmented frame, sim12's embeddings, the mm9/mm10 class frames, the
parquet footer schemas ``load_table`` reads and the replica frames of
the ``Engine``'s query surface.

The rules, in one place:

- **Key.** :func:`memo` keys on ``(applicationId, artifact, key)``; a
  miss calls ``build()`` once.
- **Persist.** On a miss every DataFrame in the returned value (a frame
  or a tuple) is persisted in the order returned, so a later frame built
  on an earlier one caches a plan that reads the earlier one's cache.
  Any other value (collected rows) is kept as it is, and so are the
  frames of a ``persist=False`` memo: plans whose building, not whose
  data, is worth keeping (a committed replica version's read, whose file
  listing never changes).
- **Ownership.** The registry unpersists only the frames it persisted
  itself; a frame the caller had already cached is returned but never
  unpersisted.
- **Self-heal.** A hit whose owned frames are no longer cached (for
  example after ``spark.catalog.clearCache()``) is dropped and rebuilt.
- **Bound.** Each artifact keeps at most :data:`MAX_KEYS` live keys; the
  least recently used one is evicted and its frames unpersisted. The
  bound counts keys, not bytes: ``persist()`` is lazy, so a frame's size
  is unknown when it is inserted.
- **Release.** :func:`release` empties the registry and unpersists every
  owned frame — between scale measurements, on ``Warehouse.suspend`` and
  after ``MinHashLshIndex.retract`` (post-retraction consumers must see
  the surviving corpus). A frame evicted or released while a caller still
  holds it stays correct: its plan recomputes without the cache.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

MAX_KEYS = 4

# (applicationId, artifact, key) -> (value, owned frames); insertion
# order is recency order (a hit moves its entry to the end)
_ENTRIES: dict = {}


def _cached(df: DataFrame) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def _unpersist(frames: list) -> None:
    for df in reversed(frames):  # dependents before what they read
        df.unpersist()


def memo(
    spark: SparkSession,
    artifact: str,
    key: Any,
    build: Callable[[], Any],
    persist: bool = True,
) -> Any:
    """The value ``build()`` returns for ``key``, built once per session
    and kept until evicted or released (module docstring)."""
    k = (spark.sparkContext.applicationId, artifact, key)
    hit = _ENTRIES.pop(k, None)
    if hit is not None:
        value, owned = hit
        if all(_cached(df) for df in owned):
            _ENTRIES[k] = hit
            return value
        _unpersist(owned)
    value = build()
    frames = value if isinstance(value, tuple) else (value,)
    owned = []
    for df in frames if persist else ():
        if isinstance(df, DataFrame) and not _cached(df):
            owned.append(df.persist())
    _ENTRIES[k] = (value, owned)
    same = [e for e in _ENTRIES if e[1] == artifact]
    for old in same[:-MAX_KEYS]:
        _unpersist(_ENTRIES.pop(old)[1])
    return value


def release() -> None:
    """Empty the registry, unpersisting every frame it persisted."""
    while _ENTRIES:
        _, (_, owned) = _ENTRIES.popitem()
        _unpersist(owned)
