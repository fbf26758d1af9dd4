"""Warehouse lifecycle twin (SURVEY §2.A15 residual).

The reference provisions compute as ``CREATE WAREHOUSE ... WAREHOUSE_SIZE
= 'MEDIUM' AUTO_SUSPEND = 300 AUTO_RESUME = TRUE``
(sql/1.snowflake_setup.sql:26-29). A single-process Spark engine has no
fleet to suspend, but each piece of that DDL has an honest local
analogue, implemented here rather than hand-waved:

- WAREHOUSE_SIZE -> a named preset of the Spark knobs that actually
  govern parallel capacity on a cluster: shuffle partitions, scan
  partition bytes, and the broadcast threshold. Sizing a warehouse IS
  sizing these; the presets scale the same 2x-per-size ladder the
  reference's sizes do.
- AUTO_SUSPEND -> releasing the compute-held state an idle session pins:
  cached/persisted blocks (``spark.catalog.clearCache``). That is the
  bill an idle local session keeps paying; executors themselves belong
  to the cluster manager, out of one driver's scope (documented, not
  faked).
- AUTO_RESUME -> re-applying the preset lazily on next use.

``Warehouse`` tracks last-use wall-clock so a caller's housekeeping loop
can drive ``maybe_suspend`` on its own cadence.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from sfguide_getting_started_openflow_postgresql_cdc_spark.cache import release

# size -> (shuffle partitions, files.maxPartitionBytes, broadcast threshold)
# The 2x ladder mirrors warehouse size steps; MEDIUM matches the engine's
# session defaults at local[32].
SIZE_PRESETS: dict[str, tuple[int, str, str]] = {
    "XSMALL": (8, "32m", "4m"),
    "SMALL": (16, "64m", "8m"),
    "MEDIUM": (32, "128m", "10m"),
    "LARGE": (64, "256m", "16m"),
    "XLARGE": (128, "256m", "32m"),
}


@dataclass
class Warehouse:
    """``CREATE WAREHOUSE`` twin: a named compute-sizing preset with
    suspend/resume bookkeeping."""

    name: str
    size: str = "MEDIUM"
    auto_suspend_seconds: int = 300
    auto_resume: bool = True
    _suspended: bool = field(default=False, init=False)
    _last_used: float = field(default_factory=time.monotonic, init=False)

    def __post_init__(self):
        if self.size not in SIZE_PRESETS:
            raise ValueError(
                f"unknown size {self.size!r} (one of {sorted(SIZE_PRESETS)})"
            )

    # -- lifecycle ---------------------------------------------------------
    def apply(self, spark) -> "Warehouse":
        """Apply the size preset to the session (``USE WAREHOUSE``)."""
        parts, scan_bytes, bcast = SIZE_PRESETS[self.size]
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        spark.conf.set("spark.sql.files.maxPartitionBytes", scan_bytes)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
        self._suspended = False
        self._last_used = time.monotonic()
        return self

    def resize(self, spark, size: str) -> "Warehouse":
        """``ALTER WAREHOUSE ... SET WAREHOUSE_SIZE`` — takes effect on
        the next query, like the warehouse DDL."""
        if size not in SIZE_PRESETS:
            raise ValueError(f"unknown size {size!r}")
        self.size = size
        return self.apply(spark)

    def suspend(self, spark) -> "Warehouse":
        """Release compute-held session state: the session memo registry
        (``cache.release``) and every other cached block."""
        release()
        spark.catalog.clearCache()
        self._suspended = True
        return self

    @property
    def suspended(self) -> bool:
        return self._suspended

    def touch(self) -> None:
        """Record activity (callers wrap query entry points)."""
        self._last_used = time.monotonic()
        if self._suspended and self.auto_resume:
            self._suspended = False

    def maybe_suspend(self, spark, now: float | None = None) -> bool:
        """Suspend iff idle past ``auto_suspend_seconds``; returns
        whether a suspend happened (drive this from housekeeping)."""
        now = time.monotonic() if now is None else now
        if (
            not self._suspended
            and now - self._last_used >= self.auto_suspend_seconds
        ):
            self.suspend(spark)
            return True
        return False

    def ensure_active(self, spark) -> "Warehouse":
        """AUTO_RESUME: re-apply the preset if suspended, refuse if
        auto_resume is off (a suspended warehouse rejects queries)."""
        if self._suspended:
            if not self.auto_resume:
                raise RuntimeError(
                    f"warehouse {self.name!r} is suspended and AUTO_RESUME "
                    "is off"
                )
            self.apply(spark)
        self.touch()
        return self
