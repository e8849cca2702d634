"""S9/S10/S13: dimension loading with the reference's safety guard.

jdbc_static bulk-loads remote tables into a local lookup store
(/root/reference/lib/logstash/filters/jdbc/loader.rb:21-35): a
``count(*)`` guard runs first and the load is aborted when it returns 0
or exceeds ``max_rows`` (default 1,000,000, loader.rb:65-74). The Derby
CSV-spool import (read_write_database.rb:64-100) is moot on Spark — the
dimension is simply read, cached, and *broadcast* into the join (each
``Lookup`` adds its own broadcast hint), which is exactly the role the
Derby index played (db_object.rb:19).

``refresh()`` reproduces S13 (loader_schedule repeated truncate-and-
reload, jdbc_static.rb:87-92): re-read + re-cache; the next action plans
a fresh broadcast, which replaces the reference's fair read/write lock
(read_write_database.rb:102-111) — immutable plans need no locks.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame


class LoaderError(RuntimeError):
    pass


class DimensionLoader:
    """Guarded, cached, reloadable dimension table."""

    def __init__(
        self,
        name: str,
        load_fn: Callable[[], DataFrame],
        max_rows: int = 1_000_000,
    ) -> None:
        self.name = name
        self._load_fn = load_fn
        self.max_rows = max_rows
        self._df: DataFrame | None = None
        self.reload_count = 0  # metrics counter, mirrors jdbc_static.rb reload metric
        self.last_count: int | None = None

    def get(self) -> DataFrame:
        if self._df is None:
            self.refresh()
        assert self._df is not None
        return self._df

    def refresh(self) -> DataFrame:
        df = self._load_fn()
        # count(*) guard before committing to a broadcast
        # (read_only_database.rb:7-25 via loader.rb:23-31).
        n = df.count()
        if n == 0:
            raise LoaderError(f"loader {self.name!r}: remote query returned 0 rows; load aborted")
        if n > self.max_rows:
            raise LoaderError(
                f"loader {self.name!r}: {n} rows exceeds max_rows={self.max_rows}; load aborted"
            )
        if self._df is not None:
            self._df.unpersist()
        self._df = df.cache()
        self.last_count = n
        self.reload_count += 1
        return self._df
