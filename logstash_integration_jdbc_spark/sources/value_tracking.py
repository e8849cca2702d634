"""Checkpoint (high-watermark) tracking — the reference's ``sql_last_value``.

Reimplements the semantics of
/root/reference/lib/logstash/plugin_mixins/jdbc/value_tracking.rb:9-149 and
/root/reference/lib/logstash/inputs/jdbc.rb:45-52,211-215,263-281:

- typed trackers: ``numeric`` (initial 0) and ``timestamp``
  (initial 1970-01-01T00:00:00Z);
- ``clean_run=True`` discards persisted state and resets to the initial
  value (value_tracking.rb:10-13);
- ``record_last_run=False`` never persists (NullFileHandler,
  value_tracking.rb:137-149);
- the watermark only advances after a successful run
  (jdbc.rb mixin :247-248) — callers ``set_value`` then ``write`` *after*
  sink writes commit, giving at-least-once semantics.

Deviations from the reference (documented, deliberate):
- persisted as JSON (ISO-8601 timestamps), not Ruby YAML;
- the watermark is the scan's ``max(tracking_column)`` rather than the
  reference's last-*seen* row value (which under-records on unordered
  scans, SURVEY.md §7.3a);
- extended with per-partition cursors ``{bucket: {max_ts, conv_id,
  turn_idx}}`` so a 1000-executor run can resume per partition
  (north_star requirement); the scalar watermark is their max, and the
  next run scans only rows with ``tracking_column`` strictly above it. A
  late row whose value is at or below the committed max is therefore
  not rescanned.

File writes are atomic (temp file + ``os.replace``) so a crash mid-write
never corrupts the checkpoint.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any

EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
_ISO = "%Y-%m-%dT%H:%M:%S.%f%z"


def _to_iso(dt: datetime) -> str:
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.strftime(_ISO)


def _from_iso(s: str) -> datetime:
    return datetime.strptime(s, _ISO)


@dataclass
class ValueTracker:
    """Typed, persisted high-watermark with per-partition cursors."""

    path: str | None
    tracking_type: str = "numeric"  # "numeric" | "timestamp"
    clean_run: bool = False
    record_last_run: bool = True
    value: Any = None
    partitions: dict[str, dict[str, Any]] = field(default_factory=dict)

    def __post_init__(self) -> None:
        if self.tracking_type not in ("numeric", "timestamp"):
            raise ValueError(f"unknown tracking_column_type {self.tracking_type!r}")
        initial = 0 if self.tracking_type == "numeric" else EPOCH
        if self.clean_run:
            # clean_run resets AND removes persisted state (jdbc.rb:263-281
            # deletes the last-run file on clean_run).
            self.value = initial
            self.partitions = {}
            if self.path and os.path.exists(self.path):
                os.remove(self.path)
        elif self.path and os.path.exists(self.path):
            self._load()
        if self.value is None:
            self.value = initial

    # -- persistence ------------------------------------------------------
    def _load(self) -> None:
        with open(self.path, encoding="utf-8") as f:
            try:
                state = json.load(f)
            except json.JSONDecodeError as e:
                # never fall back to the initial value: that would
                # re-ingest the whole table
                raise ValueError(
                    f"checkpoint {self.path} is not valid JSON ({e}); restore "
                    "it or rerun with clean_run=True") from e
        if state.get("type") != self.tracking_type:
            raise ValueError(
                f"checkpoint type {state.get('type')!r} does not match "
                f"configured {self.tracking_type!r}"
            )
        raw = state.get("value")
        self.value = _from_iso(raw) if self.tracking_type == "timestamp" else raw
        self.partitions = state.get("partitions", {})
        if self.tracking_type == "timestamp":
            for cur in self.partitions.values():
                if "max_ts" in cur and isinstance(cur["max_ts"], str):
                    cur["max_ts"] = _from_iso(cur["max_ts"])

    def write(self) -> None:
        """Persist atomically; no-op when record_last_run is off."""
        if not self.record_last_run or self.path is None:
            return
        val = _to_iso(self.value) if self.tracking_type == "timestamp" else self.value
        parts: dict[str, dict[str, Any]] = {}
        for k, cur in self.partitions.items():
            cur = dict(cur)
            if isinstance(cur.get("max_ts"), datetime):
                cur["max_ts"] = _to_iso(cur["max_ts"])
            parts[k] = cur
        state = {"version": 1, "type": self.tracking_type, "value": val, "partitions": parts}
        d = os.path.dirname(os.path.abspath(self.path)) or "."
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d, prefix=".ckpt-")
        try:
            with os.fdopen(fd, "w", encoding="utf-8") as f:
                json.dump(state, f)
            os.replace(tmp, self.path)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)

    # -- updates ----------------------------------------------------------
    def set_value(self, value: Any) -> None:
        """Advance the watermark (monotone: never moves backwards)."""
        if value is None:
            return
        if self.tracking_type == "timestamp" and isinstance(value, datetime) and value.tzinfo is None:
            value = value.replace(tzinfo=timezone.utc)
        cur = self.value
        if self.tracking_type == "timestamp" and isinstance(cur, datetime) and cur.tzinfo is None:
            cur = cur.replace(tzinfo=timezone.utc)
        if cur is None or value > cur:
            self.value = value

    def set_partitions(self, cursors: dict[str, dict[str, Any]]) -> None:
        """Merge per-partition cursors (monotone per bucket on max_ts)."""
        for bucket, cur in cursors.items():
            old = self.partitions.get(bucket)
            if old is None or _ts_key(cur) > _ts_key(old):
                self.partitions[bucket] = cur


def _ts_key(cur: dict[str, Any]) -> Any:
    v = cur.get("max_ts")
    if isinstance(v, datetime) and v.tzinfo is None:
        v = v.replace(tzinfo=timezone.utc)
    return (v, cur.get("conv_id") or "", cur.get("turn_idx") or 0)
