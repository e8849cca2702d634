"""In-process scheduled re-execution (S8) — the rufus-scheduler analog.

The reference runs its statement under one of three mutually exclusive
timing modes (``/root/reference/lib/logstash/inputs/jdbc.rb:176-195``
config docs, ``:339-352`` run loop, ``:258-259`` exclusivity check):

- ``schedule`` — cron line, rufus ``scheduler.cron`` (calendar-aligned);
- ``interval`` — duration, rufus ``scheduler.interval`` (next run starts
  a fixed gap AFTER the previous run completes);
- ``period``  — duration, rufus ``scheduler.every`` (fixed start-to-start
  cadence, late runs don't shift the grid);
- none of the three — the statement runs exactly once.

Spark-first mapping: each fire is one incremental ``run_pipeline`` run,
which resumes from the checkpoint's watermark exactly as the
reference's statement resumes from ``sql_last_value``. Spark has no
calendar-aligned cron or run-end-relative gap for *batch*
re-execution, so this module supplies that driver-side loop with an
injectable clock so tests are deterministic — the scheduled job itself
stays a distributed Spark job; only the (trivial) timing decision lives
on the driver.

Cron subset (the part of rufus-scheduler the reference documents):
5-field ``minute hour day-of-month month day-of-week`` plus an optional
leading seconds field (rufus 6-field extension). Fields take ``*``,
``a``, ``a-b``, ``*/n``, ``a-b/n`` and comma lists; day-of-week 0-7
with both 0 and 7 = Sunday; restricted dom and dow combine with OR
(Vixie cron rule, which rufus follows).
"""

from __future__ import annotations

import re
import time as _time
from collections.abc import Callable
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

_FIELD_RANGES = (  # (min, max) per canonical field: sec min hour dom mon dow
    (0, 59), (0, 59), (0, 23), (1, 31), (1, 12), (0, 7),
)

_DURATION_RE = re.compile(r"(\d+(?:\.\d+)?)\s*(d|h|m|s?)")


def parse_duration(spec: str | float | int) -> float:
    """Rufus-style duration → seconds: '1m', '90s', '1h30m', '2d', '45'.

    A bare number (string or numeric) is seconds, matching rufus'
    ``Rufus::Scheduler.parse`` for the reference's ``interval``/``period``
    strings (jdbc.rb:182-195 examples use '1m').
    """
    if isinstance(spec, (int, float)):
        return float(spec)
    s = spec.strip().lower()
    if not s:
        raise ValueError("empty duration")
    if re.fullmatch(r"\d+(\.\d+)?", s):
        return float(s)
    total, pos = 0.0, 0
    for m in _DURATION_RE.finditer(s):
        if m.start() != pos:
            raise ValueError(f"unparseable duration: {spec!r}")
        n = float(m.group(1))
        unit = m.group(2) or "s"
        total += n * {"d": 86400.0, "h": 3600.0, "m": 60.0, "s": 1.0}[unit]
        pos = m.end()
    if pos != len(s):
        raise ValueError(f"unparseable duration: {spec!r}")
    return total


_MONTH_NAMES = {n: i + 1 for i, n in enumerate(
    "JAN FEB MAR APR MAY JUN JUL AUG SEP OCT NOV DEC".split())}
_DOW_NAMES = {n: i for i, n in enumerate(
    "SUN MON TUE WED THU FRI SAT".split())}


def _parse_field(spec: str, lo: int, hi: int,
                 names: dict[str, int] | None = None) -> frozenset[int] | None:
    """One cron field → allowed-value set; None means unrestricted (*).

    ``names`` maps standard cron name tokens (JAN-DEC / SUN-SAT, case-
    insensitive) to their numeric values for the month and day-of-week
    fields; an unknown name falls through to the bad-cron-field error.
    """
    if spec == "*":
        return None
    if names:
        spec = re.sub(
            r"[A-Za-z]{3}",
            lambda m: str(names.get(m.group(0).upper(), m.group(0))),
            spec,
        )
    vals: set[int] = set()
    for part in spec.split(","):
        m = re.fullmatch(r"(\*|\d+(?:-\d+)?)(?:/(\d+))?", part)
        if not m:
            raise ValueError(f"bad cron field: {spec!r}")
        rng, step = m.group(1), int(m.group(2) or 1)
        if step < 1:
            raise ValueError(f"bad cron step: {spec!r}")
        if rng == "*":
            a, b = lo, hi
        elif "-" in rng:
            a, b = (int(x) for x in rng.split("-"))
        else:
            a = b = int(rng)
            if step > 1:  # "a/n" means a-hi/n (Vixie extension rufus accepts)
                b = hi
        if not (lo <= a <= hi and lo <= b <= hi and a <= b):
            raise ValueError(f"cron value out of range [{lo},{hi}]: {spec!r}")
        vals.update(range(a, b + 1, step))
    return frozenset(vals)


@dataclass(frozen=True)
class CronLine:
    """Parsed cron line with ``next_time`` (strictly-after semantics).

    A trailing IANA timezone token is accepted (rufus-scheduler
    extension the reference's ``schedule`` docs imply,
    /root/reference/lib/logstash/inputs/jdbc.rb:176-181):
    ``'0 9 * * * America/Chicago'`` aligns to Chicago wall-clock,
    DST shifts included. Stored as ``tz``; None means "use the
    scheduler's default".
    """

    seconds: frozenset[int] | None
    minutes: frozenset[int] | None
    hours: frozenset[int] | None
    days: frozenset[int] | None
    months: frozenset[int] | None
    weekdays: frozenset[int] | None
    has_seconds: bool
    tz: object | None = None  # zoneinfo.ZoneInfo when present in the line

    @classmethod
    def parse(cls, line: str) -> CronLine:
        fields = line.split()
        tz = None
        # A trailing alphabetic token is a timezone only if ZoneInfo
        # resolves it; otherwise it stays a cron field (named DOW/month
        # tokens like 'MON' or 'JAN' are legal there). A token with '/'
        # that fails to resolve is unambiguously a bad zone name — raise
        # naming the zone rather than a confusing field error.
        if fields and re.search(r"[A-Za-z]", fields[-1]):
            from zoneinfo import ZoneInfo

            try:
                tz = ZoneInfo(fields[-1])
                fields = fields[:-1]
            except Exception:
                if "/" in fields[-1]:
                    raise ValueError(
                        f"unknown timezone {fields[-1]!r} in cron line {line!r}"
                    ) from None
        if len(fields) == 5:
            fields = ["0"] + fields
            has_seconds = False
        elif len(fields) == 6:
            has_seconds = True
        else:
            raise ValueError(f"cron line needs 5 or 6 fields: {line!r}")
        _names = (None, None, None, None, _MONTH_NAMES, _DOW_NAMES)
        parsed = [
            _parse_field(f, lo, hi, nm)
            for f, (lo, hi), nm in zip(fields, _FIELD_RANGES, _names)
        ]
        wd = parsed[5]
        if wd is not None and 7 in wd:  # 0 and 7 both mean Sunday
            wd = frozenset(wd - {7}) | {0}
        return cls(parsed[0], parsed[1], parsed[2], parsed[3], parsed[4],
                   wd, has_seconds, tz)

    def _day_ok(self, dt: datetime) -> bool:
        # Vixie OR rule: if both dom and dow are restricted, either matches
        dom_ok = self.days is None or dt.day in self.days
        dow_ok = self.weekdays is None or dt.isoweekday() % 7 in self.weekdays
        if self.days is not None and self.weekdays is not None:
            return dom_ok or dow_ok
        return dom_ok and dow_ok

    def matches(self, dt: datetime) -> bool:
        return (
            (self.seconds is None or dt.second in self.seconds)
            and (self.minutes is None or dt.minute in self.minutes)
            and (self.hours is None or dt.hour in self.hours)
            and (self.months is None or dt.month in self.months)
            and self._day_ok(dt)
        )

    def next_time(self, after: datetime) -> datetime:
        """First matching instant strictly after ``after``.

        Skips whole non-matching days/hours/minutes instead of stepping
        second-by-second, so sparse lines ('0 0 29 2 *') resolve fast.
        Raises if nothing matches within 5 years (impossible date).
        """
        step = timedelta(seconds=1) if self.has_seconds else timedelta(minutes=1)
        dt = (after + step).replace(microsecond=0)
        if not self.has_seconds:
            dt = dt.replace(second=0)
        limit = after + timedelta(days=366 * 5)
        while dt <= limit:
            if not (self.months is None or dt.month in self.months) or not self._day_ok(dt):
                dt = (dt + timedelta(days=1)).replace(
                    hour=0, minute=0, second=0)
                continue
            if self.hours is not None and dt.hour not in self.hours:
                dt = (dt + timedelta(hours=1)).replace(minute=0, second=0)
                continue
            if self.minutes is not None and dt.minute not in self.minutes:
                dt = (dt + timedelta(minutes=1)).replace(second=0)
                continue
            if self.seconds is not None and dt.second not in self.seconds:
                dt += timedelta(seconds=1)
                continue
            return dt
        raise ValueError("cron line never fires (impossible date?)")


class Scheduler:
    """Single-job scheduler driving repeated executions of ``fn``.

    Exactly one of ``schedule`` (cron) / ``interval`` / ``period`` may be
    set — same exclusivity error as the reference (jdbc.rb:258-259); with
    none set, ``run`` executes ``fn`` once (jdbc.rb:349-351).

    ``clock``/``sleep`` are injectable (tests use a simulated clock).
    ``clock`` returns a POSIX timestamp; cron alignment is computed in
    ``tz`` (default UTC).
    """

    def __init__(
        self,
        fn: Callable[[], object],
        schedule: str | None = None,
        interval: str | float | None = None,
        period: str | float | None = None,
        tz: timezone = timezone.utc,
        clock: Callable[[], float] = _time.time,
        sleep: Callable[[float], None] = _time.sleep,
    ) -> None:
        if sum(x is not None for x in (schedule, interval, period)) > 1:
            raise ValueError("Use only one of: interval, period, schedule.")
        self.fn = fn
        self.cron = CronLine.parse(schedule) if schedule else None
        self.interval = parse_duration(interval) if interval is not None else None
        self.period = parse_duration(period) if period is not None else None
        self.tz = tz
        self.clock = clock
        self.sleep = sleep
        self.runs = 0
        self.fire_times: list[float] = []
        self._stop = False

    def stop(self) -> None:
        self._stop = True

    def _fire(self) -> None:
        self.fire_times.append(self.clock())
        self.runs += 1
        self.fn()

    def run(self, max_runs: int | None = None) -> int:
        """Block, firing per the configured mode; returns run count.

        ``max_runs`` bounds the loop (tests / draining a backlog);
        ``stop()`` from the job itself also exits after the current run.
        """
        def done() -> bool:
            return self._stop or (max_runs is not None and self.runs >= max_runs)

        if self.cron is None and self.interval is None and self.period is None:
            self._fire()
            return self.runs

        if self.period is not None:
            # fixed start-to-start grid anchored at loop entry
            anchor = self.clock()
            k = 1
            while not done():
                target = anchor + k * self.period
                delay = target - self.clock()
                if delay > 0:
                    self.sleep(delay)
                self._fire()
                # late runs skip missed slots rather than bursting
                k = max(k + 1, int((self.clock() - anchor) // self.period) + 1)
        elif self.interval is not None:
            # gap measured from completion of the previous run
            while not done():
                self.sleep(self.interval)
                self._fire()
        else:
            # a timezone in the cron line itself wins over the default
            cron_tz = self.cron.tz or self.tz
            while not done():
                now = datetime.fromtimestamp(self.clock(), cron_tz)
                nxt = self.cron.next_time(now)
                # absolute delta, NOT (nxt - now): same-tzinfo aware
                # subtraction is wall-clock in Python, which would sleep
                # an extra hour across a spring-forward gap
                delay = nxt.timestamp() - self.clock()
                if delay > 0:
                    self.sleep(delay)
                self._fire()
        return self.runs
