"""Relative time-filter grammar + time bucketizers.

Reference:
  - relative time grammar: query/common/time_filter.go:241-341
    ("now", "-7d", "24 hours ago", "this quarter-hour", "last week", ...).
    Every expression resolves to a calendar-aligned (start, end) window
    (applyTimeOffset, time_filter.go:93-145); a `from` endpoint takes the
    window START, a `to` endpoint takes the window END
    (ParseTimeFilter, time_filter.go:341-368). So from="last day",
    to="last day" covers the whole of yesterday.
  - regular bucketizers:   query/time_bucketizer.go:72-174
    (minute(s)/hour(s)/day/week/month/quarter/year — week starts Monday,
    aligned via the -4d epoch shift; Spark's date_trunc('week') matches)
  - recurring bucketizers: query/time_bucketizer.go:44-65, 176-230
    "day of week"/"hour of week" are Monday-based mod arithmetic:
    floor(((ts - 4d) % week) / unit) → Monday=0. (The *scalar function*
    dayofweek() is MySQL-compatible Sunday=1 — a deliberately different
    convention, query/context/query_context_helper.go:390-435.)
  - timezone adjust: query/time_bucketizer.go:93-146 — fixed tz bucketizing
    happens in local wall-clock time. We use from_utc_timestamp (full DST
    rules) instead of the reference's constant-offset + DST-switch hack.

All bucketizers emit Spark-SQL expression text (no UDFs) so Catalyst can
constant-fold and push work into whole-stage codegen.
"""

from __future__ import annotations

import calendar
import re
from datetime import datetime, timedelta, timezone
from zoneinfo import ZoneInfo

from aresdb_spark.operators.util import lit

# ---------------------------------------------------------------------------
# Relative time grammar → (start, end) calendar windows
# ---------------------------------------------------------------------------

# unit aliases → canonical unit (reference timeUnitMap, time_filter.go:25-35)
_UNIT_CANON = {
    "y": "y", "year": "y", "years": "y",
    "q": "q", "quarter": "q", "quarters": "q",
    "M": "M", "month": "M", "months": "M",
    "w": "w", "week": "w", "weeks": "w",
    "d": "d", "day": "d", "days": "d",
    "h": "h", "hour": "h", "hours": "h",
    "quarter-hour": "15m", "quarter-hours": "15m",
    "m": "m", "minute": "m", "minutes": "m",
    "s": "s", "second": "s", "seconds": "s",
}


def _canon_unit(unit: str) -> str:
    u = _UNIT_CANON.get(unit) or _UNIT_CANON.get(unit.lower())
    if u is None:
        raise ValueError(f"unknown time filter unit: {unit!r}")
    return u


def _shift_months(dt: datetime, months: int) -> datetime:
    total = dt.year * 12 + (dt.month - 1) + months
    year, month0 = divmod(total, 12)
    day = min(dt.day, calendar.monthrange(year, month0 + 1)[1])
    return dt.replace(year=year, month=month0 + 1, day=day)


def _resolve_wall(dt: datetime) -> datetime:
    """Epoch-resolve a possibly-nonexistent wall time the way Go's
    time.Date does (reference parseAbsoluteTime/applyTimeOffset build
    times with it): a wall clock inside a DST spring-forward gap takes
    the POST-transition offset — Python's ``fold=1`` — so
    "2016-03-13 02" in New York means epoch 06:00Z, not 07:00Z.
    Ambiguous fall-back times keep the first occurrence (``fold=0``),
    matching the golden "2015-11-01 01" → -04:00 case
    (query/common/time_filter_test.go:100-104). Returns a normalized
    (real-wall) aware datetime."""
    if dt.tzinfo is None:
        return dt
    rt = dt.replace(fold=0).astimezone(timezone.utc).astimezone(dt.tzinfo)
    if rt.replace(tzinfo=None) != dt.replace(tzinfo=None):
        dt = dt.replace(fold=1)
    # normalize via UTC — astimezone(same tz) is a no-op and would keep
    # the imaginary wall fields
    return dt.astimezone(timezone.utc).astimezone(dt.tzinfo)


def _midnight_adjust(dt: datetime) -> datetime:
    """Reference adjustMidnight (time_filter.go:52-66): calendar-unit
    boundaries stay on the transition-day "midnight" in zones whose DST
    jump happens AT midnight. A boundary rendering as 23:00 (previous
    day) advances one hour; one rendering as 01:00 rewinds an hour only
    if that stays on the same day (the America/Sao_Paulo and Asia/Beirut
    cases in the reference's own comments). `dt` must be normalized
    (output of _resolve_wall)."""
    if dt.hour == 23:
        return (dt.astimezone(timezone.utc)
                + timedelta(hours=1)).astimezone(dt.tzinfo)
    if dt.hour == 1:
        back = (dt.astimezone(timezone.utc)
                - timedelta(hours=1)).astimezone(dt.tzinfo)
        if back.day == dt.day:
            return back
    return dt


def _calendar_bounds(start: datetime, end: datetime) -> tuple[datetime, datetime]:
    return (_midnight_adjust(_resolve_wall(start)),
            _midnight_adjust(_resolve_wall(end)))


def _instant_bounds(anchor: datetime, amount: int,
                    step: timedelta) -> tuple[datetime, datetime]:
    """Sub-day units use ABSOLUTE instant arithmetic (reference
    applyTimeOffset 'h'/'15m'/'m' use time.Add, not AddDate), so
    "70 hours ago" across a spring-forward lands on the hour the clock
    actually showed, one real hour per step."""
    tz = anchor.tzinfo
    start = _resolve_wall(anchor).astimezone(timezone.utc) + amount * step
    return start.astimezone(tz), (start + step).astimezone(tz)


def _apply_offset(base: datetime, amount: int, unit: str) -> tuple[datetime, datetime]:
    """Start and end of the calendar `unit` that is `amount` units from
    `base` (reference applyTimeOffset, time_filter.go:93-145)."""
    month_start = base.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
    day_start = base.replace(hour=0, minute=0, second=0, microsecond=0)
    if unit == "y":
        start = base.replace(year=base.year + amount, month=1, day=1,
                             hour=0, minute=0, second=0, microsecond=0)
        return _calendar_bounds(start, start.replace(year=start.year + 1))
    if unit == "q":
        start = _shift_months(month_start, -((base.month - 1) % 3) + 3 * amount)
        return _calendar_bounds(start, _shift_months(start, 3))
    if unit == "M":
        start = _shift_months(month_start, amount)
        return _calendar_bounds(start, _shift_months(start, 1))
    if unit == "w":
        start = day_start - timedelta(days=day_start.weekday()) + timedelta(weeks=amount)
        return _calendar_bounds(start, start + timedelta(days=7))
    if unit == "d":
        start = day_start + timedelta(days=amount)
        return _calendar_bounds(start, start + timedelta(days=1))
    if unit == "h":
        return _instant_bounds(base.replace(minute=0, second=0, microsecond=0),
                               amount, timedelta(hours=1))
    if unit == "15m":
        return _instant_bounds(
            base.replace(minute=base.minute - base.minute % 15, second=0,
                         microsecond=0), amount, timedelta(minutes=15))
    if unit == "m":
        return _instant_bounds(base.replace(second=0, microsecond=0),
                               amount, timedelta(minutes=1))
    if unit == "s":
        # superset: the reference only allows seconds via "now"
        return _instant_bounds(base.replace(microsecond=0), amount,
                               timedelta(seconds=1))
    raise ValueError(f"unknown time filter unit: {unit!r}")


_REL_SHORT = re.compile(r"^([+-]?\d+)([smhdwMyq])$")          # -7d, +3h, 2w
_AGO = re.compile(r"^(\d+)\s+([a-zA-Z-]+)\s+ago$")            # 24 hours ago
_THIS = re.compile(r"^this\s+([a-zA-Z-]+)$")                  # this quarter-hour
_LAST = re.compile(r"^last\s+([a-zA-Z-]+)$")                  # last day


def parse_time_window(text: str, now: datetime | None = None,
                      tz: ZoneInfo | timezone | None = None) -> tuple[datetime, datetime]:
    """Parse one time-filter expression into its calendar (start, end)
    window (reference parseTimeFilterExpression, time_filter.go:241-341).
    Returns timezone-aware datetimes; calendar alignment happens in `tz`
    (defaults UTC — ParseTimeFilter does now.In(loc))."""
    tz = tz or timezone.utc
    now = (now or datetime.now(timezone.utc)).astimezone(tz).replace(microsecond=0)
    t = text.strip()
    low = t.lower()

    if low == "now":
        return now, now
    if low == "today":
        low = t = "this day"
    elif low == "yesterday":
        low = t = "last day"

    if re.fullmatch(r"\d{8,}", t):  # epoch seconds (ms if > 99999999999)
        secs = int(t)
        if secs > 99_999_999_999:
            secs //= 1000
        pt = datetime.fromtimestamp(secs, tz=timezone.utc).astimezone(tz)
        return pt, pt

    m = _REL_SHORT.match(t)
    if m:
        n, unit = int(m.group(1)), m.group(2)
        return _apply_offset(now, n, _canon_unit(unit))

    m = _AGO.match(low)
    if m:
        n, unit = int(m.group(1)), m.group(2)
        return _apply_offset(now, -n, _canon_unit(unit))

    m = _THIS.match(low)
    if m:
        return _apply_offset(now, 0, _canon_unit(m.group(1)))

    m = _LAST.match(low)
    if m:
        return _apply_offset(now, -1, _canon_unit(m.group(1)))

    # absolute forms, unit-aligned like the reference's parseAbsoluteTime
    # (time_filter.go:148-238): "2024" → year, "2024-01" → month,
    # "2024-Q2" → quarter, "2024-01-15" → day, "2024-01-15 13:45" → minute
    # (15m when minute%15==0), plus a seconds extension.
    m = re.fullmatch(r"(\d{4})-Q([1-4])", t)
    if m:
        start = datetime(int(m.group(1)), 1 + (int(m.group(2)) - 1) * 3, 1, tzinfo=tz)
        return start, _shift_months(start, 3)
    for fmt, unit in (("%Y-%m-%d %H:%M:%S", "s"), ("%Y-%m-%dT%H:%M:%S", "s"),
                      ("%Y-%m-%d %H:%M", "m"), ("%Y-%m-%dT%H:%M", "m"),
                      ("%Y-%m-%d %H", "h"),
                      ("%Y-%m-%d", "d"), ("%Y-%m", "M"), ("%Y", "y")):
        try:
            pt = datetime.strptime(t, fmt).replace(tzinfo=tz)
        except ValueError:
            continue
        if unit == "m" and pt.minute % 15 == 0:
            unit = "15m"
        return _apply_offset(pt, 0, unit)
    raise ValueError(f"cannot parse time point {text!r}")


def parse_time_point(text: str, now: datetime | None = None) -> datetime:
    """Back-compat: the START of the expression's calendar window."""
    return parse_time_window(text, now)[0]


def time_filter_bounds(
    from_: str | None, to: str | None, now: datetime | None = None,
    tz: ZoneInfo | timezone | None = None,
) -> tuple[datetime | None, datetime | None]:
    """Resolve a TimeFilter to [lo, hi): `from` → window start, `to` →
    window end (reference ParseTimeFilter, time_filter.go:341-368; the
    compiled predicate is ts >= from AND ts < to,
    query/aql_compiler.go:987-1065). A missing `to` with a present `from`
    defaults to now."""
    lo = parse_time_window(from_, now, tz)[0] if from_ else None
    if to:
        hi = parse_time_window(to, now, tz)[1]
    elif from_:
        tzz = tz or timezone.utc
        hi = (now or datetime.now(timezone.utc)).astimezone(tzz).replace(microsecond=0)
    else:
        hi = None
    return lo, hi


# ---------------------------------------------------------------------------
# Time bucketizers → Spark-SQL text
# ---------------------------------------------------------------------------

_N_UNIT = re.compile(r"^(\d+)\s+(minutes?|hours?)$")
_TRUNC_UNITS = {
    "second": "second", "minute": "minute", "hour": "hour", "day": "day",
    "week": "week", "month": "month", "quarter": "quarter", "year": "year",
}


def time_bucket(ts: str, bucketizer: str, tz: str | None = None) -> str:
    """Regular + recurring time bucketizers (SURVEY §2.5) over the SQL
    text ``ts`` of a UTC timestamp.

    ``tz`` is the SQL text of the bucketing zone: a zone-name literal, or
    a per-row zone expression — the timezone-column join
    (query/aql_compiler.go:439-466); None buckets in UTC. The timestamp
    shifts to wall-clock time in ``tz`` with full DST rules (supersedes
    the reference's constant-offset + DST-switch arithmetic,
    query/time_bucketizer.go:93-146).

    Regular buckets return truncated TIMESTAMP values (in `tz` wall-clock
    when given); recurring buckets return INT values. "day of week" is
    Monday=0..Sunday=6 per the reference bucketizer's -4d epoch shift
    (query/time_bucketizer.go:216-227) — NOT the scalar dayofweek().
    """
    b = bucketizer.strip().lower()
    if tz is not None:
        ts = f"from_utc_timestamp({ts}, {tz})"

    # regular: plain unit
    if b in _TRUNC_UNITS:
        return f"date_trunc('{_TRUNC_UNITS[b]}', {ts})"
    if b == "quarter-hour":
        return _floor_seconds(ts, 900)
    if b == "half-hour":
        return _floor_seconds(ts, 1800)

    # regular: "N minutes" / "N hours"
    m = _N_UNIT.match(b)
    if m:
        n, unit = int(m.group(1)), m.group(2)
        secs = n * (60 if unit.startswith("minute") else 3600)
        return _floor_seconds(ts, secs)

    # regular: the reference's short forms — "m"/"h"/"d" and "3m"/"2h"
    # (ParseRegularTimeBucketizer, time_bucketizer.go:100-119)
    m = re.fullmatch(r"(\d*)([mhd])", b)
    if m:
        n = int(m.group(1) or 1)
        secs = n * {"m": 60, "h": 3600, "d": 86400}[m.group(2)]
        return _floor_seconds(ts, secs)

    # recurring (reference: time_bucketizer.go:44-65); the week starts
    # Monday (reference -4d epoch shift): Sunday=1 → Monday=0
    dow_mon0 = f"((dayofweek({ts}) + 5) % 7)"
    if b == "time of day":
        return f"(((hour({ts}) * 3600) + (minute({ts}) * 60)) + second({ts}))"
    m = re.match(r"^(\d+)\s+minutes of day$", b)
    if m:
        mins = f"((hour({ts}) * 60) + minute({ts}))"
        return f"({mins} - ({mins} % {int(m.group(1))}))"
    if b == "hour of day":
        return f"hour({ts})"
    if b == "hour of week":
        return f"(({dow_mon0} * 24) + hour({ts}))"
    if b == "day of week":
        return dow_mon0
    recurring = {"day of month": "dayofmonth", "day of year": "dayofyear",
                 "month of year": "month", "quarter of year": "quarter"}
    if b in recurring:
        return f"{recurring[b]}({ts})"
    raise ValueError(f"unknown time bucketizer {bucketizer!r}")


def _floor_seconds(ts: str, secs: int) -> str:
    epoch = f"unix_timestamp({ts})"
    return f"timestamp_seconds(({epoch} - ({epoch} % {secs})))"


def time_bucket_oracle_sql(col: str, bucketizer: str, tz: str | None = None) -> str:
    """DuckDB-SQL rendering of the same bucketizer, for oracle tests."""
    b = bucketizer.strip().lower()
    if tz is not None and tz.upper() != "UTC":
        # interpret naive col as UTC instant, then express in tz wall-clock;
        # both steps are session-timezone independent
        col = f"timezone('{tz}', timezone('UTC', {col}))"
    if b in _TRUNC_UNITS:
        # ::TIMESTAMP: DuckDB's date_trunc returns DATE for day-and-coarser
        # units; Spark always returns TIMESTAMP
        return f"date_trunc('{_TRUNC_UNITS[b]}', {col})::TIMESTAMP"
    if b == "quarter-hour":
        return f"to_timestamp((floor(epoch({col}))::BIGINT // 900) * 900)"
    if b == "half-hour":
        return f"to_timestamp((floor(epoch({col}))::BIGINT // 1800) * 1800)"
    m = _N_UNIT.match(b)
    if m:
        n, unit = int(m.group(1)), m.group(2)
        secs = n * (60 if unit.startswith("minute") else 3600)
        return f"to_timestamp((floor(epoch({col}))::BIGINT // {secs}) * {secs})"
    if b == "time of day":
        return f"(hour({col}) * 3600 + minute({col}) * 60 + second({col}))::INT"
    if b == "hour of day":
        return f"hour({col})::INT"
    if b == "hour of week":
        return f"((isodow({col}) - 1) * 24 + hour({col}))::INT"
    if b == "day of week":
        return f"(isodow({col}) - 1)::INT"  # Monday=0..Sunday=6
    if b == "day of month":
        return f"dayofmonth({col})::INT"
    if b == "day of year":
        return f"dayofyear({col})::INT"
    if b == "month of year":
        return f"month({col})::INT"
    if b == "quarter of year":
        return f"quarter({col})::INT"
    raise ValueError(f"unknown time bucketizer {bucketizer!r}")


# ---------------------------------------------------------------------------
# Numeric bucketizer (reference: query/common/aql.go:26-45)
# ---------------------------------------------------------------------------


def numeric_bucket(col: str, *, bucket_width: float | None = None,
                   log_base: float | None = None,
                   manual_partitions: list[float] | None = None) -> str:
    """Equal-width / log-width / manual-partition bucketing of the
    numeric SQL text ``col``; returns the bucket's lower bound (reference
    semantics)."""
    if bucket_width is not None:
        w = lit(float(bucket_width))
        return f"(floor(({col} / {w})) * {w})"
    if log_base is not None:
        import math
        log_idx = (f"floor((ln(CAST({col} AS DOUBLE)) / "
                   f"{lit(math.log(float(log_base)))}))")
        return f"power({lit(float(log_base))}, {log_idx})"
    if manual_partitions:
        # bucket = greatest partition boundary <= value; below first → null
        out = "CAST(NULL AS DOUBLE)"
        for b in sorted(manual_partitions):
            out = (f"CASE WHEN ({col} >= {lit(float(b))}) "
                   f"THEN {lit(float(b))} ELSE {out} END")
        return out
    raise ValueError("numeric bucketizer requires bucket_width, log_base, or manual_partitions")
