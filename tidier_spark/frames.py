"""Window-frame specification: numeric row/range bounds and calendar Periods.

Re-expresses the reference's frame contract (talegari/tidier,
``R/mutate.R:162-165`` validation; ``R/mutate.R:17`` Period bounds;
``README.md:36-38`` sign convention) Spark-first:

* ``frame=(before, after)`` — counted *backward, forward* from the current
  row.  ``before=7, after=-1`` means "7 units back through 1 unit back"
  (current row excluded), exactly the reference's ``c(days(7), days(-1))``.
* ``math.inf`` on either side means unbounded
  (``Window.unboundedPreceding`` / ``unboundedFollowing``).
* :class:`Period` objects (``days(2)``, ``months(1)``, ...) give calendar
  frames over an ``index`` column — the analog of lubridate Periods
  (``R/mutate.R:98-100``).

Lowering tiers (SURVEY.md §7.1):

* fixed-width periods (seconds→weeks) lower to ``rangeBetween`` over the
  index cast to epoch seconds/days — stays in native Spark ``WindowExec``
  with whole-stage codegen;
* variable-width periods (months/years) lower to a SQL
  ``RANGE BETWEEN INTERVAL ...`` window via ``F.expr`` (Tier B), which
  Catalyst plans identically.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

__all__ = [
    "Period",
    "seconds",
    "minutes",
    "hours",
    "days",
    "weeks",
    "months",
    "years",
    "FrameSpec",
    "parse_frame",
]

_FIXED_SECONDS = {
    "second": 1,
    "minute": 60,
    "hour": 3600,
    "day": 86400,
    "week": 604800,
}

# Units whose length varies by calendar position — cannot be lowered to a
# numeric rangeBetween; require the SQL INTERVAL frame (Tier B).
_CALENDAR_UNITS = ("month", "year")

# Bounds on the real-time lengths of the calendar units, in microseconds:
# month spans 28..31 days and year 365..366, widened by one day on each
# side because under a DST session timezone a month of real time can be
# 31 days + 1 hour or 28 days - 1 hour.  Used ONLY for conservative halo
# envelopes (scale_safe calendar lowering), never for frame membership.
_CALENDAR_MICROS_RANGE = {
    "month": (27 * 86400 * 1_000_000, 32 * 86400 * 1_000_000),
    "year": (364 * 86400 * 1_000_000, 367 * 86400 * 1_000_000),
}


@dataclass(frozen=True)
class Period:
    """A calendar period used as a frame bound (lubridate ``Period`` analog)."""

    n: int
    unit: str  # second|minute|hour|day|week|month|year

    def __post_init__(self) -> None:
        if self.unit not in (*_FIXED_SECONDS, *_CALENDAR_UNITS):
            raise ValueError(f"unknown period unit: {self.unit!r}")

    @property
    def is_calendar(self) -> bool:
        return self.unit in _CALENDAR_UNITS

    def to_seconds(self) -> int:
        if self.is_calendar:
            raise ValueError(
                f"{self.unit} periods are calendar-variable; they lower to a "
                "SQL INTERVAL range frame, not a fixed number of seconds"
            )
        return self.n * _FIXED_SECONDS[self.unit]

    def to_sql_interval(self) -> str:
        """Magnitude as a SQL interval literal (sign handled by caller)."""
        return f"INTERVAL '{abs(self.n)}' {self.unit.upper()}"

    def __neg__(self) -> "Period":
        return Period(-self.n, self.unit)

    def __repr__(self) -> str:  # pragma: no cover
        return f"{self.unit}s({self.n})"


def seconds(n: int) -> Period:
    return Period(n, "second")


def minutes(n: int) -> Period:
    return Period(n, "minute")


def hours(n: int) -> Period:
    return Period(n, "hour")


def days(n: int) -> Period:
    return Period(n, "day")


def weeks(n: int) -> Period:
    return Period(n, "week")


def months(n: int) -> Period:
    return Period(n, "month")


def years(n: int) -> Period:
    return Period(n, "year")


@dataclass(frozen=True)
class FrameSpec:
    """Validated frame: ``before``/``after`` are int, float('inf'), or Period.

    Mirrors the reference's assertions (`R/mutate.R:162-165`): length-2,
    numeric or Period, both ends of the same kind.
    """

    before: object
    after: object

    @property
    def has_period(self) -> bool:
        return isinstance(self.before, Period) or isinstance(self.after, Period)

    @property
    def is_calendar(self) -> bool:
        return any(
            isinstance(b, Period) and b.is_calendar for b in (self.before, self.after)
        )

    def row_bounds(self) -> tuple[int, int]:
        """(start, end) for ``Window.rowsBetween`` — no index column."""
        if self.has_period:
            raise ValueError("Period frame bounds require an `index` column")
        return self._bounds(unit="native")

    def range_bounds(self, unit: str) -> tuple[int, int]:
        """(start, end) for ``Window.rangeBetween`` over an epoch-cast index.

        ``unit`` is what one step of the *order key* means:

        * ``"micros"`` — index cast to epoch microseconds (TimestampType);
          a numeric bound counts seconds, a Period converts via
          :meth:`Period.to_seconds`; both scale by 1e6.
        * ``"seconds"`` — index in epoch seconds; numeric bounds and
          Periods count seconds.
        * ``"days"`` — index kept as epoch days (DateType); a numeric bound
          counts days, day/week Periods convert to days, sub-day Periods
          are an error.
        * ``"native"`` — numeric index column used as-is; Periods are an
          error (caught earlier by the compiler).
        """
        return self._bounds(unit=unit)

    def _bounds(self, unit: str) -> tuple[int, int]:
        def lower(v: object, sign: int) -> int:
            # sign=-1 for `before` (counted backward), +1 for `after`
            # (README.md:36-38 sign convention).
            if v == math.inf:
                from pyspark.sql import Window

                return Window.unboundedPreceding if sign < 0 else Window.unboundedFollowing
            if isinstance(v, Period):
                secs = v.to_seconds()
                if unit == "micros":
                    return sign * secs * 1_000_000
                if unit == "seconds":
                    return sign * secs
                if unit == "days":
                    if secs % 86400:
                        raise ValueError(
                            f"sub-day period {v!r} cannot frame a DateType index"
                        )
                    return sign * (secs // 86400)
                raise ValueError("Period frame bounds require a date/timestamp index")
            if unit == "micros":
                # numeric bounds over a timestamp index count seconds
                return sign * int(v) * 1_000_000
            return sign * int(v)

        return lower(self.before, -1), lower(self.after, +1)

    def micros_envelope(self) -> tuple[int, int]:
        """Conservative ``(lo_us, hi_us)``: every row's TRUE frame over a
        timestamp index is contained in ``[k + lo_us, k + hi_us]`` epoch
        microseconds.  Calendar units use bounds on their real-time
        lengths (month in 27..32 days, year in 364..367: the calendar
        extremes plus one day for DST shifts), so the
        envelope is a SUPERSET bound usable for halo copying — it is
        NOT a frame; exact membership stays with the SQL INTERVAL
        window.  Raises for unbounded ends (no finite envelope)."""

        def extremes(v: object, sign: int) -> tuple[int, int]:
            if v == math.inf:
                raise ValueError("micros_envelope requires finite bounds")
            if isinstance(v, Period):
                s = sign * v.n
                if v.is_calendar:
                    mn, mx = _CALENDAR_MICROS_RANGE[v.unit]
                    return min(s * mn, s * mx), max(s * mn, s * mx)
                off = sign * v.to_seconds() * 1_000_000
                return off, off
            off = sign * int(v) * 1_000_000
            return off, off

        return extremes(self.before, -1)[0], extremes(self.after, +1)[1]

    def sql_frame_clause(self) -> str:
        """``RANGE BETWEEN ... AND ...`` with calendar INTERVAL bounds (Tier B)."""

        def bound(v: object, sign: int) -> str:
            if v == math.inf:
                return "UNBOUNDED PRECEDING" if sign < 0 else "UNBOUNDED FOLLOWING"
            if isinstance(v, Period):
                signed = sign * v.n
                if signed == 0:
                    return "CURRENT ROW"
                word = "PRECEDING" if signed < 0 else "FOLLOWING"
                return f"{v.to_sql_interval()} {word}"
            signed = sign * int(v)
            if signed == 0:
                return "CURRENT ROW"
            word = "PRECEDING" if signed < 0 else "FOLLOWING"
            return f"{abs(signed)} {word}"

        return f"RANGE BETWEEN {bound(self.before, -1)} AND {bound(self.after, +1)}"


def parse_frame(frame: object) -> FrameSpec:
    """Validate a user frame: 2-sequence of numeric-or-Period (``R/mutate.R:162-165``)."""
    if isinstance(frame, FrameSpec):
        return frame
    try:
        before, after = frame  # type: ignore[misc]
    except (TypeError, ValueError) as exc:
        raise ValueError(
            f".frame must be a (before, after) pair, got {frame!r}"
        ) from exc
    for v in (before, after):
        ok = isinstance(v, (int, Period)) or (
            isinstance(v, float) and (v == math.inf or v.is_integer())
        )
        if not ok or isinstance(v, bool):
            raise ValueError(
                f"frame bounds must be int, inf, or Period, got {v!r}"
            )
    if isinstance(before, Period) != isinstance(after, Period):
        # Mixed numeric/Period is allowed only when the numeric side is 0 or inf
        # (the reference requires same class; 0/inf are unambiguous).
        for v in (before, after):
            if not isinstance(v, Period) and v not in (0, math.inf):
                raise ValueError(
                    "frame bounds must both be numeric or both Periods "
                    "(0 and inf may mix with Periods)"
                )
    return FrameSpec(before, after)
