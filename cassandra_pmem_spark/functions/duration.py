"""Duration type (cql3/Duration.java:35-82; db/marshal/DurationType.java).

CQL durations are (months, days, nanoseconds) triples — calendar-aware,
NOT a fixed number of micros. Spark's CalendarIntervalType is the same
shape with micros instead of nanos (SURVEY §1.2: nanos→micros truncation,
documented). Two semantics carried over:

- construction/arithmetic: timestamp ± duration respects calendar months
  (OperationFcts.java:218 temporal ± duration);
- **non-comparability**: Duration has no total order (1mo vs 30d is
  undefined), so the reference rejects duration clustering columns and
  duration comparisons (AbstractType comparability; Duration.java). The
  validator mirrors that via `assert_comparable`.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from cassandra_pmem_spark.cql.validator import InvalidRequest

_DUR_RE = re.compile(
    r"^(?:(\d+)y)?(?:(\d+)mo)?(?:(\d+)w)?(?:(\d+)d)?(?:(\d+)h)?(?:(\d+)m)?(?:(\d+)s)?"
    r"(?:(\d+)ms)?(?:(\d+)us)?(?:(\d+)ns)?$"
)

_NON_COMPARABLE_PREFIXES = ("interval", "calendarinterval")


def parse_duration(text: str) -> tuple[int, int, int]:
    """CQL duration literal → (months, days, micros)
    (Duration.java:35 parse format: 1y2mo3w4d5h6m7s8ms9us10ns;
    nanos truncate to micros — documented deviation)."""
    m = _DUR_RE.match(text.strip().lower())
    if not m or not any(m.groups()):
        raise InvalidRequest(f"invalid duration literal {text!r}")
    y, mo, w, d, h, mi, s, ms, us, ns = (int(g) if g else 0 for g in m.groups())
    months = y * 12 + mo
    days = w * 7 + d
    micros = (((h * 60 + mi) * 60 + s) * 1000 + ms) * 1000 + us + ns // 1000
    return months, days, micros


def duration_interval(text: str) -> Column:
    """Duration literal as a Spark interval expression."""
    months, days, micros = parse_duration(text)
    return F.expr(
        f"make_interval(0, {months}, 0, {days}, 0, 0, {micros / 1_000_000})"
    )


def ts_plus_duration(ts: Column | str, dur: str) -> Column:
    """timestamp + duration (OperationFcts.java:218) — calendar-aware."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return c + duration_interval(dur)


def assert_comparable(dtype: str, context: str = "clustering/ordering") -> None:
    """Reject duration where a total order is required
    (Duration is not comparable — SURVEY §1.2 type-system note)."""
    if dtype.lower().startswith(_NON_COMPARABLE_PREFIXES):
        raise InvalidRequest(
            f"duration/interval values cannot be used for {context}: no total order"
        )
