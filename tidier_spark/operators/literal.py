"""Model-sized literals in O(1) Python→JVM calls.

``F.array(*[F.lit(v) for v in values])`` costs several py4j round trips
per element (plus PySpark's call-site capture), so a k×d centroid table
or a |V|-entry vocabulary map costs driver seconds before any job runs.
:func:`json_lit` sends the whole value as ONE string literal and lets the
optimizer fold ``from_json`` into the same typed literal the element-wise
build produced: the executed plan is unchanged, only the driver cost is.
"""

from __future__ import annotations

import json

from pyspark.sql import Column
from pyspark.sql import functions as F


def json_lit(value, ddl: str) -> Column:
    """``value`` (nested lists / dicts / scalars) as one foldable literal
    of type ``ddl`` (e.g. ``"array<array<bigint>>"``,
    ``"map<string,string>"``).  Floats round-trip exactly (``json``
    writes the shortest repr, the JVM parses it back to the same
    double)."""
    return F.from_json(F.lit(json.dumps(value)), ddl)
