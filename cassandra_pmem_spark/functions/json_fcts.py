"""tojson()/fromjson() + SELECT JSON / INSERT JSON analogs.

Reference: cql3/functions/ToJsonFct.java:66, FromJsonFct.java:79,
cql3/Json.java:34,:281; whole-row form Selectable.java:389
(WithToJSonFunction) and grammar Parser.g:478 (INSERT JSON).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DataType


def to_json(col: Column | str) -> Column:
    """tojson(x) — any value → JSON text. For scalar columns Spark's to_json
    needs a container; wrap and unwrap to keep exact JSON value semantics."""
    c = F.col(col) if isinstance(col, str) else col
    # to_json(struct(x)) -> {"x": <json>}; strip the wrapper to get the value.
    return F.regexp_replace(F.to_json(F.struct(c.alias("v"))), r'^\{"v":|\}$', "")


def from_json(col: Column | str, schema: DataType | str) -> Column:
    """fromjson(s) — JSON text → typed value (FromJsonFct.java:79)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.from_json(c, schema)
