"""Driver-local DataFrame construction without Python-worker tasks.

``spark.createDataFrame(list_of_tuples, schema)`` takes the pickled-RDD
path: the rows are parallelized into ``defaultParallelism`` slices (32
at local[32] — even for 8 rows), and EVERY downstream action launches
one Python worker per slice just to unpickle them (measured: a
count() over an 8-row list relation costs ~0.37 s at local[32], 32
tasks each blocked ~190 ms on worker round trips; guide §4.1 — the
boundary is per TASK, not per row). The pandas/Arrow path instead
ships ONE Arrow batch and plans as a JVM ``LocalTableScan``: ~0.10 s
for the same build+count, zero Python tasks, and the relation
broadcast-joins without a scan stage.

:func:`local_df` routes small driver-side row lists through the Arrow
path when the values are plain scalars, and falls back to the stock
list path otherwise. The fallback matters for exactness:

* ``float('nan')`` inside an object-dtype pandas column becomes NULL
  on the Arrow path but stays NaN on the list path — so any NaN forces
  the fallback;
* naive ``datetime``/``Decimal``/nested values have their own coercion
  rules per path — conservatively fall back;
* a value whose class is not the one its field type takes: the Arrow
  path casts it (2.5 into BIGINT truncates, 5 into DATE is a day count,
  ``b"ab"`` into STRING loses its ``repr``) where the stock path raises
  or renders it differently — so the field types gate the fast path too.

Both paths produce identical rows for None/bool/int/finite-float/str/
bytes/date scalars in BOOLEAN/integral/FLOAT-DOUBLE/STRING/BINARY/DATE
fields respectively (pinned by tests/test_localdf.py).
"""

from __future__ import annotations

import datetime as _dt
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_SCALAR_OK = (bool, int, str, bytes)

# the one Python class each field type takes on both paths alike
_FIELD_CLASS = {T.BooleanType: bool, T.ByteType: int, T.ShortType: int,
                T.IntegerType: int, T.LongType: int, T.FloatType: float,
                T.DoubleType: float, T.StringType: str, T.BinaryType: bytes,
                T.DateType: _dt.date}


def _arrow_safe(rows) -> bool:
    for r in rows:
        for v in r:
            if v is None or isinstance(v, _SCALAR_OK):
                continue
            if isinstance(v, float):
                if math.isnan(v):
                    return False  # NaN→NULL drift on the Arrow path
                continue
            if type(v) is _dt.date:  # datetime subclasses date — exclude
                continue
            return False
    return True


def _types_agree(rows, schema: T.StructType) -> bool:
    """Every non-null value is exactly the class its field type takes
    (``bool`` is not an ``int`` here, nor a ``datetime`` a ``date``);
    a field of any other type may only hold nulls."""
    want = [_FIELD_CLASS.get(type(f.dataType)) for f in schema.fields]
    return all(v is None or type(v) is c
               for r in rows for v, c in zip(r, want))


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Build a DataFrame from a small driver-side ``rows`` list (tuples
    or Rows) and an explicit ``schema`` (DDL string or StructType),
    preferring the Arrow/LocalTableScan path (module docstring).
    Result rows are identical to ``spark.createDataFrame(rows, schema)``
    — value classes the two paths coerce differently fall back."""
    rows = [tuple(r) for r in rows]
    if not _arrow_safe(rows):
        return spark.createDataFrame(rows, schema)
    import pandas as pd

    struct = schema if isinstance(schema, T.StructType) \
        else T._parse_datatype_string(schema)
    names = struct.fieldNames()
    if any(len(r) != len(names) for r in rows):
        # pandas would silently NULL-pad/truncate ragged tuples where
        # the stock path raises a length-mismatch error — keep the
        # loud failure (r13 review).
        return spark.createDataFrame(rows, schema)
    if not _types_agree(rows, struct):
        return spark.createDataFrame(rows, schema)
    pdf = pd.DataFrame(rows, columns=names, dtype=object)
    try:
        return spark.createDataFrame(pdf, schema=schema)
    except Exception:
        # Arrow conversion rejected something the guard missed — the
        # stock path is always correct, just slower.
        return spark.createDataFrame(rows, schema)
