"""Error-injection operators (SURVEY.md §2.A) + the mess_data driver.

Each transform is a pure function
``(df, lineage, n_errors, col_names, *, seed, stage, **kwargs)
  → (df', new_lineage_rows)``
mirroring the reference's dispatch contract (`/root/reference/R/1_error.R:62-106`)
but returning the lineage explicitly (Spark has no attributes-on-DataFrames).

Cell transforms record lineage in the table itself: each edit appends an
entry to the ``__lineage`` array column in the same projection.
``register`` wraps them, so a standalone call on a table without that
column seeds it from ``lineage`` and returns the table without it, plus
the appended entries as lineage rows; inside ``mess_data`` (table with
the column) the entries stay in the column and ``None`` is returned. The
row-generating transforms (``base.ROW_OPS``) return their lineage rows
explicitly.
"""

from rlerrorgenerator_spark.operators.base import (
    LINEAGE_SCHEMA,
    REGISTRY,
    empty_lineage,
    register,
)
from rlerrorgenerator_spark.operators import (  # noqa: F401  (registration side effects)
    dates,
    edit,
    field,
    lookup,
    rows,
)
from rlerrorgenerator_spark.operators.driver import ErrorConfigRow, calibrate_error_rate, mess_data

__all__ = [
    "LINEAGE_SCHEMA",
    "REGISTRY",
    "register",
    "empty_lineage",
    "mess_data",
    "calibrate_error_rate",
    "ErrorConfigRow",
]
