"""Identifier sanitization (reference: java/utils/Sanitizer.java:4-8).

Avro identifiers forbid '-' and '.'; the reference maps both to '_' on every
db/table/column name (README.md:208-211). Same rule here, as plain Python
(applied at schema-build time) and as a Column expression (applied in-plan).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_TABLE = str.maketrans({"-": "_", ".": "_"})


def sanitize(name: str) -> str:
    return name.translate(_TABLE)


def sanitize_col(col: Column) -> Column:
    return F.translate(col, "-.", "__")
