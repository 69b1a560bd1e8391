"""Presentation-edge formatting expressions.

These reproduce the reference's string-formatting surface (SURVEY.md
§2.3 F9/F10/F14) as native Column expressions. They are kept OUT of
oracle-checked query outputs (formatting differences are cosmetic but
hash-fatal); the serving layer applies them at the collect edge.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ellipsize(col: Column, max_len: int = 45, keep: int = 20) -> Column:
    """Shorten long strings: s[:20] + '...' + s[-20:] if len > 45.

    Reference: ``shorten`` applied as a row-wise UDF (plot.py:26-27,
    used at plot.py:53, 64, 94); here a native expression (F14).
    """
    return F.when(F.length(col) <= max_len, col).otherwise(
        F.concat(
            F.substring(col, 1, keep), F.lit("..."), F.substring(col, -keep, keep)
        )
    )

