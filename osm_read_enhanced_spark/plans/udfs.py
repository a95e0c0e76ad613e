"""Pandas UDF definitions for the query catalog.

Kept in a module WITHOUT ``from __future__ import annotations``:
PySpark's pandas_udf resolves the type hints at definition time, and
PEP 563 stringized annotations break its signature inference.
"""

import pandas as pd
from pyspark.sql import functions as F


@F.pandas_udf("long")
def s2_cell_l10(lat: pd.Series, lon: pd.Series) -> pd.Series:
    from ..functions.s2 import s2_cell_id

    return pd.Series(s2_cell_id(lat.to_numpy(), lon.to_numpy(), level=10))


def hex_cell_udf(res):
    """TRUE icosahedral H3 cell id at ``res`` (functions/h3core.py) —
    the user-facing H3 surface (BASELINE north_rule). The planar
    ``hexgrid`` lattice remains only as the internal blocking grid of
    the kNN operator."""

    @F.pandas_udf("long")
    def cell(lat: pd.Series, lon: pd.Series) -> pd.Series:
        from ..functions.h3core import latlng_to_cell_vec

        return pd.Series(latlng_to_cell_vec(lat.to_numpy(), lon.to_numpy(), res))

    return cell


def h3_parent_udf(cell, parent_res: int):
    """H3 parent via the index bit layout — pure JVM Column math (NOT a
    UDF, despite living here with the other H3 surface helpers): clear
    the res nibble to ``parent_res`` and set the digits below it to 7."""
    digit7_mask = (1 << (3 * (15 - parent_res))) - 1
    res_cleared = F.bitwise_not(F.lit(0xF << 52))
    return (
        cell.bitwiseAND(res_cleared)
        .bitwiseOR(F.lit(parent_res << 52))
        .bitwiseOR(F.lit(digit7_mask))
    )


@F.pandas_udf("string")
def detect_lang_udf(text: pd.Series) -> pd.Series:
    from ..functions.text import detect_language

    return detect_language(text)
