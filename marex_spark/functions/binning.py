"""Binning / clamping expressions (reference: marEx/detect.py:2601-2631
asymmetric histogram bins; np.clip sites detect.py:2530, track.py:2222)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def clip(c: Column, lo: float | Column, hi: float | Column) -> Column:
    """np.clip equivalent: greatest/least composition (SURVEY F9)."""
    lo_c = F.lit(lo) if not isinstance(lo, Column) else lo
    hi_c = F.lit(hi) if not isinstance(hi, Column) else hi
    return F.least(F.greatest(c, lo_c), hi_c)


def digitize(c: Column, precision: float, max_value: float) -> Column:
    """marEx's asymmetric anomaly binning (detect.py:2601-2631): one bin for
    everything < 0, then uniform bins of width ``precision`` up to
    ``max_value``. Returns integer bin index, 0 = the negative bin.

    bin = 0                      if v < 0
    bin = 1 + floor(v/precision) clamped to n_bins  otherwise
    """
    n_pos = int(round(max_value / precision))
    pos = F.lit(1) + F.floor(c / F.lit(float(precision))).cast("int")
    return F.when(c < 0, F.lit(0)).otherwise(clip(pos, F.lit(1), F.lit(n_pos + 1))).cast("int")
