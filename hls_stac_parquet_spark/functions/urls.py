"""URL and identifier extraction functions.

The reference pulls the MGRS tile out of a granule URL with a regex
(write.py:41-55); here that is one built-in expression.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: MGRS tile id embedded in HLS granule URLs, e.g. ``...T15TWN...``
#: (reference pattern at write.py:41)
MGRS_TILE_PATTERN = r"\.T([0-9]{2}[A-Z]{3})\."


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def extract_mgrs(url: Column | str) -> Column:
    """MGRS tile from a granule URL; NULL when absent (the reference
    returns None, write.py:53-55 — Spark's empty-string no-match is
    normalized to NULL to keep the sentinel semantics explicit)."""
    m = F.regexp_extract(_col(url), MGRS_TILE_PATTERN, 1)
    return F.when(m != "", m)
