"""Window-function operators (SURVEY.md §2.F).

The reference has no window engine — it gets these effects from Mongo
secondary indexes + per-key passes; Spark provides them natively as
one shuffle per distinct partitioning. Determinism discipline:
``row_number``/``ntile`` always order by a full unique key (ties are
otherwise assigned arbitrarily and would break the oracle hash);
``rank``/``dense_rank`` are tie-stable by definition and may order by
the semantic key alone.

Scale note: all windows here partition by a key (user, segment) so
state is bounded per partition and the shuffle parallelizes. The one
global window in the repo (sort_global) is documented as a
single-reducer pattern to avoid at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec_wsum(col: str | Column, window, scale: int = 6) -> Column:
    """Exact window-sum in integer units (same discipline and fast
    path as queries.base.dsum: floor(x·10^s) summed as LONG over the
    frame, divided back — associative, codegen-friendly, identical in
    any engine)."""
    c = F.col(col) if isinstance(col, str) else col
    unit = float(10**scale)
    return (
        F.sum(F.floor(c * F.lit(unit)).cast("long")).over(window) / F.lit(unit)
    ).cast("double")
