"""Record = DataFrame + header (variable -> physical columns).

The engine-side analogue of the reference's operator output contract: every
physical operator computes its output header alongside its output table
(RelationalOperator.scala:68-123). Here both travel together in one value,
with two facts about the rows that the correlated-subpattern lowerings
(EXISTS, OPTIONAL MATCH, CALL { }) read to pick their join plan.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, FrozenSet, Optional

from pyspark.sql import DataFrame

from cypher_for_apache_spark_spark.header import Header


@dataclass
class Record:
    """``df`` and ``header`` plus two facts about the rows of ``df``.

    ``unique``: variables whose id is non-null and appears in at most one
    row. A fresh node scan sets it for its variable; it rests on the
    node-id uniqueness every element table already promises (one row per
    node, ids distinct across the tables of a graph). Filters, semi/anti
    joins and left joins against a side with at most one row per join key
    keep it. Every other operator drops it, which is the default.

    ``rows``: an upper bound on the row count, as a thunk so that the
    element-table counts behind it run only when a gate asks
    (``row_bound``), at most once per table per graph
    (``PropertyGraph.element_rows``). It propagates through scans,
    filters, expands from a unique variable, semi/anti joins, projections
    (DISTINCT or not) and aggregation; ``None`` means no bound is known,
    which is the default."""

    df: Optional[DataFrame]  # None = unit table (one implicit row, no columns)
    header: Header = field(default_factory=dict)
    unique: FrozenSet[str] = frozenset()
    rows: Optional[Callable[[], int]] = None

    def bound(self):
        return set(self.header)

    def meta(self, var: str):
        return self.header.get(var)

    def narrowed(self, df: DataFrame, header: Optional[Header] = None) -> "Record":
        """A record over the same rows as this one or a subset of them,
        possibly with more columns: both facts carry over."""
        return Record(df, self.header if header is None else header, self.unique, self.rows)

    def row_bound(self) -> Optional[int]:
        """The upper bound on the row count, counting element tables on
        first use; None when no bound is known."""
        return None if self.rows is None else self.rows()
