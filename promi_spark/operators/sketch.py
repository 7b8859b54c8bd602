"""Two-pass EXACT distributed heavy hitters: Misra-Gries candidate
sketch + exact-count verify.

Public formulation: Misra & Gries 1982 ("Finding repeated elements");
the mergeability argument is Agarwal et al. 2012 ("Mergeable summaries",
PODS). The point at 100 TB: a plain ``GROUP BY item HAVING count >= t``
shuffles one row per DISTINCT item per task — for a token stream that
is billions of distinct keys through the exchange. This operator
instead:

1. **Candidate pass** (``mg_candidates``): each partition keeps a
   Misra-Gries summary of ``capacity`` counters (an ``applyInPandas``-
   free ``mapInPandas`` — Arrow-batched, vectorized ``value_counts``
   per batch, one batched decrement per overflow). A summary with
   capacity ``c`` undercounts any item by at most ``n_p / c`` (each
   decrement step subtracts ``delta`` from >= ``c`` counters, so
   ``sum(delta) * c <= n_p``). Summing the bound over partitions: an
   item NOT in any partition's summary has global count ``<= n / c``
   — so with ``c > n / min_count`` the union of summaries is a
   guaranteed SUPERSET of every item with global count >= min_count.
2. **Verify pass** (``heavy_hitters``): the candidate set (at most
   ``partitions * capacity`` rows — small) is broadcast-semi-joined
   onto the stream, counted exactly, and thresholded. Only candidate
   rows reach the exchange; the long tail never shuffles.

The output is therefore EXACTLY ``GROUP BY item HAVING count >=
min_count`` (DuckDB-oracled), while the shuffle volume is bounded by
the candidate set instead of the distinct-item count. With the
fractional threshold form (``min_frac``), capacity is ``ceil(1/frac)
+ 1`` — CONSTANT in the data size, so the sketch memory per partition
never grows with scale.

No counterpart in the reference (its Statistics handler counts
components, ``src/stream/stats.rs``); this extends the corpus-analysis
family (boilerplate-token / hot-key discovery feeding filter lists and
skew-salting decisions).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from promi_spark.lifetime import persist

__all__ = ["mg_candidates", "heavy_hitters", "mg_update"]


def mg_update(counts: dict, batch_counts, capacity: int) -> dict:
    """One Misra-Gries batch step: merge ``batch_counts`` (item ->
    occurrences) into ``counts``, then if over ``capacity`` subtract
    the (L - capacity)-th smallest counter from every counter and drop
    the non-positive ones. Each subtraction step removes >= delta *
    capacity total mass (every counter >= delta loses delta, and at
    least ``capacity`` of them sit at or above delta by the order
    statistic), so the total undercount of any single item over a
    partition is bounded by n_p / capacity. Pure function of the dict
    — the property tests exercise the guarantee without Spark."""
    for item, c in batch_counts:
        counts[item] = counts.get(item, 0) + int(c)
    if len(counts) > capacity:
        vals = sorted(counts.values())
        delta = vals[len(counts) - capacity - 1]
        counts = {k: v - delta for k, v in counts.items() if v > delta}
    return counts


def _mg_summaries(
    df: DataFrame, col: str, capacity: int, with_rows: bool = False
) -> DataFrame:
    """Per-partition Misra-Gries summaries, unioned: ``(item, est)``
    where ``est`` lower-bounds the partition count by at most
    ``n_p / capacity``. Null items are ignored (they cannot equi-join
    in the verify pass; count them separately if needed). With
    ``with_rows`` each partition ALSO emits one ``(NULL, n_p)`` row
    carrying its exact non-null row count — nulls were filtered before
    the sketch, so the sentinel cannot collide with a real item; this
    lets :func:`heavy_hitters` derive the exact stream size from the
    sketch pass instead of a separate full count() scan."""
    if capacity < 1:
        raise ValueError("mg_candidates: capacity must be >= 1")
    field = df.schema[col]
    out_schema = T.StructType(
        [
            T.StructField("item", field.dataType, True),
            T.StructField("est", T.LongType(), False),
        ]
    )
    src = df.select(F.col(col).alias("item"))

    def summarize(batches: Iterator) -> Iterator:
        import pandas as pd

        counts: dict = {}
        n_rows = 0
        for pdf in batches:
            n_rows += len(pdf)
            counts = mg_update(
                counts, pdf["item"].value_counts().items(), capacity
            )
        if with_rows and n_rows:
            yield pd.DataFrame({"item": [None], "est": [n_rows]})
        if counts:
            yield pd.DataFrame(
                {"item": list(counts), "est": list(counts.values())}
            )

    return src.filter(F.col("item").isNotNull()).mapInPandas(
        summarize, out_schema
    )


def mg_candidates(
    df: DataFrame, col: str, capacity: int
) -> DataFrame:
    """Per-partition Misra-Gries summaries, unioned: ``(item, est)``
    where ``est`` lower-bounds the partition count by at most
    ``n_p / capacity``. Null items are ignored (they cannot equi-join
    in the verify pass; count them separately if needed). The union is
    a superset of every item with global count ``> n / capacity``."""
    return _mg_summaries(df, col, capacity, with_rows=False)


def heavy_hitters(
    df: DataFrame,
    col: str,
    min_count: int | None = None,
    min_frac: float | None = None,
    capacity: int | None = None,
) -> DataFrame:
    """All items of ``df[col]`` with EXACT count >= the threshold:
    ``(item, n_occurrences)``, identical to ``GROUP BY col HAVING
    count(*) >= t`` (nulls excluded) but with the long tail filtered
    BEFORE the exchange by the Misra-Gries candidate superset.

    Threshold forms (exactly one):
    - ``min_count``: absolute. Capacity defaults to
      ``n // min_count + 1`` (one count() pass to size the guarantee);
      pass ``capacity`` explicitly to skip that pass — the caller then
      owns ``capacity > n / min_count``.
    - ``min_frac``: fractional — threshold ``ceil(n * min_frac)``,
      capacity ``ceil(1 / min_frac) + 1`` (scale-invariant sketch
      memory, known WITHOUT ``n``). r15: ``n`` itself now rides out of
      the sketch pass as exact per-partition row counts (sentinel rows
      of :func:`_mg_summaries`), so the stream is scanned exactly
      TWICE (sketch + verify) instead of three times — the separate
      full count() scan is gone; at 100 TB that is a whole corpus pass.
      The tiny summary relation (<= partitions x capacity rows) is
      persisted for its two readers (relation lifetime: README
      "Relation lifetime").
    """
    if (min_count is None) == (min_frac is None):
        raise ValueError(
            "heavy_hitters: pass exactly one of min_count / min_frac"
        )
    if min_count is not None and min_count < 1:
        # validated on BOTH the sized and caller-capacity paths: an
        # explicit capacity with min_count=0 would otherwise silently
        # return every candidate item instead of raising
        raise ValueError("heavy_hitters: min_count must be >= 1")
    nn = F.col(col).isNotNull()
    if min_frac is not None:
        if not 0 < min_frac < 1:
            raise ValueError("heavy_hitters: min_frac must be in (0, 1)")
        capacity = int(math.ceil(1.0 / min_frac)) + 1
        # the sketch pass is persisted (<= partitions x capacity rows —
        # the same relation the verify join broadcasts, so it is
        # driver/executor-sized by design) and serves BOTH the exact
        # stream size (one tiny aggregate over the sentinel rows,
        # materializing the cache) and the candidate set the verify
        # join broadcasts.
        summ = persist(_mg_summaries(df, col, capacity, with_rows=True))
        n = (
            summ.filter(F.col("item").isNull()).agg(F.sum("est")).first()[0]
            or 0
        )
        min_count = int(math.ceil(n * min_frac))
        cands = (
            summ.filter(F.col("item").isNotNull())
            .select(F.col("item").alias(col))
            .distinct()
        )
    else:
        if capacity is None:
            n = df.filter(nn).count()
            capacity = n // min_count + 1
        cands = mg_candidates(df, col, capacity).select(
            F.col("item").alias(col)
        ).distinct()
    return (
        df.filter(nn)
        .join(F.broadcast(cands), col, "left_semi")
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= F.lit(int(min_count)))
    )
