"""The one estimate rule for Spark's built-in HLL sketches.

Distinct-count state everywhere in the engine (``metric_rollup`` id
sketches, the streaming cascade's ``distinct_col``, ``graph.hyperball``) is a
DataSketches HLL binary built with ``F.hll_sketch_agg`` and merged with
``F.hll_union_agg`` / ``F.hll_union``: mergeable in the JVM, no Python, and
the binary carries its own lgK, so merging sketches of different precision
fails loudly instead of estimating wrongly.

Estimates go through :func:`hll_estimate`, never a raw
``F.hll_sketch_estimate``. DataSketches keeps the HIP estimator for a sketch
built in a single partition and switches to the composite estimator once the
sketch passes through a union, so the raw estimate of the same distinct set
depends on how its rows were partitioned (measured at local[4]: 100k
distinct values gave 99,891 under ``coalesce(1)`` and 101,587 under
``repartition(16)``). A self-union first puts every sketch on the composite
estimator, which is a function of the register values alone: estimates are
then identical across partition layouts, between cascaded and direct tiers,
and between streamed and batch windows. The sketch BYTES are not (they carry
the HIP accumulator and the insertion order of sparse coupon lists), so
compare sketches through this estimate, not byte for byte.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hll_estimate(col: str | Column) -> Column:
    """Layout-independent distinct estimate (bigint) of an HLL sketch column."""
    return F.hll_sketch_estimate(F.hll_union(col, col))
