"""The engine's sizing policy: how wide a frame is, and when a counted
result is small enough to finish on the driver. Each rule needs only the
order of magnitude of a size, so a cheap count or a byte total decides it.

**Row width** (``rows_width``): iteration frames (graph rounds, pagerank,
min-label propagation) run at ~1M rows per partition, within [4, 1024].
A pair graph is orders of magnitude smaller than its corpus, so rounds at
the session shuffle width (a corpus-scale setting) pay task overhead for
nothing: a small graph runs a handful of tasks, 1e9 rows ~1000-way.

**Byte width** (``bytes_width``): frames whose row count follows a
table's size but whose persisted plan would pin the session shuffle width
(a cached plan's exchange is never AQE-coalesced) run at the table's
on-disk bytes over ``per_slot``, rounded up, within [``floor``,
defaultParallelism]; defaultParallelism when the path cannot be stat'ed.

**Driver gate** (``DRIVER_ROWS``): at or below this counted size, a
pair-graph-bounded tail (connected components' union-find, incremental
contraction, leakage and method-agreement set algebra) is collected and
finished on the driver; above it the all-DataFrame tail runs. Both give
the same result, and the count comes first, so the collect is bounded.
Driver memory is the binding limit: 1M id pairs are ~16 MB raw and a few
hundred MB as Python rows. Time is not: timed on synthetic incremental
merge batches (3 reps, outputs identical), the driver tail won at every
size, so the time crossover lies above 1e6 pairs::

    pairs               1e3    1e4     1e5    1e6
    driver tail s       1.4    1.45    3.5    23-26
    distributed tail s  3.2    3.0     4.8    39-40

Operators keep a ``driver_threshold`` parameter (default ``DRIVER_ROWS``)
so tests can force the distributed tail.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from mysql2psql_spark.sources.parquet import path_stat

DRIVER_ROWS = 1_000_000


def rows_width(n: int) -> int:
    """Partition count for an iteration frame of ``n`` rows."""
    return int(max(4, min(1024, n // 1_000_000 + 4)))


def bytes_width(spark: SparkSession, path: str, per_slot: int, floor: int) -> int:
    """Partition count for a frame sized by ``path``'s on-disk bytes:
    ``ceil(bytes / per_slot)`` clamped to ``[floor, defaultParallelism]``."""
    width = spark.sparkContext.defaultParallelism
    try:
        _, nbytes = path_stat(os.path.realpath(path))
    except OSError:
        return width
    return int(max(floor, min(width, (nbytes + per_slot - 1) // per_slot)))
