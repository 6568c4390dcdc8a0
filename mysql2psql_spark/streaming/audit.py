"""Streamed-equals-batch audit: one helper behind every foreachBatch gate's
oracled audit row (the ``stream_*`` summary queries).

Each gate is driven in batch mode: its foreachBatch function is called on
two deterministic micro-batches (the source split by the parity of one
id column), the partials it wrote are read back, and the result is
compared to the gate's batch twin, the one-shot query the gate must
reproduce. The comparison is ONE row::

    n_triggers, stream_<count>, batch_<count>,
    only_stream, only_batch, value_mismatches

A green row (the two counts equal, the three defect counts 0) says the
micro-batch decomposition is exact; the DuckDB oracles restate exactly
that guarantee.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql2psql_spark.operators.layout import session_scratch
from mysql2psql_spark.operators.materialize import materialize


def audit_dir(spark: SparkSession, prefix: str, sf_dir: str) -> str:
    """``{session scratch}/{prefix}_{sf tag}``: the partial directory of
    one audit query at one scale factor (``sf0.01`` -> ``sf0_01``)."""
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    return os.path.join(session_scratch(spark), f"{prefix}_{sf_tag}")


def stream_batch_audit(
    spark: SparkSession,
    name: str,
    out_dir: str,
    source: DataFrame,
    split: str,
    make_gate: Callable[[str, str], Callable[[DataFrame, int], None]],
    read: Callable[[str], DataFrame],
    twin: Callable[[], DataFrame],
    keys: list[str],
    vals: list[str],
    count: str = "rows",
) -> DataFrame:
    """Run ``source`` through a foreachBatch gate in two micro-batches and
    audit the partials against the batch twin; return the audit row as a
    local one-row frame.

    - ``make_gate(out_dir, lineage)`` builds the gate's ``apply``;
    - triggers 0 and 1 are ``source`` rows with even and odd ``split``;
    - ``read(out_dir)`` compacts the partials the triggers wrote;
    - ``twin()`` builds the batch frame the partials must equal;
    - ``keys`` join the two sides, ``vals`` are compared null-safely, and
      ``count`` names the size columns (``stream_rows``/``batch_rows``).

    ``out_dir`` and the lineage token rotate together. Every call is a
    fresh query lineage whose batch ids restart at 0, so the directory is
    emptied and the gate gets a new ``{name}:{uuid}`` token. The
    versioned-partial guard refuses a batch-0 write over partials of
    another lineage, and a fixed token (such as the path itself) could
    never tell two lineages on one path apart.

    The two triggers run strictly in order: a trigger is one micro-batch
    of a stream, batch 1 follows batch 0, and the audit checks the union
    of what the triggers wrote in that order. The twin never reads the
    partials, so it is built right after the gate (it may use what the
    gate seated) and computed, persisted and counted, on one background
    thread while the triggers run. On the perfbench corpus workload at
    ``local[4]`` (4-core host), serial KS and langid twins cost langid
    alone 0.7-1.0 s, and the overlapped near-dup twin lowers
    ``op_tail_s`` (the near-dup op) against a serial one. The thread
    lives in a ``with`` block, so none outlives the call, and an error
    raised by the twin propagates from here. The persisted twin is the
    caller's to release: register it on a ``CacheHandle`` inside
    ``twin`` if it must not outlive the call.

    The audit is a full-outer join on ``keys`` with a presence marker
    per side. Every figure is a ``count``, which reads 0 on empty input,
    as the oracles' constants do (a ``sum`` would read NULL). The row is
    collected before returning, so callers can release the gate's cached
    tables as soon as this returns."""
    shutil.rmtree(out_dir, ignore_errors=True)
    apply = make_gate(out_dir, f"{name}:{uuid.uuid4()}")

    @inheritable_thread_target(spark)
    def _twin() -> DataFrame:
        batch = materialize(twin())
        batch.count()
        return batch

    with ThreadPoolExecutor(max_workers=1) as pool:
        future = pool.submit(_twin)
        apply(source.filter(F.col(split) % 2 == 0), 0)
        apply(source.filter(F.col(split) % 2 == 1), 1)
        streamed = read(out_dir)
        batch = future.result()

    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            *keys,
            F.lit(True).alias(f"in_{tag}"),
            *[F.col(v).alias(f"{tag}_{v}") for v in vals],
        )

    in_s, in_b = F.col("in_s"), F.col("in_b")
    same = reduce(
        lambda a, b: a & b, [F.col(f"s_{v}").eqNullSafe(F.col(f"b_{v}")) for v in vals]
    )
    audit = (
        side(streamed, "s")
        .join(side(batch, "b"), keys, "full_outer")
        .agg(
            F.lit(2).cast("bigint").alias("n_triggers"),
            F.count(in_s).alias(f"stream_{count}"),
            F.count(in_b).alias(f"batch_{count}"),
            F.count(F.when(in_b.isNull(), 1)).alias("only_stream"),
            F.count(F.when(in_s.isNull(), 1)).alias("only_batch"),
            F.count(F.when(in_s & in_b & ~same, 1)).alias("value_mismatches"),
        )
    )
    row = audit.collect()[0]
    # literals over a one-row range: unlike createDataFrame of local rows,
    # reading this frame starts no Python worker
    return spark.range(1, numPartitions=1).select(
        *[F.lit(row[c]).cast("bigint").alias(c) for c in audit.columns]
    )
