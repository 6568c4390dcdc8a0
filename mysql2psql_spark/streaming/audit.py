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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql2psql_spark.operators.layout import session_scratch
from mysql2psql_spark.operators.materialize import materialize
from mysql2psql_spark.plans.orchestration import run_concurrent
from mysql2psql_spark.sources.local import sql_literal


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
    gate seated) and computed, persisted and counted while the triggers
    run: the twin and the triggers (then the read-back) are two
    ``run_concurrent`` jobs. On the perfbench corpus workload at
    ``local[4]`` (4-core host), serial KS and langid twins cost langid
    alone 0.7-1.0 s, and the overlapped near-dup twin lowers
    ``op_tail_s`` (the near-dup op) against a serial one. No thread
    outlives the call, and an error raised by either job propagates
    from here. The persisted twin is the
    caller's to release: register it on a ``CacheHandle`` inside
    ``twin`` if it must not outlive the call.

    The audit is a full-outer join on ``keys`` with a presence marker
    per side. Every figure is a ``count``, which reads 0 on empty input,
    as the oracles' constants do (a ``sum`` would read NULL). The row is
    collected before returning, so callers can release the gate's cached
    tables as soon as this returns."""
    shutil.rmtree(out_dir, ignore_errors=True)
    apply = make_gate(out_dir, f"{name}:{uuid.uuid4()}")

    def _twin() -> DataFrame:
        batch = materialize(twin())
        batch.count()
        return batch

    def _triggers() -> DataFrame:
        apply(source.filter(F.col(split) % 2 == 0), 0)
        apply(source.filter(F.col(split) % 2 == 1), 1)
        return read(out_dir)

    done = run_concurrent(
        spark, [("twin", _twin), ("triggers", _triggers)], max_parallel=2
    )
    batch, streamed = done["twin"], done["triggers"]

    audit = audit_frame(streamed, batch, keys, vals, count)
    row = audit.collect()[0]
    # literals over a one-row range: reading it starts no Python worker,
    # and its count() is one job (a VALUES table's is two: its scan has
    # no single-partition guarantee, so the count adds an exchange)
    return spark.range(1, numPartitions=1).selectExpr(
        *[f"CAST({sql_literal(row[c])} AS BIGINT) AS {c}" for c in audit.columns]
    )


def audit_frame(
    streamed: DataFrame, batch: DataFrame, keys: list[str], vals: list[str], count: str
) -> DataFrame:
    """The one-row audit of ``streamed`` against ``batch`` (see
    :func:`stream_batch_audit`), built from SQL text: one parsed
    expression per output column."""

    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.selectExpr(*keys, f"true AS in_{tag}", *[f"{v} AS {tag}_{v}" for v in vals])

    same = " AND ".join(f"s_{v} <=> b_{v}" for v in vals)
    figures = (
        "CAST(2 AS BIGINT) AS n_triggers",
        f"count(in_s) AS stream_{count}",
        f"count(in_b) AS batch_{count}",
        "count(CASE WHEN in_b IS NULL THEN 1 END) AS only_stream",
        "count(CASE WHEN in_s IS NULL THEN 1 END) AS only_batch",
        f"count(CASE WHEN in_s AND in_b AND NOT ({same}) THEN 1 END) AS value_mismatches",
    )
    return (
        side(streamed, "s")
        .join(side(batch, "b"), keys, "full_outer")
        .agg(*[F.expr(e) for e in figures])
    )
