"""CSV source for the reference bulk-load dialect — the read half of
sinks/csv_sink.py, so a migration can be driven in BOTH directions
(extract -> CSV -> load, or re-ingest a previously dumped table).

Dialect (sinks/csv_sink.py, r6 revision): quote=', escaped by doubling,
delimiter=,, real NULL as a bare empty field (PG's default CSV null
spec — the only encoding where no data value can collide with the null
literal; see the sink's docstring for the corruption the old
NULL-literal spec allowed), no header. An explicit schema is required —
the reference's loads are always schema-first (DDL runs before data),
and schema inference would force a second pass over 100 TB of text.

Two reader caveats vs the authoritative \\copy loader:
- Spark's CSV reader folds a quoted empty string ('') to null, so the
  empty-string/NULL distinction survives the PostgreSQL load but not a
  Spark re-read (univocity limitation; the literal string 'NULL' — the
  value that actually occurs in real data — round-trips fine).
- quoted embedded newlines need multiLine=true, which makes files
  non-splittable (one task per file). The sink writes many part files,
  so parallelism comes from file count; pass ``multi_line=False`` only
  for data known newline-free when per-file splitting matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_reference_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    strict: bool = True,
    multi_line: bool = True,
) -> DataFrame:
    """Read a reference-dialect CSV directory (or file) with the given
    schema. ``strict=True`` uses FAILFAST so a malformed row aborts the
    load (the \\copy behavior); ``strict=False`` uses PERMISSIVE and
    routes broken rows to the ``_corrupt_record`` column for triage
    instead of killing a multi-hour load. ``multi_line`` parses quoted
    embedded newlines correctly at the cost of per-file splittability
    (module docstring)."""
    reader = (
        spark.read.schema(
            schema
            if strict
            else T.StructType(
                [*schema.fields, T.StructField("_corrupt_record", T.StringType())]
            )
        )
        .option("quote", "'")
        .option("escape", "'")
        .option("nullValue", "")
        .option("multiLine", "true" if multi_line else "false")
        .option("delimiter", ",")
        # the sink's line separator; left unset, the reader detects it
        # from the first line break, which may be a quoted \r\n
        .option("lineSep", "\n")
        .option("mode", "FAILFAST" if strict else "PERMISSIVE")
    )
    return reader.csv(path)
