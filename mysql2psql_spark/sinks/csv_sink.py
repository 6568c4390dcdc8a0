"""CSV sink with the reference's bulk-load semantics.

The reference writes one CSV per table with quote=', delimiter=,, EVERY
string value quoted (_supaFilta, PsqlParser.py:375-381) and the bare
literal NULL only for SQL NULLs, loaded via `\\copy ... WITH (FORMAT
CSV, QUOTE '''', DELIMITER ',', NULL 'NULL')` (PsqlParser.py:122-146).

Spark's csv writer cannot reproduce that encoding: it quotes only
values that need it, so a DATA string equal to the null literal is
written bare and silently collapses to SQL NULL on load — and with
quoteAll the real null's representation gets quoted and loads as the
string. Both corruptions were caught by the r6 live-PostgreSQL-15
round-trip test (tests/test_postgres_live.py). The sink therefore
keeps the reference's SEMANTICS (every string survives byte-exact,
including the literal 'NULL'; real NULLs round-trip) through
PostgreSQL's own default CSV null spec, which Spark CAN express
exactly: real NULL -> bare empty field (`NULL ''`), empty string ->
quoted '' (emptyValue), any data value never collides because a bare
empty field is unreachable for non-null data. Written in parallel, one
file per partition — the 100 TB-safe shape (the single-file reference
layout is a coalesce(1) away when a sink really needs it)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _list_part_files(df: DataFrame, path: str) -> list[str]:
    """Part files inside a Spark output directory, via the Hadoop
    FileSystem API — so remote filesystems (HDFS, S3A, ...) list the
    same way the local one does; ``pathlib`` would silently see nothing
    there. ``file:`` URIs come back as bare paths (what psql \\copy
    expects); other schemes keep their URI."""
    sc = df.sparkSession.sparkContext
    jvm = sc._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    out = []
    for status in fs.listStatus(hpath):
        name = status.getPath().getName()
        if name.startswith("part-") and name.endswith(".csv"):
            uri = status.getPath().toUri()
            out.append(uri.getPath() if uri.getScheme() in (None, "file") else str(uri))
    return sorted(out)


def write_reference_csv(df: DataFrame, path: str, single_file: bool = False) -> str:
    """Write reference-dialect CSV; returns the matching \\copy command(s)
    (the psql_data.sql manifest line, PsqlParser.py:136-137).

    psql's \\copy reads FILES, not directories, so the manifest targets
    the actual part file(s) inside Spark's output directory: one line for
    the single part when ``single_file=True`` (the reference's one-CSV-
    per-table layout), else one \\copy line per part file — same rows,
    loadable in parallel psql sessions at scale."""
    # CSV is flat; the reference's world has no nested types, so our
    # extension columns (array/map/struct, e.g. embeddings) serialize as
    # JSON text — matching their varchar mapping in the introspected DDL
    out = df.select(
        *[
            F.to_json(f.name).alias(f.name)
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
            else F.col(f.name)
            for f in df.schema.fields
        ]
    )
    out = out.coalesce(1) if single_file else out
    (
        out.write.mode("overwrite")
        .option("quote", "'")
        .option("escape", "'")  # PG CSV doubles the quote char
        # PG-default null spec (see module docstring): bare empty = NULL,
        # quoted '' = empty string — the only encoding Spark's writer can
        # produce where no data value can collide with the null literal
        .option("nullValue", "")
        .option("emptyValue", "''")
        .option("delimiter", ",")
        # byte-exact strings: the writer trims by default, and the line
        # separator is pinned so the reader never has to detect it
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .option("lineSep", "\n")
        .csv(path)
    )
    cols = ", ".join(f'"{c}"' for c in df.columns)
    # files are written as tables/<t>.sql (reference naming); the \copy
    # targets the bare table name
    table = path.rstrip("/").rsplit("/", 1)[-1].removesuffix(".sql")
    with_clause = "WITH (FORMAT CSV, QUOTE '''', DELIMITER ',', NULL '');"
    try:
        parts = _list_part_files(out, path)
    except Exception:
        parts = []
    manifest = "\n".join(
        f"\\copy \"{table}\" ({cols}) FROM '{p}' {with_clause}" for p in parts
    )
    if not parts:
        # \copy reads files, never directories — a manifest that points
        # at the directory would fail silently downstream, so say so.
        manifest = (
            f"-- WARNING: no part files listed under {path}; \\copy needs "
            "file paths — list the directory and load each part.\n"
            f"-- \\copy \"{table}\" ({cols}) FROM '<part-file>' {with_clause}"
        )
    return manifest
