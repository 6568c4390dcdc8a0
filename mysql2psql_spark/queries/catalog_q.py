"""Catalog-scan and lookup queries (SURVEY.md §2.1 S1-S3, S5, S6).

The reference introspects MySQL's information_schema
(/root/reference/libs/MysqlParser.py:147-154, 184-198, 233-242); the
Parquet analog reads footer schemas through the engine's schema-IR layer.
The catalog is tiny by definition, so these are driver-side metadata
builds — the oracle runs the same scans over DuckDB's information_schema
on the identical registered views.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql2psql_spark.queries import query
from mysql2psql_spark.sources import load_table
from mysql2psql_spark.sources.local import local_frame
from mysql2psql_spark.sources.parquet import TABLES

_TABLES_IN = ", ".join(f"'{t}'" for t in TABLES)


# S1: table-level catalog scan — one row per table with its column count
# (reference projects table_name/engine/collation; Parquet carries name +
# schema, so the portable projection is (table_name, n_columns)).
@query(
    "s1_catalog_tables",
    oracle=f"""
    SELECT table_name, COUNT(*) AS n_columns
    FROM information_schema.columns
    WHERE table_name IN ({_TABLES_IN}) AND table_schema = CURRENT_SCHEMA()
    GROUP BY table_name
    """,
)
def s1_catalog_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = [(t, len(load_table(spark, sf_dir, t).schema)) for t in TABLES]
    return local_frame(spark, rows, "table_name string, n_columns bigint")


# S2: column-level catalog scan with ordinal positions — the per-table
# column metadata feed (the reference's computed FK/size columns live in
# schema_ir field metadata; ordinal + name are the portable core).
@query(
    "s2_catalog_columns",
    oracle=f"""
    SELECT table_name, column_name, CAST(ordinal_position AS INT) AS pos
    FROM information_schema.columns
    WHERE table_name IN ({_TABLES_IN}) AND table_schema = CURRENT_SCHEMA()
    """,
)
def s2_catalog_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = [
        (t, f.name, i + 1)
        for t in TABLES
        for i, f in enumerate(load_table(spark, sf_dir, t).schema.fields)
    ]
    return local_frame(spark, rows, "table_name string, column_name string, pos int")


# S3-shaped ordered string-agg over the catalog: per-table ordered column
# list, the GROUP_CONCAT(... ORDER BY ordinal) idiom of the index scan
# (libs/MysqlParser.py:233-242) applied to the column catalog.
@query(
    "s3_catalog_column_lists",
    oracle=f"""
    SELECT table_name,
           STRING_AGG(column_name, ',' ORDER BY ordinal_position) AS cols
    FROM information_schema.columns
    WHERE table_name IN ({_TABLES_IN}) AND table_schema = CURRENT_SCHEMA()
    GROUP BY table_name
    """,
)
def s3_catalog_column_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = s2_catalog_columns(spark, sf_dir)
    ordered = F.array_sort(F.collect_list(F.struct("pos", "column_name")))
    return cols.groupBy("table_name").agg(
        F.concat_ws(",", F.transform(ordered, lambda x: x["column_name"])).alias("cols")
    )


# S5: database-list scan analog (get_all_databases: distinct + exclusion
# + prefix LIKE, libs/MysqlParser.py:277-291) over the documents.source
# namespace column.
@query(
    "s5_namespace_list",
    oracle="""
    SELECT source
    FROM documents
    WHERE source NOT IN ('system', 'internal')
    GROUP BY source
    """,
)
def s5_namespace_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(~F.col("source").isin("system", "internal"))
        .select("source")
        .distinct()
    )


# S6: point lookup — single-row predicate fetch (get_user_user_pass,
# libs/MysqlParser.py:262-274; fetchone = LIMIT 1).
@query(
    "s6_point_lookup",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer WHERE c_custkey = 42 LIMIT 1
    """,
)
def s6_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") == 42).select(
        "c_custkey", "c_name", "c_mktsegment"
    ).limit(1)


# S7: mysqldump-file ingestion (F13 INSERT rewrite). The dump "file" is
# synthesized from the nation table so both engines derive it from the
# same rows; the Spark side runs the real rewrite operator
# (sources/dump_file.py, PsqlParser.py:217-257 semantics: \' -> '',
# \\ protected, zero-date -> 2000-01-01, renames applied), the oracle
# states the rewritten line directly.
@query(
    "s7_dump_rewrite",
    oracle=r"""
    SELECT 'nation_v2' AS tbl,
           'INSERT INTO "nation_v2" ("n_nationkey", "n_name", "comment") VALUES  ('
           || CAST(n_nationkey AS VARCHAR) || ', ''' || n_name
           || ''', ''it''''s \\ 2000-01-01'');' AS insert_sql
    FROM nation
    """,
)
def s7_dump_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2psql_spark.sources.dump_file import rewrite_insert_lines

    n = load_table(spark, sf_dir, "nation")
    raw = n.select(
        F.concat(
            F.lit('INSERT INTO "nation" ("n_nationkey", "n_name", "n_comment") VALUES ('),
            F.col("n_nationkey").cast("string"),
            F.lit(", '"),
            F.col("n_name"),
            F.lit("', 'it\\'s \\\\ 0000-00-00');"),
        ).alias("value")
    )
    changes = {
        "tables": {
            "nation": {"name": "nation_v2", "columns": {"n_comment": {"name": "comment"}}}
        }
    }
    out = rewrite_insert_lines(raw, changes)
    return out.select(F.col("table").alias("tbl"), "insert_sql")


# S2 extension: catalog TYPE map — the introspected IR type per column
# (stage [1] of the migration, schema_ir.from_dataframe), which no other
# catalog query checks (S1/S2 pin names/ordinals only). The oracle maps
# DuckDB's information_schema data_type onto the same IR vocabulary, so
# a drift in either engine's parquet-footer typing, or in the engine's
# Spark-to-IR map, breaks the row hash. Array/struct columns are carried
# opaquely as 'varchar' by contract (from_dataframe docstring).
@query(
    "s8_catalog_types",
    oracle=f"""
    SELECT table_name, column_name,
           CASE data_type
             WHEN 'BIGINT'    THEN 'bigint'
             WHEN 'INTEGER'   THEN 'int'
             WHEN 'SMALLINT'  THEN 'smallint'
             WHEN 'DOUBLE'    THEN 'double'
             WHEN 'FLOAT'     THEN 'float'
             WHEN 'REAL'      THEN 'float'
             WHEN 'VARCHAR'   THEN 'varchar'
             WHEN 'TIMESTAMP' THEN 'datetime'
             WHEN 'DATE'      THEN 'date'
             WHEN 'BOOLEAN'   THEN 'boolean'
             WHEN 'BLOB'      THEN 'blob'
             ELSE 'varchar'
           END AS ir_type
    FROM information_schema.columns
    WHERE table_name IN ({_TABLES_IN}) AND table_schema = CURRENT_SCHEMA()
    """,
)
def s8_catalog_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2psql_spark import schema_ir as ir

    rows = []
    for t in TABLES:
        table = ir.from_dataframe(t, load_table(spark, sf_dir, t))
        for col in table["columns"].values():
            rows.append((t, col["name"], col["type"]))
    return local_frame(
        spark, rows, "table_name string, column_name string, ir_type string"
    )
