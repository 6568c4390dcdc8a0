"""Sink tests: reference CSV dialect round-trip + orchestration."""

from __future__ import annotations

from pyspark.sql import functions as F

from mysql2psql_spark.plans.orchestration import PhaseTimer, run_concurrent
from mysql2psql_spark.sinks import write_reference_csv
from mysql2psql_spark.sources import load_table
from tests.conftest import SF_DIR


def test_reference_csv_dialect(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "it's quoted", None), (2, "plain", 3.5)], "id int, s string, v double"
    )
    path = str(tmp_path / "t")
    copy_cmd = write_reference_csv(df, path, single_file=True)
    # r6 dialect: PG-default null spec (bare empty = NULL) — the only
    # Spark-expressible encoding where a data string equal to the null
    # literal cannot collapse to NULL on load (see csv_sink docstring)
    assert "FORMAT CSV, QUOTE '''', DELIMITER ',', NULL ''" in copy_cmd
    assert '"id", "s", "v"' in copy_cmd
    # \copy reads files, not directories: the manifest must target the
    # actual part file, and single_file=True must yield exactly one line
    import re

    (copy_line,) = copy_cmd.splitlines()
    (target,) = re.findall(r"FROM '([^']+)'", copy_line)
    import os

    assert os.path.isfile(target), target
    assert target.endswith(".csv")
    text = spark.read.text(path).collect()
    lines = sorted(r.value for r in text)
    # single-quote doubling (PsqlParser.py:374-383 semantics) + bare
    # empty field for SQL NULL (r6 dialect)
    assert lines == ["1,'it''s quoted',", "2,plain,3.5"]


def test_csv_roundtrip(spark, tmp_path):
    df = load_table(spark, SF_DIR, "nation")
    path = str(tmp_path / "nation")
    copy_cmd = write_reference_csv(df, path)
    # multi-part write: one \copy line per part file, all real files
    import os
    import re

    targets = re.findall(r"FROM '([^']+)'", copy_cmd)
    assert targets and all(os.path.isfile(t) for t in targets)
    back = (
        spark.read.option("quote", "'")
        .option("nullValue", "")
        .schema(df.schema)
        .csv(path)
    )
    assert back.count() == df.count()
    assert {r.n_name for r in back.collect()} == {r.n_name for r in df.collect()}


def test_run_concurrent_and_timer(spark):
    timer = PhaseTimer()
    with timer.phase("extract"):
        jobs = [
            (t, lambda t=t: load_table(spark, SF_DIR, t).count())
            for t in ("region", "nation", "customer")
        ]
        results = run_concurrent(spark, jobs, max_parallel=3)
    # scale-agnostic: compare against sequential counts so the suite can
    # be pointed at any SF_DIR as a stress run
    want = {t: load_table(spark, SF_DIR, t).count() for t in ("region", "nation", "customer")}
    assert results == want
    assert timer.report()["extract"] > 0


def test_run_concurrent_isolates_inherits_and_orders(spark):
    """Each job starts from its own copy of the caller's local properties
    (what one job sets, the other never reads; both see the caller's job
    description), and results come back in job order, not finish order."""
    import threading
    import time

    sc = spark.sparkContext
    met = threading.Barrier(2)

    def job(tag: str, linger: float):
        def fn():
            sc.setLocalProperty("test.run_concurrent.tag", tag)
            met.wait(timeout=60)
            seen = (
                sc.getLocalProperty("test.run_concurrent.tag"),
                sc.getLocalProperty("spark.job.description"),
            )
            time.sleep(linger)
            return seen

        return fn

    prior = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("run_concurrent caller")
    try:
        results = run_concurrent(
            spark, [("first", job("first", 0.5)), ("second", job("second", 0))], max_parallel=2
        )
    finally:
        sc.setLocalProperty("spark.job.description", prior)
    assert {name: tag for name, (tag, _) in results.items()} == {
        "first": "first",
        "second": "second",
    }
    assert [desc for _, desc in results.values()] == ["run_concurrent caller"] * 2
    assert list(results) == ["first", "second"]


def test_jdbc_load_plan_ordering():
    from mysql2psql_spark.sinks.jdbc_sink import load_statement_plan, psql_url

    plan = load_statement_plan(
        ddl=['CREATE TABLE "t" (a INT);'],
        tables=["t"],
        views=['CREATE VIEW "v1"."t" AS SELECT * FROM "t";'],
        index_fk=['ALTER TABLE "t" ADD CONSTRAINT c FOREIGN KEY (a) REFERENCES p (a);'],
    )
    kinds = [k for k, _ in plan]
    # strict reference order: DDL -> preamble (defer) -> data -> immediate
    # -> views -> index/FK; preamble length tracks ddl.load_preamble()
    from mysql2psql_spark.sinks.ddl import load_preamble

    n_pre = len(load_preamble())
    assert kinds == ["sql"] * (1 + n_pre) + ["write"] + ["sql"] * 3
    stmts = [p for k, p in plan if k == "sql"]
    assert stmts.index("SET CONSTRAINTS ALL DEFERRED;") <= n_pre
    assert stmts.index("SET CONSTRAINTS ALL DEFERRED;") < stmts.index(
        "SET CONSTRAINTS ALL IMMEDIATE;"
    )
    assert any("FOREIGN KEY" in s for s in stmts[-1:])

    url, props = psql_url({"psql": {"host": "h", "port": 5433, "user": "u", "password": "p"}})
    assert url == "jdbc:postgresql://h:5433/postgres"
    assert props["driver"] == "org.postgresql.Driver"


def test_jdbc_execute_load_with_mock(spark):
    from mysql2psql_spark.sinks.jdbc_sink import execute_load, load_statement_plan

    executed = []

    # no live PostgreSQL in the container: drive the statement branch
    # with an injected runner (the write branch is plain df.write.jdbc)
    plan = load_statement_plan(ddl=["A;"], tables=[], views=["B;"], index_fk=["C;"])
    execute_load(plan, {}, "jdbc:postgresql://x/none", {"user": "", "password": ""},
                 run_sql=executed.append)
    # reference session preamble (PsqlParser.py:357-365): conforming
    # strings ON, then deferral; epilogue re-arms before views/FK
    assert executed[0] == "A;"
    assert "SET standard_conforming_strings = 'on';" in executed
    assert executed.index("SET CONSTRAINTS ALL DEFERRED;") < executed.index(
        "SET CONSTRAINTS ALL IMMEDIATE;"
    )
    assert executed[-2:] == ["B;", "C;"]


def test_csv_source_reads_sink_dialect_exactly(spark, tmp_path):
    """sources/csv_source.py must read back EXACTLY what the sink wrote,
    on the nastiest table we have (documents: free text with commas,
    quotes, arbitrary punctuation) — the full extract->CSV->re-ingest
    migration roundtrip."""
    from mysql2psql_spark.sources.csv_source import read_reference_csv

    df = load_table(spark, SF_DIR, "documents").select("doc_id", "text", "lang")
    path = str(tmp_path / "documents")
    write_reference_csv(df, path)
    back = read_reference_csv(spark, path, df.schema)
    want = {(r.doc_id, r.text, r.lang) for r in df.collect()}
    got = {(r.doc_id, r.text, r.lang) for r in back.collect()}
    assert got == want


def test_csv_source_permissive_quarantines_bad_rows(spark, tmp_path):
    """strict=False must keep the load alive and route malformed rows to
    _corrupt_record; strict=True must abort (the \\copy behavior)."""
    import pytest
    from pyspark.sql import types as T

    from mysql2psql_spark.sources.csv_source import read_reference_csv

    p = tmp_path / "bad"
    p.mkdir()
    (p / "part-00000.csv").write_text("1,'ok'\nnot_an_int,'broken'\n2,'fine'\n")
    schema = T.StructType(
        [T.StructField("id", T.IntegerType()), T.StructField("name", T.StringType())]
    )
    rows = read_reference_csv(spark, str(p), schema, strict=False).collect()
    good = {(r.id, r.name) for r in rows if r._corrupt_record is None}
    bad = [r for r in rows if r._corrupt_record is not None]
    assert good == {(1, "ok"), (2, "fine")}
    assert len(bad) == 1 and "not_an_int" in bad[0]._corrupt_record

    with pytest.raises(Exception):
        read_reference_csv(spark, str(p), schema, strict=True).collect()


def test_csv_roundtrip_keeps_padding(spark, tmp_path):
    """Leading and trailing blanks survive sink -> source byte-exact (the
    CSV writer trims them unless told not to)."""
    from mysql2psql_spark.sources.csv_source import read_reference_csv

    vals = ["  padded  ", " lead", "trail ", "  ", "x"]
    df = spark.createDataFrame(list(enumerate(vals)), "id int, s string")
    path = str(tmp_path / "padded")
    write_reference_csv(df, path, single_file=True)
    got = dict(read_reference_csv(spark, path, df.schema).collect())
    assert got == dict(enumerate(vals))


def test_csv_roundtrip_quoted_crlf_first_line_break(spark, tmp_path):
    """A quoted ``\r\n`` that is the file's first line break reads back
    byte-exact: the line separator is pinned on both sides, not detected
    from the first line."""
    from mysql2psql_spark.sources.csv_source import read_reference_csv

    vals = ["a\r\nb", "c\nd", "e,f", "plain"]
    df = spark.createDataFrame(list(enumerate(vals)), "id int, s string")
    path = str(tmp_path / "crlf")
    write_reference_csv(df, path, single_file=True)
    got = dict(read_reference_csv(spark, path, df.schema).collect())
    assert got == dict(enumerate(vals))


def test_jsonl_roundtrip_hostile_text(spark, tmp_path):
    """JSONL must roundtrip text the CSV dialect cannot hold in one
    line: embedded newlines, quotes, commas, unicode, and backslashes —
    the reason a corpus engine ships JSONL alongside the reference's
    CSV. Schema-first read; values byte-identical after the trip."""
    from pyspark.sql import types as T

    from mysql2psql_spark.sources.jsonl import read_jsonl, write_jsonl

    rows = [
        (1, 'line one\nline two', 'en'),
        (2, 'quote " and \'single\' and ,comma,', 'de'),
        (3, 'back\\slash and tab\there', 'fr'),
        (4, 'unicode: é中文 \U0001f600', 'zh'),
        (5, None, 'en'),
    ]
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(df, path, num_files=2)
    back = read_jsonl(spark, path, schema)
    assert sorted(back.collect()) == sorted(df.collect())
    # line-delimited on disk: one JSON object per line, no raw newlines
    import glob

    lines = []
    for f in glob.glob(f"{path}/part-*"):
        with open(f) as fh:
            lines += [ln for ln in fh.read().splitlines() if ln]
    assert len(lines) == len(rows)
    import json as _json

    assert all(isinstance(_json.loads(ln), dict) for ln in lines)


def test_jsonl_permissive_quarantines_bad_lines(spark, tmp_path):
    """A malformed line must quarantine under PERMISSIVE and abort under
    FAILFAST — same contract as the CSV source."""
    import pytest
    from pyspark.sql import types as T

    from mysql2psql_spark.sources.jsonl import read_jsonl

    p = tmp_path / "dirty.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "ok"}\n'
        "{this is not json}\n"
        '{"doc_id": 3, "text": "also ok"}\n'
    )
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    rows = read_jsonl(spark, str(p), schema, strict=False).collect()
    good = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert {r.doc_id for r in good} == {1, 3}
    assert len(bad) == 1 and bad[0].doc_id is None
    with pytest.raises(Exception):
        read_jsonl(spark, str(p), schema, strict=True).collect()


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC roundtrip: values identical, schema-first read, and the
    scan-side contract (predicate pushdown + column pruning reach the
    ORC scan) holds like it does for parquet."""
    from mysql2psql_spark.sources.columnar import read_orc, write_orc
    from mysql2psql_spark.sources import load_table
    from tests.conftest import SF_DIR

    o = load_table(spark, SF_DIR, "orders")
    path = str(tmp_path / "orders_orc")
    write_orc(o, path)
    back = read_orc(spark, path, o.schema)
    assert back.count() == o.count()
    assert sorted(back.columns) == sorted(o.columns)
    got = sorted(r.o_orderkey for r in back.filter(F.col("o_orderkey") < 100).collect())
    want = sorted(r.o_orderkey for r in o.filter(F.col("o_orderkey") < 100).collect())
    assert got == want

    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.select("o_orderkey").filter(F.col("o_orderkey") < 100).explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters: [" in plan and "o_orderkey" in plan
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) == 1, plan


def test_dynamic_partition_overwrite_backfill(spark, tmp_path):
    """Backfill contract: with dynamic partitionOverwriteMode, rewriting
    ONE partition's data must leave every other partition untouched —
    the idempotent-backfill primitive a partitioned 100 TB table needs
    (static mode would wipe the whole table root)."""
    from mysql2psql_spark.sources import load_table
    from tests.conftest import SF_DIR

    out = str(tmp_path / "orders_part")
    o = load_table(spark, SF_DIR, "orders").withColumn(
        "status", F.col("o_orderstatus")
    )
    o.write.partitionBy("status").parquet(out)
    before = spark.read.parquet(out)
    n_total = before.count()
    n_f = before.filter(F.col("status") == "F").count()

    # backfill partition F with a corrected copy (totalprice zeroed)
    fixed = (
        o.filter(F.col("status") == "F")
        .withColumn("o_totalprice", F.lit(0.0))
    )
    (
        fixed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("status")
        .parquet(out)
    )
    after = spark.read.parquet(out)
    assert after.count() == n_total  # other partitions survived
    assert after.filter(F.col("status") == "F").count() == n_f
    assert after.filter((F.col("status") == "F") & (F.col("o_totalprice") != 0.0)).count() == 0
    # untouched partition spot check
    assert (
        after.filter((F.col("status") == "O") & (F.col("o_totalprice") == 0.0)).count() == 0
    )


def test_schema_evolution_merge_read(spark, tmp_path):
    """Schema evolution across an append history (the v2-adds-a-column
    migration case): mergeSchema reads the union schema, older files'
    missing columns surface as NULLs, and values survive unchanged —
    the read-side contract that lets a 100 TB table evolve in place
    instead of being rewritten."""
    out = str(tmp_path / "evolving")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id BIGINT, name STRING")
    v1.write.parquet(out)
    v2 = spark.createDataFrame(
        [(3, "c", 9.5)], "id BIGINT, name STRING, score DOUBLE"
    )
    v2.write.mode("append").parquet(out)

    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r.id: (r.name, r.score) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 9.5)}
