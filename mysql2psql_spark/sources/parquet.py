"""Parquet source for the driver testdata catalog.

Full-table scan parity with the reference's ``get_table_raw_data``
(/root/reference/libs/MysqlParser.py:104-137), except the scan is columnar,
partitioned, and Catalyst pushes projections and predicates into the
Parquet reader (the reference hand-builds its SELECT list for the same
effect — SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Session-scoped schema cache: footer inference costs ~80 ms per
# spark.read.parquet on this host while a schema-pinned read costs ~14
# (measured r15, 30-call A/B at sf0.1) — and EVERY query calls
# load_table 1-10 times, so inference was ~0.7 s of every catalog-class
# query and a steady tax on all 208. This is the catalog-metadata cache
# every production engine keeps (a real deployment reads the schema
# from the metastore, not the file footer, on every query). Keyed by
# (applicationId, path, mtime): a new session re-infers, a rewritten
# local path (the probe/test overwrite pattern) re-infers via mtime;
# non-local paths (no statable mtime) skip the cache entirely.
# mtime is the MAX over the path, its entries, and one level of
# subdirectory entries (r16/r17, ADVICE): POSIX directory mtime only
# moves on entry add/remove, so an in-place rewrite of a part file
# inside a parquet directory (flat or single-key hive-partitioned)
# would otherwise serve a stale schema; deeper nesting skips the cache. Bounded LRU so a long session scanning many
# paths cannot grow the dict without limit.
from collections import OrderedDict as _OrderedDict

_SCHEMA_CACHE: _OrderedDict[tuple[str, str, float], object] = _OrderedDict()
_SCHEMA_CACHE_MAX = 256


def path_stat(path: str) -> tuple[float, int]:
    """(newest mtime, total data bytes) among ``path`` and (for a
    directory) its entries, recursing one level into subdirectories —
    the footer files whose in-place rewrite must invalidate.
    Hive-partitioned layouts put part files one level down
    (``key=value/`` subdirs); deeper nesting (multi-key partitioning)
    raises OSError so the caller skips the cache rather than ever
    serving a stale schema (r17, ADVICE)."""
    import os

    st = os.stat(path)
    mt = st.st_mtime
    nbytes = 0 if os.path.isdir(path) else st.st_size
    if os.path.isdir(path):
        # Any OSError here (vanishing entry mid-rewrite, nested dirs)
        # propagates: the caller treats it as "skip the cache", which
        # can never serve a stale schema.
        with os.scandir(path) as it:
            for e in it:
                est = e.stat()
                mt = max(mt, est.st_mtime)
                if e.is_dir(follow_symlinks=False):
                    with os.scandir(e.path) as sub:
                        for f in sub:
                            if f.is_dir(follow_symlinks=False):
                                raise OSError(
                                    f"nested partition dirs under {path}:"
                                    " schema cache skipped"
                                )
                            fst = f.stat()
                            mt = max(mt, fst.st_mtime)
                            nbytes += fst.st_size
                else:
                    nbytes += est.st_size
    return mt, nbytes


def _path_mtime(path: str) -> float:
    return path_stat(path)[0]


# Scale-adaptive scan fan-out (optimization guide §2.5 "input skew: one
# huge unsplittable file ... repartition immediately after the read"):
# a parquet scan cannot split below one row group, so a table written
# as few large row groups reaches the executors as a handful of map
# tasks no matter how many cores the cluster has — on this fixture
# EVERY table is a single row group, so every query's map side (parquet
# decode, exploded n-gram/shingle fan-out, partial aggregation) ran on
# ONE core of 32 (measured: the langid gram pipeline spent its first
# 2-3 s in a 1-task stage). Fan the scan out to cluster width when the
# table's on-disk bytes guarantee the scan is narrower than the
# cluster: at or below _FANOUT_MAX_BYTES the scan is at most a couple
# of splits by construction (maxPartitionBytes is 128 MB), and the
# round-robin exchange moves at most that many bytes — orders of
# magnitude cheaper than leaving the map side serial. Above the cap
# the scan is naturally wide (a 100 TB table never repartitions here);
# below _FANOUT_MIN_BYTES the table is dimension-sized and spreading
# it buys nothing (exchange latency would tax every tiny-table query).
# Both bounds are byte thresholds on the INPUT, not tuned core counts:
# width always tracks sparkContext.defaultParallelism.
#
# Fan-out is opt-in per call site (``load_table(fanout=True)``), not
# blanket: it pays only where per-row downstream work (exploded
# n-grams/shingles, byte codecs) dwarfs the shuffle of the raw bytes,
# while a scan -> join/agg shape whose map side is already cheap pays
# the exchange for nothing. That is a property of the consumer, so the
# consumer declares it (OPTIMIZATION_r17.md has the A/B).
_FANOUT_MIN_BYTES = 256 * 1024
_FANOUT_MAX_BYTES = 64 * 1024 * 1024


def _scan_fanout(spark: SparkSession, df: DataFrame, nbytes: int | None) -> DataFrame:
    if nbytes is None or not (_FANOUT_MIN_BYTES <= nbytes <= _FANOUT_MAX_BYTES):
        return df
    width = spark.sparkContext.defaultParallelism
    if width <= 2:
        return df
    return df.repartition(width)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fanout: bool = False
) -> DataFrame:
    """Scan one table. Column pruning / filter pushdown is Catalyst's job —
    callers express the plan declaratively and the physical Parquet scan
    reads only what the plan needs.

    ``fanout=True`` declares that the caller's per-row work (exploded
    n-grams/shingles, byte-level codecs) dwarfs the cost of moving the
    raw rows once, so a scan narrower than the cluster should be
    round-robin spread to cluster width (see ``_scan_fanout`` — a no-op
    whenever the table's bytes already make the scan wide).

    `events.ts` is TIMESTAMP(NANOS) parquet, which Spark 4 only reads via
    the nanosAsLong legacy conf; we normalize it back to TimestampType
    (microsecond precision — every engine query orders/buckets with an
    explicit unique tie-break, so the ns truncation is semantics-free).
    """
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    key = None
    nbytes = None
    try:
        mtime, nbytes = path_stat(path)
        key = (spark.sparkContext.applicationId, path, mtime)
    except OSError:
        pass  # non-local / non-statable path: no caching
    schema = _SCHEMA_CACHE.get(key) if key is not None else None
    if schema is not None:
        _SCHEMA_CACHE.move_to_end(key)
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMA_CACHE[key] = df.schema
            while len(_SCHEMA_CACHE) > _SCHEMA_CACHE_MAX:
                _SCHEMA_CACHE.popitem(last=False)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer division: ns epochs overflow double precision
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return _scan_fanout(spark, df, nbytes) if fanout else df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register temp views so operators can be written in SQL when clearer."""
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)
