"""End-to-end benchmark of the mysql2psql_spark engine.

    python3 perfbench/run.py --workload {corpus,migrate} \
        --seed N --seconds S --trace {0,1}

Run it from the repository root. One run is one fresh process on one
workload: it starts a ``local[nproc]`` session, generates the workload's
inputs from ``--seed``, runs two warm passes, then measures whole passes over
the workload's ops until ``--seconds`` have elapsed (at least
``MIN_PASSES`` passes). The last line of standard output is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``; the
lines before it describe the run (slowest op per pass, per-pass walls,
trend, per-op latencies).

An *op* is one timed unit of work: a registry query (the query-function
call plus its ``count()``), or one database in ``migrate`` (migrate it
with ``cli.migrate_db``, then read every table back with
``sources.csv_source.read_reference_csv`` and verify it).

Workloads (see ``BENCHMARK.json`` for why each was chosen):

- ``corpus``: streaming and graph queries whose cost is in construction
  (eager jobs, streaming triggers, thread overlaps).
- ``migrate``: the reference lifecycle over skewed MySQL-shaped databases.

Every op's output is checked: a query's row count must be the same in
every pass, and queries with oracle SQL must match DuckDB's value hash
once per run (on the first warm pass, whose action is ``toPandas()``); a
migrated database must read back with the planted row counts and
per-column checksums. Oracle work is excluded from every timing.

``--trace 1`` prints per-layer metrics instead (see ``tracing.py``). It
runs at least four measured passes in the order untraced, traced,
traced, untraced, ... (traced: layer functions wrapped at their import
sites) with the Spark event log on throughout, and ``trace.overhead_s``
is the median traced minus the median untraced pass wall.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NPROC = len(os.sched_getaffinity(0))

CORPUS = [
    # construction-heavy targets: the streaming gate's trigger chains,
    # eager width counts, convergence loops
    "stream_near_dup_gate", "graph_pagerank", "graph_label_propagation",
    # queries behind hand-copied thread-overlap blocks; both are bimodal
    "stream_langid_summary", "stream_ks_summary",
]
# skewed database sizes (users per database; each also has 3x orders,
# 6x order items and a skipped audit table): many small, a few large
MIGRATE_SIZES = [30, 45, 60, 20, 80, 1_500, 12_000]

WORKLOADS = ["corpus", "migrate"]
CORPUS_SF = 0.001
# warm passes inside setup_s. The first pays one-time jobs and class
# loading. The second takes up the steepest part of the JIT warm-up, which
# goes on for minutes on these small jobs: after one warm pass the first
# measured pass read 10-30% above the third on both workloads.
WARM_PASSES = 2
# at least three measured passes, so that one pass hit by a stall of the
# host does not move the median
MIN_PASSES = 3
MIN_PASSES_TRACED = 4


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# --- process-tree memory ------------------------------------------------------


def _tree_rss_kb(root_pid: int) -> int:
    """RSS of ``root_pid`` and all its descendants (the JVM and any Python
    workers), from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
            with open(f"/proc/{entry}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
        rss[int(entry)] = pages * (os.sysconf("SC_PAGE_SIZE") // 1024)
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Samples the process tree's RSS while ``active`` is set. The peak is
    the highest value held over two samples in a row: a process the JVM
    spawns (``chmod`` through ``jspawnhelper`` as it writes files) shares
    the JVM's memory until it execs, and a single sample in that window
    reads the JVM twice."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self.last_kb = 0
        self.active = threading.Event()
        self.done = threading.Event()
        self.thread = threading.Thread(target=self._loop, daemon=True)
        self.thread.start()

    def _loop(self) -> None:
        while not self.done.wait(self.period):
            if self.active.is_set():
                kb = _tree_rss_kb(os.getpid())
                self.peak_kb = max(self.peak_kb, min(kb, self.last_kb))
                self.last_kb = kb

    def stop(self) -> None:
        self.done.set()
        self.thread.join()


# --- statistics ---------------------------------------------------------------


def tail(passes) -> tuple[float, list[str]]:
    """The median over passes of each pass's slowest op latency, and the
    slowest op of each pass. A workload has 5 to 7 ops per pass, so a
    pooled percentile with 10 samples beyond it would sit below the median
    and jump between ops; the slowest op of a pass is the tail a user
    waits on."""
    slowest = [max(p.ops, key=lambda op: op["latency_s"]) for p in passes]
    return (statistics.median(op["latency_s"] for op in slowest),
            [op["name"] for op in slowest])


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


# --- environment ----------------------------------------------------------------


def driver_mem() -> str:
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    # well below physical RAM: a quarter of it, at most 2 GiB
    return f"{max(1, min(2, total_kb // (4 * 1024 * 1024)))}g"


def prepare_env(run_dir: str) -> None:
    for sub in ("local", "warehouse", "tmp", "data", "out", "events"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(NPROC),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # every JVM the session starts (the launcher too) keeps its
        # temporary files in the run directory, and none under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    })
    os.environ.pop("SPARK_MASTER", None)
    os.chdir(run_dir)  # derby.log / metastore_db land in the run directory


def start_session(run_dir: str, trace: bool):
    """A ``local[nproc]`` session through the engine's own ``get_spark``."""
    from mysql2psql_spark.session import get_spark

    conf = {
        "spark.sql.shuffle.partitions": str(NPROC),
        # a fixed, pre-touched heap, so the resident set does not depend
        # on when the collector chose to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"
        ),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "events"),
        })
    spark = get_spark(app_name="perfbench", master=f"local[{NPROC}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=20)
            except (OSError, ValueError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()


def gc_ms(spark) -> int:
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans)


# --- query workloads ------------------------------------------------------------


class QueryOps:
    def __init__(self, spark, names: list[str], data_dir: str, seed: int):
        import duckdb

        from mysql2psql_spark.queries import QUERIES

        self.spark = spark
        self.queries = QUERIES
        self.data_dir = data_dir
        self.names = list(names)
        # one seeded op order, used in every pass
        random.Random(seed).shuffle(self.names)
        self.rows: dict[str, int] = {}
        self.n_op = 0
        self.last_result = None
        self.oracle_errors: dict[str, str] = {}
        self.duck = duckdb.connect()
        self.duck.execute(f"SET threads TO {NPROC}")
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                self.duck.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data_dir}/{f}')"
                )

    def ops(self):
        return self.names

    def run(self, name: str, collect: bool = False) -> tuple[float, float, int]:
        """(build_s, action_s, rows) of one op. The action is ``count()``,
        or with ``collect`` a ``toPandas()`` kept for ``verify``."""
        self.n_op += 1
        self.spark.sparkContext.setJobGroup(f"op{self.n_op}:{name}", name)
        t0 = time.perf_counter()
        df = self.queries[name](self.spark, self.data_dir)
        t1 = time.perf_counter()
        if collect:
            self.last_result = df.toPandas()
            n = len(self.last_result)
        else:
            n = df.count()
        t2 = time.perf_counter()
        return t1 - t0, t2 - t1, n

    def check(self, name: str, rows: int) -> str | None:
        """The row count must be the same in every pass."""
        want = self.rows.setdefault(name, rows)
        return None if want == rows else f"row count {rows} != {want}"

    def verify(self, name: str) -> None:
        """DuckDB value-hash check of the last op's collected result, for
        queries with oracle SQL; called once per query per run, outside the
        timed ops."""
        from mysql2psql_spark.queries import ORACLE

        if name not in ORACLE:
            return
        try:
            got = self.last_result
            want = self.duck.execute(ORACLE[name]).df()
            if value_hash(got) != value_hash(want):
                self.oracle_errors[name] = f"hash mismatch ({len(got)} vs {len(want)} rows)"
        except Exception as e:  # noqa: BLE001
            self.oracle_errors[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
        self.last_result = None

    def close_oracle(self) -> None:
        self.duck.close()


def value_hash(df) -> str:
    """Order-insensitive hash of a frame's rendered values (sorted columns,
    sorted rows, CSV rendering)."""
    import hashlib

    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)
    return hashlib.md5(df.to_csv(index=False).encode()).hexdigest()


# --- migrate workload -----------------------------------------------------------


def checksum_exprs(schema):
    """One aggregate row per table: count(*), and per column its non-null
    count and a checksum of one of the kinds ``gen.checksum_value`` twins."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    exprs, kinds = [F.count(F.lit(1)).alias("__rows")], {}
    for f in schema.fields:
        c = F.col(f.name)
        t = f.dataType
        if isinstance(t, (T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            kind, value = "int", c.cast("bigint")
        elif isinstance(t, (T.DecimalType, T.DoubleType, T.FloatType)):
            kind, value = "money", F.round(c * 100, 0).cast("bigint")
        elif isinstance(t, T.DateType):
            kind, value = "date", F.datediff(c, F.lit("1970-01-01").cast("date"))
        elif isinstance(t, T.TimestampType):
            kind, value = "ts", F.unix_seconds(c)
        else:
            kind, value = "str", F.crc32(c.cast("binary"))
        kinds[f.name] = kind
        exprs.append(F.count(c).alias(f"n:{f.name}"))
        exprs.append(F.coalesce(F.sum(value), F.lit(0)).cast("bigint").alias(f"s:{f.name}"))
    return exprs, kinds


class MigrateOps:
    def __init__(self, spark, dbs: list[dict], out_dir: str):
        self.spark = spark
        self.dbs = {db["name"]: db for db in dbs}
        self.order = [db["name"] for db in dbs]
        self.out_dir = out_dir
        self.rows_per_pass = sum(db["source_rows"] for db in dbs)
        self.oracle_errors: dict[str, str] = {}

    def ops(self):
        return self.order

    def run(self, name: str, collect: bool = False) -> tuple[float, float, int]:
        """(migrate_s, readback_s, rows read back) of one database; raises
        on a read-back mismatch."""
        from mysql2psql_spark import schema_ir as ir
        from mysql2psql_spark.cli import load_json_lenient, migrate_db
        from mysql2psql_spark.sources.csv_source import read_reference_csv
        from mysql2psql_spark.sources.parquet import load_table
        from pyspark.sql import types as T

        db = self.dbs[name]
        sc = self.spark.sparkContext
        sc.setJobGroup(f"migrate:{name}", name)
        t0 = time.perf_counter()
        tables = sorted(f[:-8] for f in os.listdir(db["path"]) if f.endswith(".parquet"))
        frames = {t: load_table(self.spark, db["path"], t) for t in tables}
        changes = load_json_lenient(os.path.join(db["path"], "schema_changes.json"))
        migrate_db(
            self.spark, name, frames, self.out_dir,
            schema_changes=changes, v1_schema="v1", threads=NPROC,
        )
        t1 = time.perf_counter()
        base = os.path.join(self.out_dir, name)
        with open(os.path.join(base, "psql_schema.json")) as f:
            schema = ir.from_json(f.read())
        errors, rows = [], 0
        for table in schema["tables"].values():
            # the CSV holds only the columns not skipped by a rule
            kept = dict(table, columns={
                k: c for k, c in table["columns"].items() if not c.get("_SKIP_")
            })
            struct = T.StructType([
                # CSV has no binary type: bytea columns read back as text
                T.StructField(fl.name, T.StringType(), fl.nullable, fl.metadata)
                if isinstance(fl.dataType, T.BinaryType) else fl
                for fl in ir.to_struct_type(kept).fields
            ])
            path = os.path.join(base, "tables", f"{table['name']}.sql")
            df = read_reference_csv(self.spark, path, struct)
            exprs, kinds = checksum_exprs(struct)
            got = df.agg(*exprs).collect()[0].asDict()
            rows += got["__rows"]
            errors.extend(self._compare(table["name"], got, kinds, db["expect"]))
        t2 = time.perf_counter()
        if errors:
            raise AssertionError(f"{name}: " + "; ".join(errors[:5]))
        return t1 - t0, t2 - t1, rows

    @staticmethod
    def _compare(table: str, got: dict, kinds: dict, expect: dict) -> list[str]:
        want = expect.get(table)
        if want is None:
            return [f"unexpected table {table}"]
        errors = []
        if got["__rows"] != want["rows"]:
            errors.append(f"{table}: rows {got['__rows']} != {want['rows']}")
        if set(kinds) != set(want["cols"]):
            errors.append(f"{table}: columns {sorted(kinds)} != {sorted(want['cols'])}")
        for col, (kind, n, s) in want["cols"].items():
            if col not in kinds:
                continue
            g = (kinds[col], got[f"n:{col}"], got[f"s:{col}"])
            if g != (kind, n, s):
                errors.append(f"{table}.{col}: {g} != {(kind, n, s)}")
        return errors

    def check(self, name: str, rows: int) -> str | None:
        return None  # verified inside run()

    def csv_bytes_per_row(self) -> float:
        total_bytes = total_rows = 0
        for name, db in self.dbs.items():
            tdir = os.path.join(self.out_dir, name, "tables")
            for t in os.listdir(tdir):
                for f in os.listdir(os.path.join(tdir, t)):
                    if f.startswith("part-"):
                        total_bytes += os.path.getsize(os.path.join(tdir, t, f))
            total_rows += sum(e["rows"] for e in db["expect"].values())
        return total_bytes / max(1, total_rows)

    def verify(self, name: str) -> None:
        pass  # the read-back check is part of the op

    def close_oracle(self) -> None:
        pass


# --- the measured loop ----------------------------------------------------------


class PassResult:
    def __init__(self, traced: bool):
        self.traced = traced
        self.wall = 0.0
        self.verify_s = 0.0  # oracle work, excluded from wall and setup_s
        self.ops: list[dict] = []


def run_pass(workload, traced: bool = False, verify: bool = False) -> PassResult:
    res = PassResult(traced)
    t0 = time.perf_counter()
    for name in workload.ops():
        op = {"name": name, "ok": True, "build_s": 0.0, "action_s": 0.0, "rows": 0}
        op["start_ms"] = int(time.time() * 1000)
        s = time.perf_counter()
        try:
            b, a, n = workload.run(name, collect=verify)
            op.update(build_s=b, action_s=a, rows=n)
            error = workload.check(name, n)
            if error is not None:
                op.update(ok=False, error=error)
        except Exception as e:  # noqa: BLE001
            op.update(ok=False, error=f"{type(e).__name__}: {str(e).splitlines()[0][:300]}")
        op["latency_s"] = time.perf_counter() - s
        op["end_ms"] = int(time.time() * 1000)
        op["build_end_ms"] = op["start_ms"] + int(op["build_s"] * 1000)
        if not op["ok"]:
            log(f"op failed: {name}: {op['error']}")
        elif verify:
            v = time.perf_counter()
            workload.verify(name)
            res.verify_s += time.perf_counter() - v
        res.ops.append(op)
    res.wall = time.perf_counter() - t0 - res.verify_s
    return res


def measure(args, run_dir: str) -> tuple[dict, list[str]]:
    """One run: set-up, warm-up, measured passes. Returns the result
    object and the lines that describe the run."""
    import gen
    import tracing

    trace = bool(args.trace)
    spans = None
    if trace:
        spans = tracing.Spans()
        spans.install()

    t = time.perf_counter()
    spark = start_session(run_dir, trace)
    session_start_s = time.perf_counter() - t
    sampler = RssSampler()
    try:
        data_dir = os.path.join(run_dir, "data")
        t = time.perf_counter()
        if args.workload == "migrate":
            dbs = gen.write_migrate_dbs(data_dir, args.seed, MIGRATE_SIZES)
            # the seed also fixes the op order
            random.Random(args.seed).shuffle(dbs)
            workload = MigrateOps(spark, dbs, os.path.join(run_dir, "out"))
        else:
            gen.write_catalog(data_dir, args.seed, CORPUS_SF)
            workload = QueryOps(spark, CORPUS, data_dir, args.seed)
        gen_s = time.perf_counter() - t

        t = time.perf_counter()
        # the first warm pass also carries the once-per-run oracle check
        warm = [run_pass(workload, verify=i == 0) for i in range(WARM_PASSES)]
        workload.close_oracle()
        verify_s = warm[0].verify_s
        warm_s = time.perf_counter() - t - verify_s
        setup_s = time.perf_counter() - T_START - verify_s

        passes: list[PassResult] = []
        gc0 = gc_ms(spark)
        sampler.active.set()
        t_measure = time.perf_counter()
        min_passes = MIN_PASSES_TRACED if trace else MIN_PASSES
        while len(passes) < min_passes or time.perf_counter() - t_measure < args.seconds:
            # traced runs wrap layers in passes U T T U ..., so the
            # overhead estimate is not skewed by a drift across passes
            traced = trace and len(passes) % 4 in (1, 2)
            if spans is not None:
                spans.enabled = traced
            passes.append(run_pass(workload, traced))
        sampler.active.clear()
        if spans is not None:
            spans.enabled = False
        gc_per_pass_s = (gc_ms(spark) - gc0) / 1000.0 / len(passes)
        bytes_per_row = workload.csv_bytes_per_row() if args.workload == "migrate" else 0.0
    finally:
        sampler.stop()
        stop_session(spark)

    ops = [op for p in passes for op in p.ops]
    for name, err in workload.oracle_errors.items():
        log(f"oracle mismatch: {name}: {err}")
        for op in ops:
            if op["name"] == name and op["ok"]:
                op.update(ok=False, error=err)
    failed = sum(not op["ok"] for op in ops)
    warm_failed = sum(not op["ok"] for p in warm for op in p.ops)

    walls = [p.wall for p in passes]
    lat = [op["latency_s"] for op in ops]
    tail_s, tail_ops = tail(passes)
    lines = [
        f"workload={args.workload} seed={args.seed} nproc={NPROC} "
        f"driver_mem={os.environ['SPARK_GRAFT_DRIVER_MEM']} ops/pass={len(workload.ops())}",
        f"setup_s={setup_s:.3f}: session {session_start_s:.3f}, inputs {gen_s:.3f}, "
        f"warm {warm_s:.3f} (not counted: oracle {verify_s:.3f}); warm failures {warm_failed}",
        f"measured pass walls {[round(w, 3) for w in walls]}; last/first {walls[-1] / walls[0]:.3f}",
        f"op_tail_s is the median of {len(passes)} per-pass slowest ops: {' '.join(tail_ops)}",
    ]
    for label, group in (("warm", warm), ("measured", passes)):
        for p in group:
            lines.append(f"{label} op latencies: " + " ".join(
                f"{op['name']}={op['latency_s']:.2f}" for op in p.ops))

    if trace:
        metrics = tracing.layer_metrics(
            spans, passes, os.path.join(run_dir, "events"), NPROC,
            session_start_s=session_start_s, warm_s=warm_s, gc_s=gc_per_pass_s,
            bytes_per_row=bytes_per_row,
            csv_read=args.workload == "migrate",
        )
        lines.extend(tracing.describe(passes))
    else:
        wall_s = statistics.median(walls)
        if args.workload == "migrate":
            rows_per_pass = workload.rows_per_pass
        else:
            rows_per_pass = statistics.median(sum(op["rows"] for op in p.ops) for p in passes)
        metrics = {
            "setup_s": metric(setup_s, "s"),
            "wall_s": metric(wall_s, "s"),
            "op_p50_s": metric(statistics.median(lat), "s"),
            "op_tail_s": metric(tail_s, "s"),
            "rows_per_s": metric(rows_per_pass / wall_s, "1/s"),
            "peak_rss_mb": metric(sampler.peak_kb / 1024.0, "MB"),
        }
    result = {
        "correct": failed == 0 and warm_failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }
    return result, lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "mysql2psql_spark")):
        log(f"mysql2psql_spark not found under {ROOT}: run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    runs = os.path.join(ROOT, ".perfbench_runs")
    run_dir = os.path.join(runs, f"{args.workload}-{os.getpid()}")
    prepare_env(run_dir)
    try:
        result, lines = measure(args, run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        if not os.listdir(runs):
            os.rmdir(runs)
    for line in lines:
        print("# " + line)
    print(f"# process time {time.perf_counter() - T_START:.1f} s")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
