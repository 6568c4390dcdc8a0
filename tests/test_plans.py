"""Physical-plan regression pins: the scale properties README.md claims
(pushdown, pruned read schemas, broadcast dimensions, partition pruning on
partitioned writes) are asserted here so a refactor can't silently lose
them."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from mysql2psql_spark.queries import QUERIES
from mysql2psql_spark.sources import load_table
from tests.conftest import SF_DIR, SF_DIR_ORACLE


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(QUERIES["p1_filter_pushdown"](spark, SF_DIR_ORACLE))
    assert "PushedFilters: [" in plan
    assert re.search(r"PushedFilters: \[[^\]]*o_orderstatus[^\]]*\]", plan)


def test_projection_prunes_read_schema(spark):
    plan = _plan(QUERIES["s4_scan_projection"](spark, SF_DIR_ORACLE))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = m.group(1).split(",")
    # only the 3 projected columns are read, not lineitem's 11
    assert len(cols) == 3, cols


def test_dimension_joins_broadcast(spark):
    for name in ("q03_shipping_priority", "q05_local_supplier_volume", "q10_returned_items"):
        plan = _plan(QUERIES[name](spark, SF_DIR_ORACLE))
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_no_collect_in_fact_paths(spark):
    # top-k queries must plan as TakeOrderedAndProject (no global sort)
    plan = _plan(QUERIES["o1_global_topk"](spark, SF_DIR_ORACLE))
    assert "TakeOrderedAndProject" in plan


def test_partitioned_write_prunes(spark, tmp_path):
    """Partitioned Parquet write + partition-pruned read — the layout a
    100 TB fact table uses (partition column = coarse date)."""
    out = str(tmp_path / "li_part")
    li = load_table(spark, SF_DIR_ORACLE, "lineitem")
    li.withColumn("ship_month", F.date_format("l_shipdate", "yyyy-MM")).write.partitionBy(
        "ship_month"
    ).parquet(out)

    back = spark.read.parquet(out).filter(F.col("ship_month") == "1997-03")
    plan = _plan(back)
    # partition filter present and non-partition data files pruned
    assert re.search(r"PartitionFilters: \[[^\]]*ship_month[^\]]*\]", plan)
    want = li.filter(F.date_format("l_shipdate", "yyyy-MM") == "1997-03").count()
    assert back.count() == want


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """bucketBy on the join key -> both sides pre-partitioned on disk ->
    the join plans without a shuffle Exchange (the co-located-join layout
    for repeated fact-fact joins at scale)."""
    li = load_table(spark, SF_DIR_ORACLE, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    o = load_table(spark, SF_DIR_ORACLE, "orders").select("o_orderkey", "o_orderpriority")
    for name, df, key in (("li_b", li, "l_orderkey"), ("o_b", o, "o_orderkey")):
        df.write.mode("overwrite").bucketBy(8, key).sortBy(key).saveAsTable(name)
    a = spark.table("li_b")
    b = spark.table("o_b")
    joined = a.join(b, a.l_orderkey == b.o_orderkey)
    plan = _plan(joined)
    body = plan.split("== Physical Plan ==")[-1]
    import re as _re

    assert not _re.search(r"Exchange hashpartitioning", body), body[:2000]
    assert joined.count() == li.join(o, li.l_orderkey == o.o_orderkey).count()
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")


def test_range_join_broadcasts_interval_side(spark):
    """binned_range_join must build (broadcast) the exploded INTERVAL
    side, never the points/fact side: Spark's size estimate for a
    Generate-over-local-relation once flipped the build side and
    broadcast 600k lineitem rows (an executor OOM at real scale)."""
    plan = _plan(QUERIES["r1_range_join_promo"](spark, SF_DIR_ORACLE))
    body = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in body, body[:2000]
    # the build side must be the side containing the interval explode
    # (Generate over the local promo relation), i.e. BuildRight with the
    # fact scan on the left — a BuildLeft over the parquet scan is the
    # regression
    m = re.search(r"BuildLeft", body)
    assert m is None, body[:2000]


def test_prefix_filter_materializes_shingle_agg_once(spark):
    """The ngram-Jaccard plan must NOT re-execute the corpus shingle
    pass per self-join consumer. Since the r6 persist-based materialize,
    every consumer reads an InMemoryTableScan of ONE shared
    InMemoryRelation (whose printed form embeds the producing FileScan,
    so the raw scan count equals the relation count — what matters is
    that no UN-cached parquet scan remains, and that the cache really
    has multiple consumers)."""
    # deterministic cache state: earlier tests in the session may have
    # cached overlapping plan fragments, which NEST in the printed plan
    # (a cached relation's body shows another cached relation's FileScan)
    # and make raw node counts order-dependent
    spark.catalog.clearCache()
    df = QUERIES["dedup_ngram_jaccard"](spark, SF_DIR_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_scans = plan.count("FileScan parquet")
    n_cached = plan.count("InMemoryRelation")
    assert n_scans <= max(1, n_cached), plan[:3000]
    assert plan.count("InMemoryTableScan") >= 2, plan[:3000]


def test_keyset_pagination_pushes_cursor_and_takes_ordered(spark):
    plan = _plan(QUERIES["o4_keyset_pagination"](spark, SF_DIR_ORACLE))
    assert "TakeOrderedAndProject" in plan
    # the (date, key) cursor disjunction reaches the scan
    assert re.search(r"PushedFilters: \[[^\]]*Or\(", plan), plan


def test_asof_nearest_is_joinless_single_window(spark):
    """asof_nearest must stay the union + one-window-pass shape: both
    direction candidates from ONE Window operator, no join of any kind
    (a range-join formulation would explode |pairs-in-window| rows)."""
    plan = _plan(QUERIES["j7_asof_nearest_order"](spark, SF_DIR_ORACLE))
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert j not in plan, j
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan


def test_w6_range_frame_single_exchange(spark):
    """The rolling time-RANGE window must cost exactly one hash exchange
    (on user_id) — no self-join, no extra shuffle."""
    plan = _plan(QUERIES["w6_time_range_rolling"](spark, SF_DIR_ORACLE))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_zorder_key_is_codegen_expression(spark):
    """The Morton key must stay inside whole-stage codegen (pure bit
    expression, no UDF/python eval) and add no shuffle of its own."""
    plan = _plan(QUERIES["o5_zorder_layout"](spark, SF_DIR_ORACLE))
    assert "codegen id" in plan  # projections fused into whole-stage codegen
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan, plan  # key computation is scan+project only


def test_fuzzy_blocked_join_is_equi_join(spark):
    """Blocking must plan as an equi-join on the block key (hash-joinable),
    never a cartesian/BNLJ over the name table."""
    plan = _plan(QUERIES["dedup_fuzzy_blocked"](spark, SF_DIR_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hypertable_rollup_single_scan(spark):
    """The multi-grain rollup must read events ONCE: GROUPING SETS plans
    as Expand above a single scan + one HashAggregate pair — not one
    scan per grain."""
    plan = _plan(QUERIES["events_hypertable_rollup"](spark, SF_DIR_ORACLE))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Expand" in plan, plan


def test_ivf_lists_partitioned_write_prunes_on_probe(spark, tmp_path):
    """The ann_topk_ivf docstring's scale claim, pinned: writing the
    corpus partitioned by IVF cluster turns the probe's cluster filter
    into partition pruning — a probe reads only its n_probe lists'
    files, not the corpus."""
    from mysql2psql_spark.operators.embedding import collect_seeds, ivf_assign
    from mysql2psql_spark.sources import load_table

    emb = load_table(spark, SF_DIR_ORACLE, "embeddings")
    seeds = collect_seeds(emb, 16, "vec_id", "embedding")
    assigned = ivf_assign(emb, seeds).join(emb, "vec_id")
    out = str(tmp_path / "ivf_lists")
    assigned.write.partitionBy("cluster").parquet(out)

    probe = spark.read.parquet(out).filter(F.col("cluster").isin([0, 3, 7, 11]))
    plan = _plan(probe)
    assert re.search(r"PartitionFilters: \[[^\]]*cluster[^\]]*\]", plan), plan
    want = assigned.filter(F.col("cluster").isin([0, 3, 7, 11])).count()
    assert probe.count() == want


def test_session_pins_codegen_cache_and_cleaner(spark):
    """The engine session must keep the two long-session-health configs:
    the codegen class cache sized above the registry's shape count (the
    default 100 thrashes across ~170 shapes and every big-plan query
    pays Janino recompiles per execution — the r10 root cause of the
    cross-round bench drift) and the 5-min periodic GC that keeps
    ContextCleaner reclaiming shuffle/broadcast state."""
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 1024
    assert spark.conf.get("spark.cleaner.periodicGC.interval") == "5min"


def test_coorder_edges_bucketed_scan_exchange_free_adjacency(spark):
    """The graph family reads the part co-order graph from the session's
    write-once bucketed table (queries/graph_q.py::coorder_edges): the
    triangles plan must scan it bucketed and run the adjacency
    collect_set WITHOUT an exchange on the bucket key — the bucket spec
    is the aggregation's required clustering (the r10 verdict's
    pay-the-shuffle-once directive for the shared edge list)."""
    plan = _plan(QUERIES["graph_triangles"](spark, SF_DIR_ORACLE))
    assert "coorder_edges_" in plan, plan[:2000]
    assert "Bucketed: true" in plan, plan[:2000]
    body = plan.split("== Physical Plan ==")[-1]
    # an exchange on the edge endpoint would mean the bucket layout was
    # lost (the only sanctioned hash exchanges partition by node /
    # tri_bucket downstream of the per-edge work)
    assert not re.search(r"Exchange hashpartitioning\((src|a)#", body), body[:3000]


def test_negative_samples_no_unpartitioned_row_number(spark):
    """graph_negative_samples' dense vertex index must use the two-phase
    bucket-rank + broadcast-offset shape (operators/indexing.py::
    dense_index) — a row_number over an UNPARTITIONED window would pull
    every vertex through one task (the r10 verdict's one weak flag).
    The only unpartitioned window allowed is the n_buckets-row offset
    prefix sum, which is not a row_number."""
    plan = _plan(QUERIES["graph_negative_samples"](spark, SF_DIR_ORACLE))
    assert not re.search(
        r"row_number\(\) windowspecdefinition\([^,)]* (ASC|DESC)", plan
    ), plan[:3000]


def test_negative_samples_edge_table_not_anti_join_build(spark):
    """graph_negative_samples' reject-join must keep every broadcast
    bounded by the PROBE side (anchors x proposals rows — a constant),
    never by the graph (r18 shape, VERDICT r17 #4: the r17
    anchor-incident prefilter broadcast a DEGREE-sized edge subset,
    which a hub anchor makes arbitrarily large). The anti join must be
    a BroadcastHashJoin whose build is the matched-keys frame, and the
    |E|-scale edge table must be consumed as the STREAMED side of a
    BroadcastHashJoin Inner built from the candidate keys — no LeftSemi
    nested-loop pass, no edge-side build anywhere."""
    plan = _plan(QUERIES["graph_negative_samples"](spark, SF_DIR_ORACLE))
    body = plan.split("== Physical Plan ==")[-1]
    assert re.search(r"BroadcastHashJoin LeftAnti", body), body[:3000]
    assert not re.search(r"Join LeftSemi", body), body[:3000]
    # the bounded inner probe (ckeys broadcast, edges streamed) sits in
    # the anti join's build subtree (printed after the anti node)
    anti = body.find("BroadcastHashJoin LeftAnti")
    inner = body.find("BroadcastHashJoin Inner", anti)
    assert inner != -1, body[:3000]
    # the edge table never appears as a SortMergeJoin side (would mean
    # the |E| table got shuffled for the reject join)
    assert "SortMergeJoin" not in body, body[:3000]


def test_dense_index_matches_sql_contract(spark, duck):
    """dense_index's (bucket, *order_cols) total order must equal its
    advertised SQL restatement (dense_index_sql) exactly — the contract
    every consumer's oracle relies on."""
    from mysql2psql_spark.operators.indexing import dense_index, dense_index_sql

    df = load_table(spark, SF_DIR_ORACLE, "part").select("p_partkey")
    got = {
        r["p_partkey"]: r["ordinal"]
        for r in dense_index(df, ["p_partkey"], n_buckets=16).collect()
    }
    expr = dense_index_sql(["p_partkey"], n_buckets=16)
    want = {
        k: v
        for k, v in duck.execute(
            "SELECT p_partkey, " + expr + " AS ordinal FROM sf0_01.part"
        ).fetchall()
    }
    assert got == want


def test_dense_index_sql_multi_column_contract(spark, duck):
    """dense_index with a secondary ordering column must still match its
    generated SQL twin (the bucket key is only the LEAD column's modulo;
    ties within a bucket order by the remaining columns)."""
    from mysql2psql_spark.operators.indexing import dense_index, dense_index_sql

    df = load_table(spark, SF_DIR_ORACLE, "orders").select("o_custkey", "o_orderkey")
    got = {
        (r["o_custkey"], r["o_orderkey"]): r["ordinal"]
        for r in dense_index(df, ["o_custkey", "o_orderkey"], n_buckets=8).collect()
    }
    expr = dense_index_sql(["o_custkey", "o_orderkey"], n_buckets=8)
    want = {
        (a, b): v
        for a, b, v in duck.execute(
            "SELECT o_custkey, o_orderkey, " + expr + " AS ordinal FROM sf0_01.orders"
        ).fetchall()
    }
    assert got == want


def test_budget_sample_no_unpartitioned_window(spark):
    """text_budget_sample's running token sum must use the two-phase
    hex-prefix decomposition — no per-language total-order window over
    the corpus; the only permitted windows partition by (lang, bucket)
    or run over the 16-row offset table."""
    plan = _plan(QUERIES["text_budget_sample"](spark, SF_DIR_ORACLE))
    # a lang-partitioned window ordering directly by the md5 key (the
    # funnel shape) would print windowspecdefinition(lang#N, _dk#M ASC
    assert not re.search(
        r"windowspecdefinition\(lang#\d+, _?dk#\d+ ASC", plan
    ), plan[:3000]
    # the local window partitions by (lang, _b)
    assert re.search(r"windowspecdefinition\(lang#\d+, _b#", plan), plan[:3000]


def test_leakage_safe_split_corpus_join_broadcasts(spark):
    """The r13-queued split's cluster map must BROADCAST onto the corpus
    scan (the documents side never shuffles for the cluster join) — the
    property that makes the operator a one-scan pass at 100 TB."""
    from mysql2psql_spark.queries.dedup_q import dedup_leakage_safe_split

    plan = _plan(dedup_leakage_safe_split(spark, SF_DIR_ORACLE))
    assert "BroadcastHashJoin" in plan
    # no SortMergeJoin anywhere: every join in the plan is either the
    # broadcast cluster-map join or a pair-graph-sized broadcast join
    assert "SortMergeJoin" not in plan, plan


def test_minhash_cross_candidates_join_is_band_keyed(spark):
    """The r13-queued incremental gate's candidate join must key on the
    (band, key) columns — never a nested-loop or cross product — so
    per-batch cost is collision-bounded at any corpus size."""
    from mysql2psql_spark.queries.dedup_q import dedup_minhash_incremental

    plan = _plan(dedup_minhash_incremental(spark, SF_DIR_ORACLE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the hash-join keys include the band/key pair (formatted explain
    # prints the join condition with the column names)
    assert re.search(r"Join.*band", plan, re.DOTALL), plan


def test_drift_psi_single_corpus_scan_per_pass(spark):
    """The queued PSI drift profile must attach its 1-row bounds frame
    with a broadcast (the benign single-row BNLJ class) and never
    sort-merge or cartesian-join; the two event scans (bounds pass +
    tagged pass) must both prune to the 3 used columns."""
    from mysql2psql_spark.queries.events_q import profile_drift_psi

    plan = _plan(profile_drift_psi(spark, SF_DIR_ORACLE))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, plan[:2000]
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",")}
        assert cols <= {"ts", "event_type", "value"}, cols


def test_snapshot_diff_is_one_keyed_full_outer(spark):
    """The queued snapshot diff must be ONE key-partitioned full-outer
    SortMergeJoin (the co-partitionable diff shape — bucketed snapshots
    make it exchange-free) with no nested-loop or cartesian fallback,
    and every orders scan must prune to the key + compared columns."""
    from mysql2psql_spark.queries.migration_q import m7_snapshot_diff

    plan = _plan(m7_snapshot_diff(spark, SF_DIR_ORACLE))
    assert "SortMergeJoin FullOuter" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    for s in re.findall(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {c.split(":")[0] for c in s.split(",")}
        assert cols <= {
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        }, cols


def test_kmeans_train_reuses_materialized_base(spark):
    """The queued Lloyd trainer's RESULT plan must read the corpus from
    the materialized base (InMemoryTableScan — the frame every
    iteration's assignment pass shared) and join its 16-row stats/norms
    frames with a broadcast, never a sort-merge."""
    from mysql2psql_spark.operators.materialize import CacheHandle
    from mysql2psql_spark.queries.embedding_q import sim_kmeans_train

    with CacheHandle() as caches:
        plan = _plan(sim_kmeans_train(spark, SF_DIR_ORACLE, caches=caches))
        assert "InMemoryTableScan" in plan
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


def test_pq_train_step_corpus_never_shuffles(spark):
    """The queued PQ training step's only exchanges must carry the
    codebook-sized partials (the Arrow kernel pre-aggregates per batch)
    — never a corpus-keyed join: no sort-merge, no nested loop, one
    parquet scan."""
    from mysql2psql_spark.queries.similarity_q import sim_pq_train_step

    plan = _plan(sim_pq_train_step(spark, SF_DIR_ORACLE))
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # formatted explain prints each node twice (tree + detail)
    assert plan.count("Scan parquet") == 2, plan.count("Scan parquet")


def test_kmeans_train_plan_constant_across_iterations(spark):
    """The Lloyd trainer's RESULT plan must not grow with the iteration
    count: every iteration restarts from the materialized base (seeds
    ride the closure as literals), so unlike a naively-chained iterative
    frame there is NO nested lineage to checkpoint away — the final
    plan at 1 and at 3 iterations differs only in centroid literals."""
    import re as _re

    from mysql2psql_spark.operators.embedding import kmeans_train
    from mysql2psql_spark.sources import load_table

    emb = load_table(spark, SF_DIR_ORACLE, "embeddings")

    def shape(n_it: int) -> str:
        plan = _plan(kmeans_train(emb, n_centroids=4, n_iterations=n_it))
        # strip literal arrays and plan ids so only the operator tree
        # shape remains
        plan = _re.sub(r"-?\d+\.\d+(E-?\d+)?", "#", plan)
        plan = _re.sub(r"#\d+", "#", plan)
        plan = _re.sub(r"\(\d+\)", "()", plan)
        plan = _re.sub(r"plan_id=\d+", "plan_id=#", plan)
        plan = _re.sub(r"MapPartitionsRDD\[\d+\]", "MapPartitionsRDD[#]", plan)
        return plan

    s1, s3 = shape(1), shape(3)
    assert s1 == s3, (len(s1), len(s3))


@pytest.mark.parametrize(
    "name",
    [
        "s1_catalog_tables",
        "s2_catalog_columns",
        "s8_catalog_types",
        "dedup_method_agreement",
        "text_bpe_learn",
        "text_bpe_vocab_drift",
    ],
)
def test_driver_collected_results_are_local_table_scans(spark, name):
    """Queries that collect a small result and return it as a frame
    return a LocalTableScan (sources/local.py), not a scan over a Python
    RDD: an action on it starts no Python worker."""
    plan = QUERIES[name](spark, SF_DIR)._jdf.queryExecution().executedPlan()
    assert plan.getClass().getSimpleName() == "LocalTableScanExec", plan.toString()


def test_local_frame_round_trips_values(spark):
    """``local_frame`` returns exactly the rows it was given, typed by its
    DDL schema: quotes, backslashes and line breaks in strings, 64-bit
    ints, doubles and NULLs; no rows gives an empty frame."""
    from mysql2psql_spark.sources.local import local_frame

    rows = [
        ("it's", 2**40, 0.1, None),
        ("back\\slash \\' \\n", -1, 1e-300, 3),
        ("line\r\nbreak, é", 0, -2.5, None),
    ]
    schema = "s string, n bigint, d double, k int"
    df = local_frame(spark, rows, schema)
    assert df.schema.simpleString() == "struct<s:string,n:bigint,d:double,k:int>"
    assert [tuple(r) for r in df.collect()] == rows
    empty = local_frame(spark, [], schema)
    assert empty.collect() == []
    assert empty.schema.simpleString() == df.schema.simpleString()
