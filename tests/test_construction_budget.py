"""Construction budget of the corpus ops, and the plan identity of the
builders written as SQL text to meet it.

Each Column-API call costs the driver py4j round trips (with PySpark's
call-site capture on, about six more per call), so the hot expression
builders are parsed from SQL text instead. The pins below restate each
replaced Column-API form and require the SQL-text form to analyze to the
same plan with the same schema; a changed literal type (SQL reads
``0.5`` as a DECIMAL where ``F.lit(0.5)`` is a DOUBLE) fails them.
"""

from __future__ import annotations

import gc
from functools import reduce

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from mysql2psql_spark.operators import dedup, drift, graph, text
from mysql2psql_spark.operators.materialize import unmaterialize
from mysql2psql_spark.queries import QUERIES
from mysql2psql_spark.sources import load_table
from mysql2psql_spark.streaming.audit import audit_frame
from tests.conftest import SF_DIR

# ---------------------------------------------------------------------------
# The replaced Column-API forms, restated as references.
# ---------------------------------------------------------------------------


def _ref_minhash_tables(shingle_df, id_col="doc_id", hash_col="sh", k=32, bands=8):
    r = k // bands
    arrs = shingle_df.groupBy(id_col).agg(
        F.sort_array(F.collect_set(hash_col)).alias("arr"),
        *[F.min(F.xxhash64(F.lit(i), F.col(hash_col))).alias(f"h{i}") for i in range(k)],
    ).withColumn("n", F.size("arr"))
    band_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.xxhash64(*[F.col(f"h{j * r + i}") for i in range(r)]).alias("key"),
            )
            for j in range(bands)
        ]
    )
    buckets = arrs.select(F.col(id_col), F.explode(band_structs).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    return arrs, buckets


def _ref_exact_jaccard_verify(cand, arrs, id_col="doc_id", threshold=0.5, arrs_b=None):
    t_num, t_den = dedup._t_frac(threshold)
    arr_a = arrs.select(
        F.col(id_col).alias("doc_a"), F.col("arr").alias("arr_a"), F.col("n").alias("na")
    )
    arr_b = (arrs_b if arrs_b is not None else arrs).select(
        F.col(id_col).alias("doc_b"), F.col("arr").alias("arr_b"), F.col("n").alias("nb")
    )
    inter = F.size(F.array_intersect("arr_a", "arr_b"))
    union = F.col("na") + F.col("nb") - inter
    jac = inter.cast("double") / union
    return (
        cand.select("doc_a", "doc_b")
        .join(arr_a, "doc_a")
        .join(arr_b, "doc_b")
        .filter(inter * F.lit(t_den) >= F.lit(t_num) * union)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def _ref_cross_pairs(tables_n, tables_c, id_col="doc_id", threshold=0.5):
    (arrs_n, bk_n), (arrs_c, bk_c) = tables_n, tables_c
    n = bk_n.alias("n")
    c = bk_c.alias("c")
    cand = (
        n.join(c, (F.col("n.band") == F.col("c.band")) & (F.col("n.key") == F.col("c.key")))
        .select(F.col(f"n.{id_col}").alias("doc_a"), F.col(f"c.{id_col}").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    verified = _ref_exact_jaccard_verify(cand, arrs_n, id_col, threshold, arrs_b=arrs_c)
    return verified.select(
        F.col("doc_a").alias("doc_new"), F.col("doc_b").alias("doc_corpus"), "jaccard"
    )


def _ref_shingle_hash_table(docs, portable, id_col="doc_id", text_col="text", k=3):
    para = docs.sparkSession.sparkContext.defaultParallelism
    if 0 < len(docs.inputFiles()) < para:
        docs = docs.repartition(para, F.col(id_col))
    ws = F.split(F.col(text_col), " ")
    starts = F.sequence(F.lit(1), F.size(ws) - (k - 1))
    shingle = lambda j: F.concat_ws(" ", F.slice(ws, j, k))  # noqa: E731
    if portable:
        hash_fn = lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")  # noqa: E731
    else:
        hash_fn = F.xxhash64
    hashes = F.array_distinct(F.transform(starts, lambda j: hash_fn(shingle(j))))
    return docs.filter(F.size(ws) >= k).select(F.col(id_col), F.explode(hashes).alias("sh"))


def _ref_char_ngram_table(df, id_col="doc_id", text_col="text", n=3, extra_cols=()):
    idx = F.when(
        F.length(text_col) >= n, F.sequence(F.lit(1), F.length(text_col) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return df.select(
        id_col, *extra_cols, F.col(text_col), F.explode(idx).alias("_gpos")
    ).select(id_col, *extra_cols, F.expr(f"substring({text_col}, _gpos, {n})").alias("gram"))


def _ref_langid_classify(doc_grams, profiles, id_col="doc_id", label_col="lang", k=40, langs=None):
    counts = doc_grams.groupBy(id_col, "gram").agg(F.count("*").alias("cnt"))
    w = W.partitionBy(id_col).orderBy(F.col("cnt").desc(), "gram")
    wfull = W.partitionBy(id_col)
    dprof = counts.select(
        id_col,
        "gram",
        F.row_number().over(w).cast("int").alias("r_doc"),
        F.least(F.count("*").over(wfull), F.lit(k)).cast("int").alias("n_prof"),
    ).filter(F.col("r_doc") <= k)
    if langs is None:
        langs = profiles.select(label_col).distinct()
    gains = (
        dprof.join(F.broadcast(profiles), "gram", "left")
        .groupBy(id_col, label_col)
        .agg(
            F.sum(
                F.when(
                    F.col("rank").isNotNull(), F.lit(k) - F.abs(F.col("r_doc") - F.col("rank"))
                ).otherwise(0)
            ).alias("gain"),
            F.first("n_prof").alias("n_prof"),
        )
    )
    w2 = W.partitionBy(id_col).orderBy(F.col("gain").desc(), F.col(label_col).asc_nulls_last())
    top = gains.withColumn("rn", F.row_number().over(w2)).filter(F.col("rn") == 1)
    min_lang = langs.agg(F.min(label_col).alias("_min_lang"))
    return top.crossJoin(F.broadcast(min_lang)).select(
        id_col,
        F.coalesce(F.col(label_col), F.col("_min_lang")).alias("lang_pred"),
        (
            F.col("n_prof") * F.lit(k)
            - F.when(F.col(label_col).isNull(), 0).otherwise(F.col("gain"))
        )
        .cast("bigint")
        .alias("oop_distance"),
    )


def _ref_ks_tail(counts, key_col="event_type", value_col="value"):
    vc = counts.groupBy(key_col, value_col).agg(
        F.sum(F.when(F.col("period") == 0, F.col("n")).otherwise(0)).cast("bigint").alias("ca"),
        F.sum(F.when(F.col("period") == 1, F.col("n")).otherwise(0)).cast("bigint").alias("cb"),
    )
    wcum = W.partitionBy(key_col).orderBy(value_col)
    wall = W.partitionBy(key_col)
    dec = "decimal(38,0)"
    cum = vc.select(
        key_col,
        value_col,
        F.sum("ca").over(wcum).cast(dec).alias("cum_a"),
        F.sum("cb").over(wcum).cast(dec).alias("cum_b"),
        F.sum("ca").over(wall).cast(dec).alias("n_a"),
        F.sum("cb").over(wall).cast(dec).alias("n_b"),
        F.count("*").over(wall).cast("bigint").alias("n_values"),
    )
    diff_dec = F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a"))
    max_long = F.lit("9223372036854775807").cast(dec)
    d = cum.select(
        key_col,
        value_col,
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        "n_values",
        F.when(diff_dec <= max_long, diff_dec.cast("bigint"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "ks_tail: |cum_a*n_b - cum_b*n_a| overflows bigint "
                        "(n_a*n_b >= 2^63) for key "
                    ),
                    F.col(key_col).cast("string"),
                    F.lit(" — KS a per-key quantile sketch at this scale"),
                )
            ).cast("bigint")
        )
        .alias("diff"),
    )
    warg = W.partitionBy(key_col).orderBy(F.col("diff").desc(), value_col)
    return (
        d.withColumn("rn", F.row_number().over(warg))
        .filter(F.col("rn") == 1)
        .select(
            key_col,
            "n_a",
            "n_b",
            "n_values",
            F.col("diff").alias("ks_num"),
            F.col(value_col).alias("ks_at_value"),
        )
    )


def _ref_pagerank(edges, iters=3, damping=0.85):
    w = W.partitionBy("src")
    edges = edges.repartition("src").withColumn("deg", F.count(F.lit(1)).over(w))
    ranks = edges.select(F.col("src").alias("node")).distinct().withColumn("rank", F.lit(1.0))
    teleport = F.lit(round(1.0 - damping, 6))
    scale = F.lit(float(graph._SCALE))
    for _ in range(iters):
        contrib = edges.join(ranks.withColumnRenamed("node", "src"), "src").select(
            "dst", F.floor((F.col("rank") / F.col("deg")) * scale).alias("c")
        )
        ranks = contrib.groupBy(F.col("dst").alias("node")).agg(
            (
                F.floor(
                    (teleport + F.lit(damping) * (F.sum("c").cast("double") / scale)) * scale
                )
                / scale
            ).alias("rank")
        )
    return ranks


def _ref_label_propagation(und, rounds=2):
    labels = und.select("v").distinct().withColumn("lbl", F.col("v"))
    for _ in range(rounds):
        nbr = und.join(labels.select(F.col("v").alias("u"), "lbl"), "u").select("v", "lbl")
        counted = nbr.groupBy("v", "lbl").agg(F.count("*").alias("n"))
        labels = counted.groupBy("v").agg(
            F.min_by("lbl", F.struct((-F.col("n")).alias("n"), F.col("lbl").alias("l"))).alias(
                "lbl"
            )
        )
    return labels


def _ref_audit_frame(streamed, batch, keys, vals, count):
    def side(df, tag):
        return df.select(
            *keys,
            F.lit(True).alias(f"in_{tag}"),
            *[F.col(v).alias(f"{tag}_{v}") for v in vals],
        )

    in_s, in_b = F.col("in_s"), F.col("in_b")
    same = reduce(
        lambda a, b: a & b, [F.col(f"s_{v}").eqNullSafe(F.col(f"b_{v}")) for v in vals]
    )
    return (
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


# ---------------------------------------------------------------------------
# The pins: (SQL-text form, restated Column form) pairs per builder.
# ---------------------------------------------------------------------------


def _pin_pairs(spark):
    docs = load_table(spark, SF_DIR, "documents")
    sh = text.shingle_hash_table(docs)
    sh_new = sh.filter("doc_id % 10 >= 8")
    sh_corpus = sh.filter("doc_id % 10 < 8")
    tables_n = dedup._minhash_tables(sh_new)
    tables_c = dedup._minhash_tables(sh_corpus)
    ref_n = _ref_minhash_tables(sh_new)
    ref_c = _ref_minhash_tables(sh_corpus)
    cand = tables_n[1].selectExpr("doc_id AS doc_a", "doc_id + 1 AS doc_b")
    grams = text.char_ngram_table(docs).select("doc_id", "gram")
    profiles = text.langid_profiles(text.char_ngram_table(docs, extra_cols=("lang",)), k=10)
    langs = docs.select("lang").distinct()
    ev = load_table(spark, SF_DIR, "events").selectExpr(
        "event_type", "value", "CAST(user_id AS BIGINT) AS et"
    )
    bounds = ev.agg(F.min("et").alias("mn"), F.max("et").alias("mx"))
    counts = drift.ks_value_counts(drift.ks_tagged(ev, bounds))
    edges = graph.undirected_edges(
        load_table(spark, SF_DIR, "orders").selectExpr("o_custkey AS a", "o_orderkey AS b"),
        "a",
        "b",
    )
    und = graph._edges_by_v(edges, None)
    streamed = spark.range(6).selectExpr("id % 3 AS k", "id AS v", "CAST(id AS DOUBLE) AS w")
    batch = spark.range(2, 8).selectExpr("id % 3 AS k", "id AS v", "CAST(id AS DOUBLE) AS w")
    pairs = {
        "minhash_arrs": (tables_n[0], ref_n[0]),
        "minhash_buckets": (tables_n[1], ref_n[1]),
        "exact_jaccard_verify": (
            dedup.exact_jaccard_verify(cand, tables_n[0], threshold=0.3),
            _ref_exact_jaccard_verify(cand, ref_n[0], threshold=0.3),
        ),
        "minhash_lsh_cross_pairs": (
            dedup.minhash_lsh_cross_pairs(sh_new, None, corpus_tables=tables_c),
            _ref_cross_pairs(ref_n, ref_c),
        ),
        "shingle_portable": (text.shingle_hash_table(docs), _ref_shingle_hash_table(docs, True)),
        "shingle_xxhash": (
            text.shingle_hash_table(docs, portable=False),
            _ref_shingle_hash_table(docs, False),
        ),
        "char_ngram_table": (
            text.char_ngram_table(docs, extra_cols=("lang",)),
            _ref_char_ngram_table(docs, extra_cols=("lang",)),
        ),
        "langid_classify": (
            text.langid_classify(grams, profiles, k=10, langs=langs),
            _ref_langid_classify(grams, profiles, k=10, langs=langs),
        ),
        "langid_classify_no_langs": (
            text.langid_classify(grams, profiles, k=10),
            _ref_langid_classify(grams, profiles, k=10),
        ),
        "ks_tail": (drift.ks_tail(counts), _ref_ks_tail(counts)),
        "pagerank": (graph.pagerank(edges), _ref_pagerank(edges)),
        "label_propagation": (graph.label_propagation(edges), _ref_label_propagation(und)),
        "audit_frame": (
            audit_frame(streamed, batch, ["k", "v"], ["w"], "rows"),
            _ref_audit_frame(streamed, batch, ["k", "v"], ["w"], "rows"),
        ),
        "audit_frame_two_vals": (
            audit_frame(streamed, batch, ["k"], ["v", "w"], "pairs"),
            _ref_audit_frame(streamed, batch, ["k"], ["v", "w"], "pairs"),
        ),
    }
    return pairs, [tables_n[0], tables_c[0], und]


PINS = [
    "minhash_arrs",
    "minhash_buckets",
    "exact_jaccard_verify",
    "minhash_lsh_cross_pairs",
    "shingle_portable",
    "shingle_xxhash",
    "char_ngram_table",
    "langid_classify",
    "langid_classify_no_langs",
    "ks_tail",
    "pagerank",
    "label_propagation",
    "audit_frame",
    "audit_frame_two_vals",
]


@pytest.fixture(scope="module")
def pin_pairs(spark):
    pairs, persisted = _pin_pairs(spark)
    yield pairs
    for df in persisted:
        unmaterialize(df)
    spark.catalog.clearCache()


@pytest.mark.parametrize("name", PINS)
def test_sql_text_builder_plan_identity(pin_pairs, name):
    """The SQL-text builder analyzes to the plan of the Column-API form it
    replaced (``sameSemantics``: the analyzed plans ``sameResult``), with
    the same output schema."""
    got, ref = pin_pairs[name]
    assert got.schema == ref.schema
    assert got.sameSemantics(ref)


def test_plan_identity_rejects_a_literal_type_change(spark):
    """The pin's sensitivity: ``0.15`` in SQL text is a DECIMAL literal,
    so a pagerank teleport written without the ``D`` suffix would fail
    the pagerank pin above."""
    df = spark.range(3)
    assert not df.select(F.expr("id * 0.15").alias("x")).sameSemantics(
        df.select((F.col("id") * F.lit(0.15)).alias("x"))
    )
    assert df.select(F.expr("id * 0.15D").alias("x")).sameSemantics(
        df.select((F.col("id") * F.lit(0.15)).alias("x"))
    )


def test_session_turns_call_site_capture_off(spark):
    """``get_spark`` sets PySpark's call-site capture off at the builder,
    the only place PySpark reads it from (once per process)."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


# ---------------------------------------------------------------------------
# Construction budget of the corpus ops (warm call, job + py4j census).
# ---------------------------------------------------------------------------

# op -> (Spark jobs, py4j commands) of one warm call plus its count() at
# SF_DIR. Job ceilings are the counts before the SQL-text builders, except
# langid's, two lower since its frozen-profile artifact reads with stored
# schemas. Command ceilings are the highest of six measured counts plus
# 20%, since py4j's object-delete commands vary from run to run; with
# PySpark's call-site capture on and the Column-API builders they were
# 11,591, 971, 1,048, 3,295 and 3,529.
BUDGET = {
    "stream_near_dup_gate": (25, 1950),
    "graph_pagerank": (10, 510),
    "graph_label_propagation": (13, 620),
    "stream_langid_summary": (31, 1290),
    "stream_ks_summary": (16, 1310),
}


def test_corpus_op_construction_budget(spark):
    """Each corpus op's warm call (the query function plus ``count()``)
    stays within its committed job and py4j-command ceilings."""
    sc = spark.sparkContext
    original = ClientServerConnection.send_command
    seen = {}
    for name, (max_jobs, max_commands) in BUDGET.items():
        QUERIES[name](spark, SF_DIR).count()  # cold call: one-time jobs
        group = f"construction_budget:{name}"
        sent = [0]

        def counting(self, command, *args, _sent=sent, **kwargs):
            _sent[0] += 1
            return original(self, command, *args, **kwargs)

        sc.setJobGroup(group, name)
        gc.collect()  # send the cold call's object deletes before counting
        ClientServerConnection.send_command = counting
        try:
            QUERIES[name](spark, SF_DIR).count()
        finally:
            ClientServerConnection.send_command = original
            sc.setLocalProperty("spark.jobGroup.id", None)
        seen[name] = (len(sc.statusTracker().getJobIdsForGroup(group)), sent[0])
    spark.catalog.clearCache()
    over = {
        name: (got, BUDGET[name])
        for name, got in seen.items()
        if got[0] > BUDGET[name][0] or got[1] > BUDGET[name][1]
    }
    assert not over, f"(jobs, commands) over (ceiling jobs, ceiling commands): {over}; all: {seen}"
