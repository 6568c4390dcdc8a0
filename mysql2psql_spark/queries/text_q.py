"""Text-analysis & dedup queries over `documents` (training-data pipeline
surface — beyond the reference, SURVEY.md §7 step 8).

All of these stay in built-in functions (split/filter/transform/md5) so
they run JVM-side and scale linearly: per-document work with no shuffle
except the final aggregate/join, which is keyed by a hash and therefore
uniform (no skew).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql2psql_spark.queries import query
from mysql2psql_spark.operators.text import (
    STOPWORDS,
    en_stopword_ratio,
    quality_score,
    token_count,
)
from mysql2psql_spark.plans.orchestration import run_concurrent
from mysql2psql_spark.sizing import bytes_width
from mysql2psql_spark.sources import load_table
from mysql2psql_spark.sources.local import local_frame

_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


# ---------------------------------------------------------------------------
# Exact dedup: content-hash groupBy. md5 is identical (lowercase hex) in
# Spark and DuckDB, so the fingerprint itself is oracle-checked. Keyed by
# hash -> uniform shuffle distribution at 100 TB.
# ---------------------------------------------------------------------------
@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("fp")).agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies")
    )


# ---------------------------------------------------------------------------
# Token counting: whitespace tokenizer, JVM-side.
# ---------------------------------------------------------------------------
@query(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           LENGTH(text) AS len_chars,
           LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
           LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS n_unique_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.length("text").alias("len_chars"),
        token_count(F.col("text")).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
    )


# ---------------------------------------------------------------------------
# Quality scoring: length + lexical-diversity + stopword-ratio heuristics.
# ---------------------------------------------------------------------------
@query(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           ROUND(CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w IN ({_STOP_SQL}))) AS DOUBLE)
                 / LEN(STRING_SPLIT(text, ' ')), 6) AS stopword_ratio,
           ROUND(CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE)
                 / LEN(STRING_SPLIT(text, ' ')), 6) AS lexical_diversity,
           (LENGTH(text) >= 50 AND LEN(STRING_SPLIT(text, ' ')) >= 10) AS passes_length_gate
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.round(en_stopword_ratio(F.col("text")), 6).alias("stopword_ratio"),
        F.round(quality_score(F.col("text")), 6).alias("lexical_diversity"),
        ((F.length("text") >= 50) & (token_count(F.col("text")) >= 10)).alias("passes_length_gate"),
    )


# ---------------------------------------------------------------------------
# Language ID: n-gram/stopword heuristic (real lang-ID models aren't in the
# container; the heuristic is the deterministic, oracle-checkable core and
# the plumbing is what matters at scale).
# ---------------------------------------------------------------------------
@query(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id, lang AS lang_label,
           CASE WHEN CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w IN ({_STOP_SQL}))) AS DOUBLE)
                     / LEN(STRING_SPLIT(text, ' ')) > 0.02
                THEN 'en' ELSE 'unknown' END AS lang_pred
    FROM documents
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        F.when(en_stopword_ratio(F.col("text")) > 0.02, "en").otherwise("unknown").alias("lang_pred"),
    )


# ---------------------------------------------------------------------------
# Document fingerprinting: canonical content fingerprint = md5 over the
# sorted distinct token set (order/duplication-insensitive — catches
# shuffled near-dups that exact hashing misses).
# ---------------------------------------------------------------------------
@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(STRING_SPLIT(text, ' '))), ' ')) AS token_set_fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    canon = F.array_join(F.array_sort(F.array_distinct(F.split(F.col("text"), " "))), " ")
    return d.select("doc_id", F.md5(canon).alias("token_set_fp"))


# ---------------------------------------------------------------------------
# N-gram (3-word-shingle) Jaccard near-dup pairs, exact (oracle-checked).
# Shingle sets are far more discriminative than unigram sets (planted
# near-dups score 0.9+, unrelated docs < 0.3). Candidates come from
# PREFIX FILTERING (rarest-shingle-first, AllPairs/PPJoin principle) —
# a lossless exact block whose size is bounded by the document frequency
# of rare shingles, not by the corpus: the scale-correct exact shape
# (blocking on `source` alone would go quadratic within a source at
# 100x). The probabilistic twin is dedup_minhash_lsh; both emit all
# pairs with J >= 0.5, so they verify each other.
# ---------------------------------------------------------------------------
_SHINGLE_SQL = """
      SELECT doc_id, source,
             LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(ts) - 1, 1)),
                i -> CONCAT_WS(' ', ts[i], ts[i+1], ts[i+2]))) AS sg
      FROM (SELECT doc_id, source, STRING_SPLIT(text, ' ') AS ts FROM documents)
"""


@query(
    "dedup_ngram_jaccard",
    # The oracle needs no prefix restatement: prefix filtering is
    # lossless for J >= 0.5, so the answer equals the size-window-blocked
    # all-pairs Jaccard join (the window itself is lossless too).
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(LEN(LIST_INTERSECT(a.sg, b.sg)) AS DOUBLE)
                 / (LEN(a.sg) + LEN(b.sg) - LEN(LIST_INTERSECT(a.sg, b.sg))), 6) AS jaccard
    FROM sh a JOIN sh b
      ON a.doc_id < b.doc_id
         AND LEN(b.sg) BETWEEN CAST(CEIL(LEN(a.sg) * 0.5) AS BIGINT)
                           AND CAST(FLOOR(LEN(a.sg) * 2.0) AS BIGINT)
    WHERE CAST(LEN(LIST_INTERSECT(a.sg, b.sg)) AS DOUBLE)
          / (LEN(a.sg) + LEN(b.sg) - LEN(LIST_INTERSECT(a.sg, b.sg))) >= 0.5
    """,
)
def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, shingles: DataFrame | None = None
) -> DataFrame:
    # Work on 60-bit shingle hashes, not strings (collisions ~0; the
    # oracle intersects raw shingle sets). Candidates via prefix
    # filtering + positional prune, verification via native
    # array_intersect over per-doc sorted hash arrays (codegen'd, no
    # lambda HOF, one row per candidate pair). ``shingles`` lets a
    # composing caller (dedup_recall_gate) pass the shared persisted
    # shingle-hash frame instead of re-deriving it.
    from mysql2psql_spark.operators.dedup import prefix_filter_pairs
    from mysql2psql_spark.operators.text import shingle_hash_table

    # hash-order prefixes: the synthetic corpus's shingle distribution
    # is uniform (measured df <= 15 at sf0.1), so rarest-first ordering
    # buys no candidate reduction and costs a df join + per-doc window;
    # a Zipfian real corpus should keep order_by_frequency=True.
    # carry_arrays stays False: it wins ~30% at sf0.1's sparse dup rate
    # but the r5 scale probe measured 67.8 s vs 6.0 s on the 5x
    # duplicate-dense replica — carried array bytes scale with MATCH
    # rows (pre-pruning), and match rows grow quadratically with dup
    # density. The join-verify default ships arrays only for surviving
    # candidates, which is the shape that holds at 100 TB.
    if shingles is None:
        shingles = shingle_hash_table(load_table(spark, sf_dir, "documents"))
    return prefix_filter_pairs(shingles, threshold=0.5, order_by_frequency=False)


# ---------------------------------------------------------------------------
# BPE-ish token counting: a GPT-2-style pre-tokenizer approximation
# (word pieces / digit runs / punctuation as separate tokens) as a regex
# count — the cheap LLM-token estimator a data pipeline runs per document.
# ---------------------------------------------------------------------------
@query(
    "text_bpe_token_count",
    oracle="""
    SELECT doc_id,
           LEN(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS n_bpe_tokens
    FROM documents
    """,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(
                F.col("text"), F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), F.lit(0)
            )
        ).alias("n_bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling: per-language rates (the corpus-
# mixture draw of a training pipeline), reproducible because membership
# is md5(key)-derived, not rng state.
# ---------------------------------------------------------------------------
@query(
    "text_stratified_sample",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE (CAST(CONCAT('0x', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100)
          < (CASE WHEN lang = 'en' THEN 50 ELSE 20 END)
    """,
)
def text_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2psql_spark.operators.text import hash_sample

    d = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", 50).otherwise(20)
    return d.filter(hash_sample(F.col("doc_id"), rate)).select("doc_id", "lang")


# ---------------------------------------------------------------------------
# Benchmark-contamination detection: flag corpus documents sharing many
# shingles with a benchmark set (the decontamination pass every training
# pipeline runs before training). The benchmark side is deterministically
# drawn (md5-keyed, so both engines agree) and SMALL by construction —
# the scale shape broadcasts the benchmark shingle table and streams the
# corpus through a map-side hash join: no corpus shuffle at any scale.
# ---------------------------------------------------------------------------
_BENCH_PRED = (
    "(CAST(CONCAT('0x', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100) < 5"
)


@query(
    "text_contamination",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    bench AS (SELECT doc_id, sg FROM sh WHERE {_BENCH_PRED}),
    pair_overlap AS (
      SELECT d.doc_id, b.doc_id AS bench_id,
             LEN(LIST_INTERSECT(d.sg, b.sg)) AS n_shared
      FROM sh d JOIN bench b ON d.doc_id <> b.doc_id
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bench_matches,
           CAST(MAX(n_shared) AS BIGINT) AS max_shared
    FROM pair_overlap WHERE n_shared >= 20
    GROUP BY doc_id
    """,
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2psql_spark.operators.text import hash_sample, shingle_hash_table

    d = load_table(spark, sf_dir, "documents")
    # single doc-keyed aggregation of the (Python-produced) shingle
    # table: both join sides re-explode from its REUSED exchange, so the
    # Arrow shingle pass executes once (a mapInPandas stage has no
    # exchange of its own for ReusedExchange to dedupe)
    arrs = shingle_hash_table(d).groupBy("doc_id").agg(F.collect_set("sh").alias("arr"))
    sh = arrs.select("doc_id", F.explode("arr").alias("sh"))
    bench_ids = d.filter(hash_sample(F.col("doc_id"), F.lit(5))).select(
        F.col("doc_id").alias("bench_id")
    )
    bench_sh = sh.join(
        F.broadcast(bench_ids), sh.doc_id == F.col("bench_id")
    ).select("bench_id", "sh")
    shared = (
        sh.join(F.broadcast(bench_sh), "sh")
        .filter(F.col("doc_id") != F.col("bench_id"))
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 20)
    )
    return shared.groupBy("doc_id").agg(
        F.count("*").alias("n_bench_matches"),
        F.max("n_shared").alias("max_shared"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination (Bloom 1970; the GPT-3-style scalable
# benchmark-overlap pass): instead of joining corpus shingles against the
# benchmark shingle set (text_contamination's exact semi-join — a corpus
# shuffle at 100 TB), build a CONSTANT-SIZE bit array over the benchmark
# shingles and probe it row-locally. Build = one map-side-combinable
# bit_or aggregation into <= M/W filter words (a mergeable sketch:
# per-partition filters OR together); probe = K broadcast word lookups +
# bit tests per shingle — the corpus never shuffles until the final
# doc-keyed count (map-side combined). The exact arm rides along here
# only to account false positives; a production pass ships the filter
# words alone.
#
# Exactness: the K=3 probe positions come from Kirsch-Mitzenmacher
# double hashing over the portable 60-bit md5 shingle hash — pure int64
# arithmetic (%, DIV, <<, &) both engines compute bit-identically, so
# even the false positives match the oracle exactly. W=32-bit words keep
# every shift amount < 32 (no BIGINT shift overflow in either engine).
# ---------------------------------------------------------------------------
_BLOOM_M = 16384  # filter bits — sized so sf0.01 exercises real false
#                   positives (12 FP docs / 962-vs-906 shingle hits;
#                   65536 bits drove FPs to ~0 and hid the trade-off)
_BLOOM_W = 32  # bits per filter word -> <= 512 words broadcast
_BLOOM_K = 3  # probe positions per shingle


def _bloom_pos_sql(i: int) -> str:
    return f"((c.h1 + {i} * c.h2) % {_BLOOM_M})"


@query(
    "text_bloom_contamination",
    oracle=f"""
    WITH sg AS ({_SHINGLE_SQL}),
    feat AS (
      SELECT DISTINCT doc_id, CAST(CONCAT('0x', SUBSTR(MD5(g), 1, 15)) AS BIGINT) AS sh
      FROM (SELECT doc_id, UNNEST(sg) AS g FROM sg)
    ),
    bench_sh AS (SELECT DISTINCT sh FROM feat WHERE {_BENCH_PRED}),
    bpos AS (
      SELECT ((sh % {_BLOOM_M}) + i.i * (1 + (sh // {_BLOOM_M}) % {_BLOOM_M - 1}))
             % {_BLOOM_M} AS pos
      FROM bench_sh CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS i) i
    ),
    words AS (
      SELECT pos // {_BLOOM_W} AS word_idx,
             BIT_OR(CAST(1 AS BIGINT) << CAST(pos % {_BLOOM_W} AS INT)) AS bits
      FROM bpos GROUP BY pos // {_BLOOM_W}
    ),
    corpus AS (
      SELECT doc_id, sh, sh % {_BLOOM_M} AS h1,
             1 + (sh // {_BLOOM_M}) % {_BLOOM_M - 1} AS h2
      FROM feat WHERE NOT ({_BENCH_PRED})
    ),
    hits AS (
      SELECT c.doc_id,
             ((COALESCE(w0.bits, 0)
               & (CAST(1 AS BIGINT) << CAST({_bloom_pos_sql(0)} % {_BLOOM_W} AS INT))) <> 0
              AND (COALESCE(w1.bits, 0)
               & (CAST(1 AS BIGINT) << CAST({_bloom_pos_sql(1)} % {_BLOOM_W} AS INT))) <> 0
              AND (COALESCE(w2.bits, 0)
               & (CAST(1 AS BIGINT) << CAST({_bloom_pos_sql(2)} % {_BLOOM_W} AS INT))) <> 0
             ) AS bloom_hit,
             (b.sh IS NOT NULL) AS exact_hit
      FROM corpus c
      LEFT JOIN words w0 ON w0.word_idx = {_bloom_pos_sql(0)} // {_BLOOM_W}
      LEFT JOIN words w1 ON w1.word_idx = {_bloom_pos_sql(1)} // {_BLOOM_W}
      LEFT JOIN words w2 ON w2.word_idx = {_bloom_pos_sql(2)} // {_BLOOM_W}
      LEFT JOIN bench_sh b ON b.sh = c.sh
    ),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_sh,
             SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS n_bloom,
             SUM(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS n_exact
      FROM hits GROUP BY doc_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS docs_scanned,
           CAST(SUM(CASE WHEN n_bloom > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_bloom_flagged,
           CAST(SUM(CASE WHEN n_exact > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_exact_flagged,
           CAST(SUM(CASE WHEN n_bloom > 0 AND n_exact = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_false_positive,
           CAST(SUM(n_bloom) AS BIGINT) AS shingle_bloom_hits,
           CAST(SUM(n_exact) AS BIGINT) AS shingle_exact_hits
    FROM per_doc
    """,
)
def text_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2psql_spark.operators.text import hash_sample, shingle_hash_table

    d = load_table(spark, sf_dir, "documents")
    sh = shingle_hash_table(d)  # DISTINCT (doc_id, sh), portable 60-bit hash
    is_bench = hash_sample(F.col("doc_id"), F.lit(5))
    bench_sh = sh.filter(is_bench).select("sh").distinct()

    m, w = F.lit(_BLOOM_M), F.lit(_BLOOM_W)
    # Kirsch-Mitzenmacher double hashing: integer DIV (not float /) so
    # 60-bit hashes stay exact in both engines.
    h1 = F.col("sh") % m
    h2 = F.lit(1) + F.expr(f"sh DIV {_BLOOM_M}") % (_BLOOM_M - 1)

    # Build: explode the K positions, OR one-hot masks into filter words.
    bpos = bench_sh.select(
        F.explode(F.array(*[(h1 + F.lit(i) * h2) % m for i in range(_BLOOM_K)])).alias("pos")
    )
    words = bpos.groupBy(F.expr(f"pos DIV {_BLOOM_W}").alias("word_idx")).agg(
        F.bit_or(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BLOOM_W} AS INT))")
        ).alias("bits")
    )

    # Probe: per corpus shingle, K broadcast word lookups + bit tests.
    probe = sh.filter(~is_bench).withColumn("h1", h1).withColumn("h2", h2)
    hit_cols = []
    for i in range(_BLOOM_K):
        pos_i = (F.col("h1") + F.lit(i) * F.col("h2")) % m
        probe = probe.withColumn(f"pos{i}", pos_i)
        wtab = F.broadcast(
            words.select(
                F.col("word_idx").alias(f"wj{i}"), F.col("bits").alias(f"bits{i}")
            )
        )
        probe = probe.join(
            wtab, F.expr(f"pos{i} DIV {_BLOOM_W}") == F.col(f"wj{i}"), "left"
        )
        mask_i = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos{i} % {_BLOOM_W} AS INT))")
        hit_cols.append(
            F.coalesce(F.col(f"bits{i}"), F.lit(0).cast("long")).bitwiseAND(mask_i) != 0
        )
    bloom_hit = hit_cols[0] & hit_cols[1] & hit_cols[2]
    exact_hit = F.col("bench_sh_marker").isNotNull()
    probe = probe.join(
        F.broadcast(bench_sh.withColumn("bench_sh_marker", F.lit(1))), "sh", "left"
    )

    per_doc = probe.groupBy("doc_id").agg(
        F.count("*").alias("n_sh"),
        F.sum(bloom_hit.cast("long")).alias("n_bloom"),
        F.sum(exact_hit.cast("long")).alias("n_exact"),
    )
    flagged = F.col("n_bloom") > 0
    return per_doc.agg(
        F.count("*").alias("docs_scanned"),
        F.sum(flagged.cast("long")).alias("docs_bloom_flagged"),
        F.sum((F.col("n_exact") > 0).cast("long")).alias("docs_exact_flagged"),
        F.sum((flagged & (F.col("n_exact") == 0)).cast("long")).alias(
            "docs_false_positive"
        ),
        F.sum("n_bloom").alias("shingle_bloom_hits"),
        F.sum("n_exact").alias("shingle_exact_hits"),
    )


# ---------------------------------------------------------------------------
# Repetition quality signals (the Gopher-style filters: a document whose
# most frequent token/bigram dominates is boilerplate or spam). Token and
# bigram counts are exploded + hash-aggregated — keyed by (doc, gram),
# uniform, map-side combined; no arrays, no interpreted lambdas.
# ---------------------------------------------------------------------------
@query(
    "text_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w
      FROM documents
    ),
    uni AS (
      SELECT doc_id, MAX(c) AS max_uni, SUM(c) AS n_tok
      FROM (SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY doc_id, w)
      GROUP BY doc_id
    ),
    bigrams AS (
      SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(ts), 1)),
             i -> CONCAT_WS(' ', ts[i], ts[i+1]))) AS bg
      FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts FROM documents)
      WHERE LEN(ts) >= 2
    ),
    big AS (
      SELECT doc_id, MAX(c) AS max_big
      FROM (SELECT doc_id, bg, COUNT(*) AS c FROM bigrams GROUP BY doc_id, bg)
      GROUP BY doc_id
    )
    SELECT u.doc_id,
           ROUND(CAST(u.max_uni AS DOUBLE) / u.n_tok, 6) AS top_word_frac,
           ROUND(CAST(b.max_big AS DOUBLE) / (u.n_tok - 1), 6) AS top_bigram_frac,
           (CAST(u.max_uni AS DOUBLE) / u.n_tok > 0.2) AS repetitive
    FROM uni u JOIN big b ON u.doc_id = b.doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w"))
    uni = (
        toks.groupBy("doc_id", "w")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("max_uni"), F.sum("count").alias("n_tok"))
    )
    bg = (
        toks.withColumn("w2", F.lead("w", 1).over(W.partitionBy("doc_id").orderBy("pos")))
        .filter(F.col("w2").isNotNull())
        .select("doc_id", F.concat_ws(" ", "w", "w2").alias("bg"))
    )
    big = (
        bg.groupBy("doc_id", "bg")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("max_big"))
    )
    word_frac = F.col("max_uni").cast("double") / F.col("n_tok")
    return (
        uni.join(big, "doc_id")
        .select(
            "doc_id",
            F.round(word_frac, 6).alias("top_word_frac"),
            F.round(F.col("max_big").cast("double") / (F.col("n_tok") - 1), 6).alias(
                "top_bigram_frac"
            ),
            (word_frac > 0.2).alias("repetitive"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus length histogram: the length-distribution summary a pipeline
# inspects before choosing truncation/packing parameters. One partial-
# aggregated groupBy on a derived bucket — map-side combine reduces each
# partition to |buckets| rows regardless of corpus size.
# ---------------------------------------------------------------------------
@query(
    "text_length_histogram",
    oracle="""
    SELECT CAST(FLOOR(LENGTH(text) / 50) * 50 AS BIGINT) AS len_bucket,
           COUNT(*) AS n_docs,
           CAST(MIN(LENGTH(text)) AS INT) AS min_len,
           CAST(MAX(LENGTH(text)) AS INT) AS max_len
    FROM documents
    GROUP BY 1
    """,
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = (F.floor(F.length("text") / 50) * 50).cast("bigint")
    return d.groupBy(bucket.alias("len_bucket")).agg(
        F.count("*").alias("n_docs"),
        F.min(F.length("text")).cast("int").alias("min_len"),
        F.max(F.length("text")).cast("int").alias("max_len"),
    )


# ---------------------------------------------------------------------------
# Sequence packing: assign documents to fixed-token-budget packs (the
# sample-assembly step before training) — operators/text.py::
# pack_sequences. The bucket count scales with corpus token count
# (ceil(total_tokens / 2^20), floor 8), so the packing window's
# parallelism grows with the data instead of capping at a fixed shard
# count; the oracle computes the identical count as a scalar subquery
# with the same integer arithmetic. On the test fixtures total tokens
# are far below 8 * 2^20, so the draw stays md5 % 8 — byte-identical to
# the fixed-bucket output.
# ---------------------------------------------------------------------------
@query(
    "text_pack_sequences",
    oracle="""
    WITH nb AS (
      SELECT CAST(GREATEST(8, (SUM(LEN(STRING_SPLIT(text, ' '))) + 1048575) // 1048576)
                  AS BIGINT) AS n
      FROM documents
    ),
    sized AS (
      SELECT doc_id,
             LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
             CAST(CAST(CONCAT('0x', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % (SELECT n FROM nb) AS BIGINT) AS bucket
      FROM documents
    ),
    packed AS (
      SELECT doc_id, n_tokens, bucket,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY bucket ORDER BY n_tokens DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
      FROM sized
    )
    SELECT doc_id, bucket,
           CAST(tokens_before // 2048 AS BIGINT) AS pack_in_bucket,
           n_tokens
    FROM packed
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2psql_spark.operators.text import pack_sequences

    d = load_table(spark, sf_dir, "documents")
    return pack_sequences(d, capacity=2048, tokens_per_bucket=1_048_576, min_buckets=8)


# ---------------------------------------------------------------------------
# Token-rarity scoring: per-document corpus-frequency statistics — the
# integer-exact core of a unigram-LM quality filter (documents dominated
# by hapax tokens are OCR noise / gibberish; documents with only
# ubiquitous tokens are boilerplate). Execution shape: the df table is
# vocabulary-sized (sublinear in the corpus) — auto-broadcast at
# moderate scale, sort-merge beyond; the token stream is consumed by
# both the df aggregation and the rejoin, costing a second column-pruned
# scan of (doc_id, text) — the deliberate trade against caching the
# exploded token table (an explicit repartition boundary was measured:
# AQE does not dedupe it here and it adds a full token shuffle).
# ---------------------------------------------------------------------------
@query(
    "text_token_rarity",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id, w
      FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
    ),
    dfreq AS (SELECT w, COUNT(*) AS df FROM tok GROUP BY w)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
           CAST(SUM(d.df) AS BIGINT) AS sum_df,
           CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           ROUND(CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS hapax_ratio
    FROM tok t JOIN dfreq d USING (w)
    GROUP BY t.doc_id
    """,
)
def text_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("w")
    )
    dfreq = tok.groupBy("w").agg(F.count("*").alias("df"))
    joined = tok.join(dfreq, "w")
    hapax = F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_distinct_tokens"),
        F.sum("df").alias("sum_df"),
        hapax.alias("n_hapax"),
        F.round(hapax.cast("double") / F.count("*"), 6).alias("hapax_ratio"),
    )


# ---------------------------------------------------------------------------
# Global ordinal assignment: contiguous 0-based export indices over the
# whole corpus (operators/text.py::global_ordinals) — bucket-parallel
# ranks + broadcast offsets, never a single-task global sort.
# ---------------------------------------------------------------------------
@query(
    "text_global_ordinals",
    oracle="""
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY doc_id % 64, doc_id) - 1 AS BIGINT) AS ordinal
    FROM documents
    """,
)
def text_global_ordinals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2psql_spark.operators.text import global_ordinals

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return global_ordinals(d, ["doc_id"], n_buckets=64).select("doc_id", "ordinal")


# ---------------------------------------------------------------------------
# Exact k-per-stratum sampling: fixed quota per group (the per-language
# caps of a corpus mixture), membership decided by md5 order so the draw
# is a pure function of the keys — reproducible across engines, reruns,
# and cluster layouts, unlike rng-state sampling. One window per stratum;
# stratum count bounds the key space, rows per stratum bound the sort.
# ---------------------------------------------------------------------------
@query(
    "text_sample_k_per_stratum",
    oracle="""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= 40
    """,
)
def text_sample_k_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load_table(spark, sf_dir, "documents")
    # TWO-PHASE rank (r8, same shape as operators/similarity.py::
    # batch_topk): a single per-lang window funnels the whole corpus's
    # rows for one language into one task — a straggler at corpus scale
    # when languages are few. Rank locally inside (lang, hash-bucket)
    # first (any global top-40 row is in its bucket's top-40 under the
    # same total order), then rank the <= 64*40 survivors per lang.
    order = [F.md5(F.col("doc_id").cast("string")), F.col("doc_id")]
    wl = W.partitionBy("lang", F.pmod(F.xxhash64("doc_id"), F.lit(64))).orderBy(*order)
    w = W.partitionBy("lang").orderBy(*order)
    return (
        d.select("doc_id", "lang")
        .withColumn("lrn", F.row_number().over(wl))
        .filter(F.col("lrn") <= 40)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 40)
        .select("doc_id", "lang")
    )


# ---------------------------------------------------------------------------
# PII redaction: the compliance pass a training pipeline runs before
# anything else. Deterministic PII (one email + one phone, derived from
# doc_id) is woven into each document so the fixture actually exercises
# the match paths; the oracle re-runs the identical regexes and hashes
# the redacted text — a wrong pattern, missed occurrence, or replacement
# off-by-one diverges the fingerprint. Patterns stay in the common
# Java-regex/RE2 subset so both engines compile them identically.
# ---------------------------------------------------------------------------
_EMAIL_RE = "[A-Za-z0-9._]+@[A-Za-z0-9.]+"
_PHONE_RE = "555-[0-9]{4}"


@query(
    "text_pii_redaction",
    oracle=f"""
    WITH pii AS (
      SELECT doc_id,
             CONCAT('contact u', CAST(doc_id AS VARCHAR), '@mail.example or call 555-',
                    LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' re: ', text) AS raw
      FROM documents
    )
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(raw, '{_EMAIL_RE}')) AS INT) AS n_emails,
           CAST(LEN(regexp_extract_all(raw, '{_PHONE_RE}')) AS INT) AS n_phones,
           MD5(regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_fp
    FROM pii
    """,
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" re: "),
        F.col("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(raw, F.lit(_EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(raw, F.lit(_PHONE_RE), F.lit(0))).alias("n_phones"),
        F.md5(redacted).alias("redacted_fp"),
    )


# ---------------------------------------------------------------------------
# Cross-document duplicated-span detection: per document, the fraction of
# its 3-gram shingles that occur in ANY other document (the exact
# substring-dedup signal of RefinedWeb/Gopher-style pipelines — a high
# dup_frac means the document is mostly boilerplate shared across the
# corpus). Integer-exact; the shingle df table is shingle-vocab sized
# (sublinear in the corpus) and the rejoin is hash-keyed and uniform.
# Both consumers (df build + rejoin) derive from the single doc-keyed
# aggregation, so the Arrow shingle pass executes once.
# ---------------------------------------------------------------------------
@query(
    "text_duplicate_spans",
    oracle=f"""
    WITH shex AS (SELECT doc_id, UNNEST(sg) AS s FROM ({_SHINGLE_SQL})),
    dfreq AS (SELECT s, COUNT(*) AS df FROM shex GROUP BY s)
    SELECT shex.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_shingles,
           ROUND(CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS dup_frac
    FROM shex JOIN dfreq d USING (s)
    GROUP BY shex.doc_id
    """,
)
def text_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2psql_spark.operators.text import shingle_hash_table

    d = load_table(spark, sf_dir, "documents")
    arrs = shingle_hash_table(d).groupBy("doc_id").agg(F.collect_set("sh").alias("arr"))
    shex = arrs.select("doc_id", F.explode("arr").alias("sh"))
    dfreq = shex.groupBy("sh").agg(F.count("*").alias("df"))
    dup = F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
    return (
        shex.join(dfreq, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            dup.alias("n_dup_shingles"),
            F.round(dup.cast("double") / F.count("*"), 6).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Unigram-LM surprisal scoring: mean negative log-likelihood of each
# document under the corpus's own unigram model (the cheap perplexity
# filter of CCNet-style pipelines — gibberish scores high, boilerplate
# scores low). mean_nll = ln(T) - sum(ln tf_w)/n, computed as one
# token-keyed join against the vocabulary-sized term-frequency table plus
# a 1-row broadcast of the corpus total. The token stream is scanned
# twice (tf build + rejoin) — the same deliberate trade as
# text_token_rarity, cheaper than materializing the exploded stream.
# ---------------------------------------------------------------------------
@query(
    "text_unigram_surprisal",
    oracle="""
    WITH toks AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents),
    tf AS (SELECT w, COUNT(*) AS tf FROM toks GROUP BY w),
    tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS t FROM tf)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND((COUNT(*) * LN((SELECT t FROM tot)) - SUM(LN(CAST(tf AS DOUBLE))))
                 / COUNT(*), 6) AS mean_nll
    FROM toks JOIN tf USING (w)
    GROUP BY doc_id
    """,
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
    tf = toks.groupBy("w").agg(F.count("*").alias("tf"))
    tot = tf.agg(F.sum("tf").cast("double").alias("t"))
    per_doc = (
        toks.join(tf, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.log(F.col("tf").cast("double"))).alias("sum_ln_tf"),
        )
    )
    return per_doc.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "n_tokens",
        F.round(
            (F.col("n_tokens") * F.log(F.col("t")) - F.col("sum_ln_tf"))
            / F.col("n_tokens"),
            6,
        ).alias("mean_nll"),
    )


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction: top-3 tokens per document by tf * ln(N/df)
# (the topic-signal columns a curation pipeline adds before mixing).
# The df table aggregates from the (doc, token) tf table — both the df
# build and the rejoin consume the SAME tf aggregation exchange, so the
# token explode runs once; the per-doc top-3 window sorts tf-rows (bounded
# by distinct tokens per doc), never the corpus.
# ---------------------------------------------------------------------------
@query(
    "text_tfidf_keywords",
    oracle="""
    WITH toks AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY doc_id, w),
    dfreq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.w,
             ROUND(tf.tf * LN((SELECT n_docs FROM n) / d.df), 6) AS tfidf
      FROM tf JOIN dfreq d USING (w)
    )
    SELECT doc_id, w AS keyword, CAST(rnk AS INT) AS rnk, tfidf
    FROM (SELECT doc_id, w, tfidf,
                 ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w) AS rnk
          FROM scored)
    WHERE rnk <= 3
    """,
)
def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
    tf = toks.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    n_docs = d.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(dfreq, "w")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "w",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
        )
    )
    win = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "w")
    return (
        scored.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", F.col("w").alias("keyword"), F.col("rnk").cast("int").alias("rnk"), "tfidf")
    )


# ---------------------------------------------------------------------------
# Context-window chunking: split every document into overlapping
# fixed-token windows (64 tokens, stride 48) — the chunking step in
# front of embedding / context-window packing in a training pipeline.
# Row-local array work (split once, slice per chunk, one explode); no
# shuffle at all, so it scales with scan bandwidth. Chunk identity is an
# md5 fingerprint so the result is value-checkable without shipping the
# chunk text.
# ---------------------------------------------------------------------------
_CHUNK_W, _CHUNK_S = 64, 48


@query(
    "text_chunk_windows",
    oracle=f"""
    WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
    s AS (SELECT doc_id, ws,
                 UNNEST(generate_series(0, LEN(ws) - 1, {_CHUNK_S})) AS st
          FROM t)
    SELECT doc_id,
           CAST(st // {_CHUNK_S} AS BIGINT) AS chunk_idx,
           CAST(st AS BIGINT) AS start_token,
           CAST(LEAST({_CHUNK_W}, LEN(ws) - st) AS BIGINT) AS n_chunk_tokens,
           MD5(ARRAY_TO_STRING(ws[st + 1: st + {_CHUNK_W}], ' ')) AS chunk_fp
    FROM s
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    n = F.size(ws)
    starts = F.sequence(F.lit(0), n - 1, F.lit(_CHUNK_S))
    return (
        d.select("doc_id", ws.alias("ws"), F.explode(starts).alias("st"))
        .select(
            "doc_id",
            (F.col("st") / _CHUNK_S).cast("long").alias("chunk_idx"),
            F.col("st").cast("long").alias("start_token"),
            F.least(F.lit(_CHUNK_W), F.size("ws") - F.col("st")).cast("long").alias("n_chunk_tokens"),
            F.md5(F.concat_ws(" ", F.slice("ws", F.col("st") + 1, F.lit(_CHUNK_W)))).alias("chunk_fp"),
        )
    )


# ---------------------------------------------------------------------------
# BM25 relevance scoring for a fixed query-term set — the retrieval
# scorer of a search/RAG pipeline, run corpus-wide. All statistics are
# aggregates the engine already shuffles for (per-doc length, per-term
# document frequency, corpus averages); the per-(doc, term) score join
# touches only docs containing a query term. df and the (N, avgdl)
# scalars are vocabulary-/1-row-sized — broadcast, never shuffled wide.
# ---------------------------------------------------------------------------
_BM25_TERMS = ("join", "scan", "merge")
_BM25_K1, _BM25_B = 1.2, 0.75


@query(
    "text_bm25",
    oracle=f"""
    WITH toks AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl),
    tf AS (SELECT doc_id, w, CAST(COUNT(*) AS DOUBLE) AS tf FROM toks
           WHERE w IN {_BM25_TERMS!r} GROUP BY doc_id, w),
    dfreq AS (SELECT w, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY w)
    SELECT tf.doc_id,
           ROUND(SUM(
             LN(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf * ({_BM25_K1} + 1)
             / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl))
           ), 6) AS bm25
    FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (w) CROSS JOIN stats
    GROUP BY tf.doc_id
    """,
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    docs = d.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    # dl needs NO token explode: per-doc token count == size(split(...)),
    # a pure projection — this removes the corpus-wide doc-keyed shuffle
    # the explode+groupBy shape paid just to count rows it had itself
    # produced (r5 measured: 0.72 s -> 0.61 s steady at sf0.1; the win
    # compounds at scale, where that shuffle is |corpus tokens| rows in,
    # |docs| out). The token explode below then feeds ONLY the tf filter,
    # whose output is query-term-sized.
    dl = docs.select("doc_id", F.size("ws").cast("double").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        docs.select("doc_id", F.explode("ws").alias("w"))
        .filter(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    dfreq = tf.groupBy("w").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(F.lit(1) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = F.col("tf") + _BM25_K1 * (
        1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
    )
    term_score = idf * F.col("tf") * (_BM25_K1 + 1) / denom
    return (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dfreq), "w")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(term_score), 6).alias("bm25"))
    )


# ---------------------------------------------------------------------------
# Domain-mixture sampling weights: given target language proportions for
# the training mix, compute each language's current token share and the
# per-doc sampling weight (target/current) that rebalances the corpus —
# the mixing step (cf. data-mixture tuning in LLM pipelines) between
# filtering and packing. One tiny hash agg (|langs| rows) + a broadcast
# 1-row total; the corpus is scanned once, projection-only (token count
# is size(split(...)), never an explode).
#
# Determinism contract with the oracle: shares and weights divide the
# SAME bigint pair on both engines (IEEE double division is exact-equal
# for equal inputs), the target literal is cast to DOUBLE on the DuckDB
# side (a raw CASE of decimal literals would type DECIMAL and render
# 0.50 vs 0.5), and the token sum is CAST AS BIGINT to retire HUGEINT.
# ---------------------------------------------------------------------------
_MIX_TARGETS = {"en": 0.5, "de": 0.15, "fr": 0.15, "es": 0.1, "zh": 0.1}
_MIX_CASE = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_TARGETS.items())
    + " ELSE 0.0 END"
)


@query(
    "text_mixture_weights",
    oracle=f"""
    WITH per AS (
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM per)
    SELECT lang, n_docs, n_tokens,
           ROUND(n_tokens / tot, 6) AS token_share,
           CAST({_MIX_CASE} AS DOUBLE) AS target_share,
           ROUND(CAST({_MIX_CASE} AS DOUBLE) / (n_tokens / tot), 6) AS weight
    FROM per CROSS JOIN tot
    """,
)
def text_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    per = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens"),
    )
    # corpus total via an unpartitioned window over the AGGREGATED frame
    # (|langs| rows, one task) — not a second corpus scan: a separate
    # total agg + crossJoin re-reads documents per consumer
    tot = F.sum("n_tokens").over(Window.partitionBy())
    target = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in _MIX_TARGETS.items()],
        F.lit(0.0),
    )
    raw_share = F.col("n_tokens") / tot
    return per.select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(raw_share, 6).alias("token_share"),
        target.alias("target_share"),
        F.round(target / raw_share, 6).alias("weight"),
    )


# ---------------------------------------------------------------------------
# Budget-capped deterministic draw — the MATERIALIZATION step of the
# mixture plan: text_mixture_weights decides how much of each domain to
# take; this emits WHICH documents, reproducibly, under a per-language
# token budget. Draw order is md5(doc_id) (hash_sample's discipline: a
# pure function of the key — stable across engines, reruns, partition
# layouts, and corpus growth), and the exact running token sum uses the
# two-phase hex-prefix decomposition of
# operators/text.py::budget_capped_sample — one window per
# (lang, first-hex-char) range bucket + a 16-row broadcast offset table,
# NO per-language total-order window (the w5-class funnel this shape
# exists to avoid). Output is budget-bounded (~budget/avg_tokens rows
# per language) at ANY corpus size.
# ---------------------------------------------------------------------------
_BUDGET_TOKENS = 2000


@query(
    "text_budget_sample",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
             MD5(CAST(doc_id AS VARCHAR)) AS dk
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY dk, doc_id) AS cum
      FROM t
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum AS BIGINT) AS cum_tokens
    FROM c WHERE cum <= {_BUDGET_TOKENS}
    """,
)
def text_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2psql_spark.operators.text import budget_capped_sample, token_count

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count(F.col("text")).alias("n_tokens")
    )
    out = budget_capped_sample(
        d, "lang", "n_tokens", "doc_id", _BUDGET_TOKENS, out_col="cum_tokens"
    )
    return out.select(
        "doc_id", "lang", F.col("n_tokens").cast("bigint").alias("n_tokens"), "cum_tokens"
    )


# ---------------------------------------------------------------------------
# Containment (subset-duplicate) pairs: |A∩B|/|A| >= 0.8 over 3-gram
# shingles — catches a document embedded verbatim in a longer one, which
# Jaccard structurally misses (the union washes the overlap out). The
# oracle is the direct all-ordered-pairs statement with the lossless
# |B| >= t|A| prune; the engine runs the asymmetric T-overlap prefix
# join (operators/dedup.py::containment_pairs).
# ---------------------------------------------------------------------------
@query(
    "dedup_containment",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(LEN(LIST_INTERSECT(a.sg, b.sg)) AS DOUBLE) / LEN(a.sg), 6)
             AS containment
    FROM sh a JOIN sh b
      ON a.doc_id != b.doc_id
         AND LEN(b.sg) * 5 >= 4 * LEN(a.sg)
    WHERE LEN(LIST_INTERSECT(a.sg, b.sg)) * 5 >= 4 * LEN(a.sg)
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2psql_spark.operators.dedup import containment_pairs
    from mysql2psql_spark.operators.text import shingle_hash_table

    d = load_table(spark, sf_dir, "documents")
    return containment_pairs(shingle_hash_table(d), threshold=0.8)


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis): draw the
# top-k documents by key = ln(u)/w with u a deterministic md5 uniform
# and w the token count — heavier documents win proportionally more
# often, membership is a pure function of the keys (reproducible across
# engines, reruns, and cluster layouts), and the global top-k is a
# TakeOrderedAndProject (per-partition heads -> driver merge), never a
# full sort. Keys are ROUNDed to 6dp before ranking with doc_id as the
# tiebreak, so the two engines' ln/division ulps cannot reorder the
# cutoff; u = (h+1)/2^32 keeps ln away from -inf.
# ---------------------------------------------------------------------------
@query(
    "text_weighted_sample",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, lang,
             LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
             ROUND(LN((CAST(CONCAT('0x', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
                      / 4294967296.0)
                   / LEN(STRING_SPLIT(text, ' ')), 6) AS sample_key
      FROM documents
    )
    SELECT doc_id, lang, n_tokens, sample_key
    FROM keyed
    ORDER BY sample_key DESC, doc_id
    LIMIT 50
    """,
)
def text_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
    w = F.size(F.split(F.col("text"), " "))
    key = F.round(F.log((h + 1) / F.lit(4294967296.0)) / w, 6)
    return (
        d.select("doc_id", "lang", w.alias("n_tokens"), key.alias("sample_key"))
        .orderBy(F.col("sample_key").desc(), "doc_id")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# CCNet-style quality terciles: per-language NTILE(3) over a quality
# ordering (longer docs first, doc_id tie-break) — the head/middle/tail
# binning used to stratify training corpora by quality before sampling.
# NTILE runs per-lang, so each window partition is one language's docs;
# the shuffle is a lang-hash exchange and the sort is per-partition. Both
# engines implement ANSI NTILE with identical tie handling under a total
# order, so the bucket edges cannot diverge.
# ---------------------------------------------------------------------------
@query(
    "text_quality_buckets",
    oracle="""
    SELECT doc_id, lang,
           CASE NTILE(3) OVER (PARTITION BY lang ORDER BY LENGTH(text) DESC, doc_id)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS quality_bucket
    FROM documents
    """,
)
def text_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale caveat (deliberate): exact NTILE needs every row's global
    # rank within its language — an inherent total-order computation, so
    # the per-lang window partition carries that language's whole corpus
    # through one task (unlike the top-k windows, which two-phase; rank
    # 41 can be discarded early, a tertile boundary cannot). The corpus-
    # scale variant of this gate is approx thresholds (percentile_approx
    # on the length distribution, then a row-local CASE) — kept exact
    # here because the driver differential hashes every assignment.
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.length("text").desc(), F.col("doc_id"))
    tile = F.ntile(3).over(w)
    return d.select(
        "doc_id",
        "lang",
        F.when(tile == 1, "head").when(tile == 2, "middle").otherwise("tail").alias(
            "quality_bucket"
        ),
    )


# ---------------------------------------------------------------------------
# Tokenizer vocabulary coverage: build the top-500 vocabulary by corpus
# frequency (token tie-break), then measure per-language OOV rate — the
# QA gate run before committing a tokenizer to a training mix. ONE
# explode feeds a (lang, token) aggregate; the global vocabulary re-
# aggregates THAT |lang x distinct-token| frame (never the token stream
# again), and coverage is an anti-join of the same aggregate against the
# broadcast 500-row vocabulary. At 100 TB: one token-stream shuffle, then
# everything is distinct-token-sized.
# ---------------------------------------------------------------------------
@query(
    "text_vocab_coverage",
    oracle="""
    WITH tok AS (
      SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
    ),
    lt AS (SELECT lang, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
    tot AS (SELECT token, SUM(cnt) AS c FROM lt GROUP BY 1),
    vocab AS (SELECT token FROM tot ORDER BY c DESC, token LIMIT 500)
    SELECT lang,
           CAST(SUM(cnt) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN token IN (SELECT token FROM vocab)
                         THEN 0 ELSE cnt END) AS BIGINT) AS oov_tokens,
           CAST(ROUND(
             CAST(SUM(CASE WHEN token IN (SELECT token FROM vocab)
                           THEN 0 ELSE cnt END) AS DOUBLE)
             / CAST(SUM(cnt) AS DOUBLE), 6) AS DOUBLE) AS oov_rate
    FROM lt
    GROUP BY lang
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2psql_spark.operators.materialize import materialize

    d = load_table(spark, sf_dir, "documents")
    # three consumers (vocab, coverage, totals) — materialize so the
    # token explode + aggregate runs once, not once per subtree
    lt = materialize(
        d.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").alias("cnt"))
    )
    vocab = (
        lt.groupBy("token")
        .agg(F.sum("cnt").alias("c"))
        .orderBy(F.col("c").desc(), "token")
        .limit(500)
        .select("token")
    )
    in_vocab = lt.join(F.broadcast(vocab), "token", "left_semi").groupBy("lang").agg(
        F.sum("cnt").alias("known")
    )
    totals = lt.groupBy("lang").agg(F.sum("cnt").alias("total_tokens"))
    return (
        totals.join(in_vocab, "lang", "left_outer")
        .select(
            "lang",
            "total_tokens",
            (F.col("total_tokens") - F.coalesce(F.col("known"), F.lit(0))).alias("oov_tokens"),
            F.round(
                (F.col("total_tokens") - F.coalesce(F.col("known"), F.lit(0))).cast("double")
                / F.col("total_tokens").cast("double"),
                6,
            )
            .cast("double")
            .alias("oov_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-source duplication matrix: for every source pair, the number of
# document pairs sharing a leading-span fingerprint (md5 of the first 100
# chars — the cheap head-dup detector; full-content md5 is degenerate on
# this fixture). This is the "who copies from whom" audit that decides
# which sources to down-weight before mixing. The self-join runs on the
# 16-byte fingerprint key, so block sizes are duplicate-group-sized —
# corpus-size-independent, same argument as the exact-dedup hash join.
# ---------------------------------------------------------------------------
@query(
    "dedup_source_matrix",
    oracle="""
    WITH f AS (
      SELECT doc_id, source, MD5(SUBSTR(text, 1, 100)) AS fp FROM documents
    )
    SELECT LEAST(a.source, b.source) AS source_a,
           GREATEST(a.source, b.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
    FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5(F.substring("text", 1, 100)).alias("fp")
    )
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.least("a.source", "b.source").alias("source_a"),
            F.greatest("a.source", "b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_dup_pairs"))
    )


# ---------------------------------------------------------------------------
# Corpus-level n-gram table: top-200 bigrams by occurrence count with
# document frequency — the count table an n-gram LM / tokenizer-merge
# step builds. Bigram construction is ROW-LOCAL (zip of the token array
# with its own tail — no per-doc window, no pre-shuffle), then one
# uniform hash aggregate on the gram key and a TakeOrderedAndProject
# top-k; at 100 TB the only shuffle is the (gram)-keyed combine.
# ---------------------------------------------------------------------------
@query(
    "text_bigram_topk",
    oracle="""
    WITH bigrams AS (
      SELECT doc_id,
             UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(ts), 1)),
                    i -> CONCAT_WS(' ', ts[i], ts[i+1]))) AS bg
      FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts FROM documents)
      WHERE LEN(ts) >= 2
    )
    SELECT bg AS bigram,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM bigrams
    GROUP BY bg
    ORDER BY n_occurrences DESC, bigram
    LIMIT 200
    """,
)
def text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ts = F.split("text", " ")
    sz = F.size(ts)
    bigrams = F.zip_with(
        F.slice(ts, 1, sz - 1),
        F.slice(ts, 2, sz - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        d.filter(sz >= 2)
        .select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy(F.col("bg").alias("bigram"))
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.col("n_occurrences").desc(), "bigram")
        .limit(200)
    )


# ---------------------------------------------------------------------------
# Span-level dedup REMOVAL (the transform, not just the signal that
# text_duplicate_spans reports): chunk each document into fixed 8-token
# spans, drop every span whose exact text occurs in >= 2 documents'
# chunking, and reassemble the survivors in order — the
# RefinedWeb/Llama-style boilerplate scrub. One explode + one span-keyed
# df aggregate + a hash-keyed rejoin; reassembly is a per-doc sorted
# array fold, never a global sort. Cleaned text is emitted as md5 so the
# row stays narrow.
# ---------------------------------------------------------------------------
@query(
    "text_remove_dup_spans",
    oracle="""
    WITH sp AS (
      SELECT doc_id, s.i AS i, s.span AS span
      FROM (
        SELECT doc_id,
               UNNEST(LIST_TRANSFORM(
                 RANGE(1, CAST(CEIL(LEN(ts) / 8.0) AS BIGINT) + 1),
                 i -> STRUCT_PACK(i := i,
                        span := ARRAY_TO_STRING(
                          LIST_SLICE(ts, (i-1)*8 + 1, (i-1)*8 + 8), ' ')))) AS s
        FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts FROM documents)
      )
    ),
    df AS (SELECT span, COUNT(DISTINCT doc_id) AS ndocs FROM sp GROUP BY span)
    SELECT sp.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN df.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           MD5(COALESCE(STRING_AGG(CASE WHEN df.ndocs < 2 THEN sp.span END,
                                   ' ' ORDER BY sp.i), '')) AS clean_fp
    FROM sp JOIN df USING (span)
    GROUP BY sp.doc_id
    """,
)
def text_remove_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sp = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, int(ceil(size(split(text, ' ')) / 8.0))), "
                "i -> struct(i as i, "
                "array_join(slice(split(text, ' '), (i-1)*8 + 1, 8), ' ') as span))"
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.i").alias("i"), F.col("s.span").alias("span"))
    df_tab = sp.groupBy("span").agg(F.countDistinct("doc_id").alias("ndocs"))
    joined = sp.join(df_tab, "span")
    kept = F.filter(
        F.array_sort(F.collect_list(F.struct("i", "span", "ndocs"))),
        lambda s: s["ndocs"] < 2,
    )
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0)).alias("n_removed"),
        F.md5(F.array_join(F.transform(kept, lambda s: s["span"]), " ")).alias("clean_fp"),
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split assignment — the md5-keyed draw
# every pipeline runs before training, with per-split counts audited per
# language. Row-local label assignment (no shuffle) + one tiny
# (lang x split) aggregate; the same draw on any engine or cluster
# assigns every document identically (seedless md5 on the stable key).
# ---------------------------------------------------------------------------
@query(
    "text_split_assign",
    oracle="""
    WITH lab AS (
      SELECT lang,
             CASE WHEN CAST(CONCAT('0x', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 100 < 80 THEN 'train'
                  WHEN CAST(CONCAT('0x', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM lab GROUP BY lang, split
    """,
)
def text_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    draw = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    split = (
        F.when(draw < 80, "train").when(draw < 90, "val").otherwise("test")
    )
    return d.groupBy("lang", split.alias("split")).agg(F.count("*").alias("n_docs"))


# ---------------------------------------------------------------------------
# Bigram-LM conditional surprisal: per-document mean -ln P(w_i | w_{i-1})
# with add-one smoothing — the KenLM-style perplexity-filter proxy one
# step up from text_unigram_surprisal (documents scoring far above the
# corpus mean are gibberish/OCR noise; far below are boilerplate). The
# model and the scorer share one corpus: context counts c1(prev), bigram
# counts c2(prev,cur), vocabulary size V, and per-position
#   nll_i = ln(c1(prev) + V) - ln(c2(prev,cur) + 1).
# Execution shape: bigrams are built row-locally (zip_with over adjacent
# slices — no window, no per-doc sort), counts are uniform hash aggs on
# the gram keys, the scorer is a keyed rejoin of the same streams, and V
# rides along as a broadcast single-row crossJoin. At 100 TB every
# shuffle is a uniform token/gram key; nothing is quadratic.
# ---------------------------------------------------------------------------
@query(
    "text_bigram_surprisal",
    oracle="""
    WITH tok AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents),
    c1 AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM c1),
    bg AS (
      SELECT doc_id, s.prev AS prev, s.cur AS cur
      FROM (
        SELECT doc_id,
               UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(ts), 1)),
                      i -> STRUCT_PACK(prev := ts[i], cur := ts[i+1]))) AS s
        FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts FROM documents)
        WHERE LEN(ts) >= 2
      )
    ),
    c2 AS (SELECT prev, cur, COUNT(*) AS c2 FROM bg GROUP BY prev, cur)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(SUM(LN(c1.c + (SELECT v FROM v)) - LN(c2.c2 + 1.0)) / COUNT(*), 6)
             AS mean_nll
    FROM bg JOIN c2 USING (prev, cur) JOIN c1 ON bg.prev = c1.w
    GROUP BY doc_id
    """,
)
def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ts = F.split("text", " ")
    sz = F.size(ts)
    toks = d.select("doc_id", F.explode(ts).alias("w"))
    c1 = toks.groupBy("w").agg(F.count("*").alias("c"))
    v = c1.agg(F.count("*").cast("double").alias("v"))
    pairs = F.arrays_zip(
        F.slice(ts, 1, sz - 1).alias("prev"), F.slice(ts, 2, sz - 1).alias("cur")
    )
    bg = (
        d.filter(sz >= 2)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))
    )
    c2 = bg.groupBy("prev", "cur").agg(F.count("*").alias("c2"))
    scored = (
        bg.join(c2, ["prev", "cur"])
        .join(c1.withColumnRenamed("w", "prev"), "prev")
        .crossJoin(F.broadcast(v))
    )
    nll = F.log(F.col("c").cast("double") + F.col("v")) - F.log(
        F.col("c2").cast("double") + F.lit(1.0)
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.sum(nll) / F.count("*"), 6).alias("mean_nll"),
    )


# ---------------------------------------------------------------------------
# BPE merge induction (first training step): the highest-frequency
# adjacent symbol pairs over the corpus, counted the way Sennrich BPE
# training does — over the WORD-FREQUENCY table, not the raw token
# stream. That is the scale trick: the char-pair explode runs over the
# vocabulary (sublinear in the corpus) with each pair weighted by the
# word's corpus frequency, so a 100 TB corpus costs one token-keyed
# count plus vocabulary-sized work. Top-20 merges with (pair) tiebreak;
# iterating this step (merge, re-split, recount) is BPE training proper.
# ---------------------------------------------------------------------------
@query(
    "text_bpe_merge_step",
    oracle="""
    WITH w AS (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents),
    wc AS (SELECT word, COUNT(*) AS freq FROM w WHERE LEN(word) >= 2 GROUP BY word),
    pairs AS (
      SELECT SUBSTR(word, i, 1) AS left_sym, SUBSTR(word, i + 1, 1) AS right_sym, freq
      FROM wc, UNNEST(RANGE(1, LEN(word))) AS t(i)
    )
    SELECT left_sym, right_sym, CAST(SUM(freq) AS BIGINT) AS pair_count
    FROM pairs
    GROUP BY left_sym, right_sym
    ORDER BY pair_count DESC, left_sym, right_sym
    LIMIT 20
    """,
)
def text_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split("text", " ")).alias("word"))
    wc = (
        words.filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    pairs = wc.select(
        F.posexplode(F.sequence(F.lit(1), F.length("word") - 1)).alias("_", "i"),
        "word",
        "freq",
    ).select(
        F.substring(F.col("word"), F.col("i"), F.lit(1)).alias("left_sym"),
        F.substring(F.col("word"), F.col("i") + 1, F.lit(1)).alias("right_sym"),
        "freq",
    )
    return (
        pairs.groupBy("left_sym", "right_sym")
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "left_sym", "right_sym")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Corpus-scale stratification: the scale-safe twin of text_quality_buckets.
# That query's exact NTILE funnels each language's whole corpus through one
# window task (documented caveat at text_quality_buckets); this one never
# ranks — per-language cut points come from ONE percentile_approx
# aggregation (mergeable sketch, map-side combined), the |langs|-row cut
# table broadcasts, and each row's stratum is a row-local comparison
# (operators/text.py::approx_strata). The oracle exploits that the sketch
# is EXACT below its accuracy budget (group sizes here << 10,000): Spark's
# exact-case quantile is the value at 1-based rank ceil(p*n), probed
# across group sizes 5..218 before committing; DuckDB reproduces it with
# ROW_NUMBER. Strata are monotone in score by construction (same broadcast
# cuts for every row), NULL scores get NULL strata (ADVICE r8 pin).
# ---------------------------------------------------------------------------
@query(
    "text_approx_strata",
    oracle="""
    WITH s AS (
      SELECT doc_id, lang, CAST(LENGTH(text) AS DOUBLE) AS score FROM documents
    ),
    r AS (
      SELECT lang, score,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM s WHERE score IS NOT NULL
    ),
    cuts AS (
      SELECT lang,
             MAX(CASE WHEN rn = CAST(CEIL(n / 3.0) AS BIGINT) THEN score END) AS c1,
             MAX(CASE WHEN rn = CAST(CEIL(2.0 * n / 3.0) AS BIGINT) THEN score END) AS c2
      FROM r GROUP BY lang
    )
    SELECT s.doc_id, s.lang,
           CASE WHEN s.score IS NULL THEN NULL
                ELSE CAST(1 + (CASE WHEN s.score > c.c1 THEN 1 ELSE 0 END)
                            + (CASE WHEN s.score > c.c2 THEN 1 ELSE 0 END) AS INT)
           END AS stratum
    FROM s LEFT JOIN cuts c USING (lang)
    """,
)
def text_approx_strata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2psql_spark.operators.text import approx_strata

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.length("text").cast("double").alias("score")
    )
    out = approx_strata(d, "lang", "score", n_strata=3, accuracy=10_000)
    return out.select("doc_id", "lang", "stratum")


# ---------------------------------------------------------------------------
# DSIR-style importance weights (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling"): score every document by the
# mean per-token log-ratio of a TARGET unigram LM (here the lang='en'
# slice) over the RAW-corpus unigram LM, both Laplace-smoothed over the
# shared corpus vocabulary. Docs whose token mix looks target-like score
# high; importance resampling then keeps docs proportionally to exp(w).
#
# Scale shape: one vocabulary-sized hash-agg builds BOTH LMs in a single
# pass (conditional count for the target slice), the scoring join is
# token-keyed (map-side partial aggs on both sides), and the three corpus
# scalars (token totals + vocab size) ride a 1-row broadcast — the mean
# decomposes as (sum ln(tft+1) - sum ln(tfc+1))/n + ln(Tc+V) - ln(Tt+V),
# so no per-token arithmetic ever touches a scalar subquery. The token
# stream is scanned twice (LM build + rejoin) — the same deliberate trade
# as text_unigram_surprisal: a pruned re-scan beats materializing the
# exploded stream at corpus scale.
# ---------------------------------------------------------------------------
@query(
    "text_importance_weights",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
    ),
    tf AS (
      SELECT w,
             COUNT(*) AS tfc,
             COUNT(*) FILTER (WHERE lang = 'en') AS tft
      FROM toks GROUP BY w
    ),
    scal AS (
      SELECT CAST(SUM(tfc) AS DOUBLE) AS tc,
             CAST(SUM(tft) AS DOUBLE) AS tt,
             CAST(COUNT(*) AS DOUBLE) AS v
      FROM tf
    ),
    per AS (
      SELECT t.doc_id, t.lang,
             COUNT(*) AS n_tokens,
             SUM(LN(CAST(tf.tft + 1 AS DOUBLE))) AS slt,
             SUM(LN(CAST(tf.tfc + 1 AS DOUBLE))) AS slc
      FROM toks t JOIN tf USING (w)
      GROUP BY t.doc_id, t.lang
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           -- + 0.0 normalizes IEEE -0.0 (DuckDB ROUND keeps the sign,
           -- Spark's drops it; the driver hashes rendered values)
           ROUND((slt - slc) / n_tokens
                 + LN((SELECT tc + v FROM scal)) - LN((SELECT tt + v FROM scal)),
                 6) + 0.0 AS dsir_logw
    FROM per
    """,
)
def text_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    tf = toks.groupBy("w").agg(
        F.count("*").alias("tfc"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("tft"),
    )
    scal = tf.agg(
        F.sum("tfc").cast("double").alias("tc"),
        F.sum("tft").cast("double").alias("tt"),
        F.count("*").cast("double").alias("v"),
    )
    per = (
        toks.join(tf, "w")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.log(F.col("tft").cast("double") + 1.0)).alias("slt"),
            F.sum(F.log(F.col("tfc").cast("double") + 1.0)).alias("slc"),
        )
    )
    return per.crossJoin(F.broadcast(scal)).select(
        "doc_id",
        "lang",
        "n_tokens",
        (
            F.round(
                (F.col("slt") - F.col("slc")) / F.col("n_tokens")
                + F.log(F.col("tc") + F.col("v"))
                - F.log(F.col("tt") + F.col("v")),
                6,
            )
            + F.lit(0.0)
        ).alias("dsir_logw"),
    )


# ---------------------------------------------------------------------------
# REGISTERED r12 (queued r11): count-min heavy-hitter audit (operators/
# text.py::count_min_sketch + cms_estimate — Cormode & Muthukrishnan
# 2005). Differential runs in tests/test_operators.py::
# test_cms_heavy_hitters_matches_oracle until the @query row lands.
#
# Semantics: a d=4 x w=16 count-min sketch over the corpus tokens (w
# deliberately smaller than the vocabulary so collisions are REAL: 8-11
# of the top-20 tokens read high, up to +9127 at sf0.1), point-queried
# for the exact top-20 tokens -> (token, n_exact, n_est, overestimate).
# The sketch completes the mergeable-summary tier (Bloom membership,
# HLL distinct, percentile sketch, now frequency): a FIXED d x w grid
# built by one map-side-combinable aggregate — the frequency-estimation
# shape for a corpus too large for a vocabulary-scale groupBy — and the
# audit row prices its one-sided error against exact truth at bench
# scale. Estimates are >= exact ALWAYS (collisions only add), which the
# differential and a property test both pin. Exact at all three SFs
# under a vanilla session; output fixed at 20 rows.
# ---------------------------------------------------------------------------
_CMS_D, _CMS_W, _CMS_TOPK = 4, 16, 20

_ORACLE_CMS = f"""
    WITH tok AS (
      SELECT UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents
    ),
    exact AS (
      SELECT word, COUNT(*) AS n_exact FROM tok GROUP BY word
      ORDER BY n_exact DESC, word LIMIT {_CMS_TOPK}
    ),
    rows_b AS (
      SELECT t.word, r.r,
             CAST(CONCAT('0x', SUBSTR(MD5(CONCAT(CAST(r.r AS VARCHAR), ':', t.word)), 1, 8)) AS BIGINT)
               % {_CMS_W} AS bucket
      FROM tok t CROSS JOIN RANGE(0, {_CMS_D}) r(r)
    ),
    cms AS (
      SELECT r, bucket, COUNT(*) AS cnt FROM rows_b GROUP BY r, bucket
    ),
    probe_b AS (
      SELECT DISTINCT e.word, e.n_exact, rb.r, rb.bucket
      FROM exact e JOIN rows_b rb ON rb.word = e.word
    ),
    est AS (
      -- LEFT join, absent cells count 0 (mirrors cms_estimate: the
      -- sketch stores only touched cells, so an empty probed cell must
      -- contribute 0 to the MIN, not silently drop from it)
      SELECT pb.word, pb.n_exact, MIN(COALESCE(c.cnt, 0)) AS n_est
      FROM probe_b pb
      LEFT JOIN cms c ON c.r = pb.r AND c.bucket = pb.bucket
      GROUP BY pb.word, pb.n_exact
    )
    SELECT word AS token, CAST(n_exact AS BIGINT) AS n_exact,
           CAST(n_est AS BIGINT) AS n_est,
           CAST(n_est - n_exact AS BIGINT) AS overestimate
    FROM est
"""


@query("text_cms_heavy_hitters", oracle=_ORACLE_CMS)
def text_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy-hitter audit — see the block above."""
    from mysql2psql_spark.operators.text import cms_estimate, count_min_sketch

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
    exact = (
        tok.groupBy("word")
        .agg(F.count("*").alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), "word")
        .limit(_CMS_TOPK)
        .select(F.col("word").alias("token"), "n_exact")
    )
    sketch = count_min_sketch(tok, depth=_CMS_D, width=_CMS_W)
    est = cms_estimate(exact, sketch, depth=_CMS_D, width=_CMS_W)
    return exact.join(est, "token").select(
        "token",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.col("n_est").cast("bigint").alias("n_est"),
        (F.col("n_est") - F.col("n_exact")).cast("bigint").alias("overestimate"),
    )


# ---------------------------------------------------------------------------
# REGISTERED r16 (queued r15): profile-based
# language identification (VERDICT r14 #6 — the one standard corpus-prep
# stage still absent; mixture weights and per-language strata assume a
# trusted `lang` column, and THIS operator is what produces one). The
# classic Cavnar-Trenkle (1994) method, chosen over an n-gram LM score
# because it is INTEGER-EXACT end to end: per-language top-40 char
# trigram profiles ranked by (count DESC, gram ASC), per-document
# profiles ranked identically, and the out-of-place distance
# sum(|r_doc - r_lang|, missing -> 40) — no log, no division, so both
# engines agree bit-for-bit. Profiles train on the corpus's own labeled
# `lang` column and the audit classifies the same corpus (the
# label-quality QA a pipeline runs BEFORE trusting `lang` for mixture
# weighting). On the fixture the synthetic text shares one vocabulary
# across labels, so accuracy is near-chance BY CONSTRUCTION — exactness
# is verified on the fixture, classification DIRECTION on planted
# two-language frames (tests/test_operators.py): distinct char
# distributions separate perfectly, and the prediction is invariant to
# which language the profile table lists first.
#
# Scale shape: the gram stream is scanned twice (profile build +
# classification — the surprisal/token_rarity trade: cheaper than
# materializing the exploded stream; an r15 A/B measured persisting the
# doc-profile frame at 6.0 s vs 3.6 s recomputed under the bench count
# protocol — WindowGroupLimit-pruned recompute beats the persist
# encode); the profile table is languages x 40 rows, BROADCAST to the
# scoring join; the doc-profile window partitions by doc_id (state =
# one document's distinct grams); the (doc x lang) grid is a broadcast
# crossJoin, linear in the corpus; the argmin window sees n_langs rows
# per document; the distinct label frame comes straight off the
# documents scan (deriving it from the profiles would re-run the gram
# pipeline a third time — measured as part of the same A/B).
#
# r15 verification record (the queue contract): DuckDB-exact under a
# vanilla session at sf0.001 (500 rows, acc .274), sf0.01 (500, .316),
# sf0.1 (5000, .231) — near-chance accuracy on the fixture BY
# CONSTRUCTION (one shared vocabulary across labels); classification
# direction pinned on planted disjoint-alphabet languages (perfect
# separation + the no-match max-penalty tie-break) and a pure-python
# Cavnar-Trenkle replay over arbitrary corpora with forced rank ties
# (tests). 5x documents replica probe: x1.15 wall at x5 rows (4.05 ->
# 4.66 s warm; profile table constant, gram scans dominate). First
# 7-rep interleaved median 3.686 s at sf0.1 (loadavg 4.7, control
# text_unigram_surprisal at 1.66x its floor in the same reps — loaded
# session); post-restructure warm median 3.57 s with the shared langs
# frame. Plan audit: 4 scans / 3 Generates / zero cartesian products;
# the one BNLJ is the broadcast langs-grid crossJoin (the adjudicated
# single-digit-row broadcast class); every rank filter compiles to
# WindowGroupLimit.
# ---------------------------------------------------------------------------
_LANGID_K = 40

_ORACLE_LANGID = f"""
    WITH g AS (
      SELECT doc_id, lang, SUBSTR(text, CAST(i AS INT), 3) AS gram
      FROM documents,
           LATERAL (SELECT UNNEST(RANGE(1, GREATEST(LENGTH(text) - 1, 1))) AS i)
    ),
    lp AS (
      SELECT lang, gram,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY COUNT(*) DESC, gram
             ) AS INT) AS rank
      FROM g GROUP BY lang, gram
      QUALIFY rank <= {_LANGID_K}
    ),
    dp AS (
      SELECT doc_id, gram,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY COUNT(*) DESC, gram
             ) AS INT) AS r_doc
      FROM g GROUP BY doc_id, gram
      QUALIFY r_doc <= {_LANGID_K}
    ),
    nd AS (SELECT doc_id, COUNT(*) AS n_prof FROM dp GROUP BY doc_id),
    langs AS (SELECT DISTINCT lang FROM documents),
    m AS (
      SELECT dp.doc_id, lp.lang,
             SUM(ABS(dp.r_doc - lp.rank)) AS msum, COUNT(*) AS mcnt
      FROM dp JOIN lp USING (gram) GROUP BY dp.doc_id, lp.lang
    ),
    dist AS (
      SELECT nd.doc_id, langs.lang,
             CAST(COALESCE(m.msum, 0)
                  + (nd.n_prof - COALESCE(m.mcnt, 0)) * {_LANGID_K}
               AS BIGINT) AS oop_distance
      FROM nd CROSS JOIN langs
      LEFT JOIN m ON m.doc_id = nd.doc_id AND m.lang = langs.lang
    ),
    pred AS (
      SELECT doc_id, lang AS lang_pred, oop_distance
      FROM dist
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY oop_distance, lang
      ) = 1
    )
    SELECT d.doc_id, d.lang AS lang_label, p.lang_pred, p.oop_distance
    FROM pred p JOIN documents d USING (doc_id)
"""


@query("text_langid_ngram", oracle=_ORACLE_LANGID)
def text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cavnar-Trenkle char-trigram language identification — see the
    block above. Documents shorter than 3 characters contribute no
    grams and receive no prediction (identical absence in the oracle's
    RANGE guard)."""
    from mysql2psql_spark.operators.text import (
        char_ngram_table,
        langid_classify,
        langid_profiles,
    )

    d = load_table(spark, sf_dir, "documents")
    # gram stream rides the fanned-out scan (r17: the explode fan-out is
    # the corpus-sized CPU; the light consumers below keep the plain scan)
    grams = char_ngram_table(
        load_table(spark, sf_dir, "documents", fanout=True), extra_cols=("lang",)
    )
    profiles = langid_profiles(grams, k=_LANGID_K)
    pred = langid_classify(
        grams.select("doc_id", "gram"),
        profiles,
        k=_LANGID_K,
        # the label universe straight off the documents scan — deriving
        # it from `profiles` would re-run the gram pipeline a third time
        langs=d.select("lang").distinct(),
    )
    return pred.join(d.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        "lang_pred",
        "oop_distance",
    )


# ---------------------------------------------------------------------------
# REGISTERED r16 (queued r15): alpha-exponentiated
# multilingual sampling weights — the standard rebalancing step between
# language identification and batch sampling (the XLM/mBERT family's
# p_l^alpha / sum p_k^alpha resampling, which upweights low-resource
# languages): consumes the SAME (lang, token-count) statistics the
# mixture-weight and strata queries read, completing the langid ->
# weights -> sample chain. alpha is pinned at 0.5 because sqrt is the
# ONE exponent IEEE-754 requires to be correctly rounded — POWER(x, a)
# for general a is not, so a 0.3/0.7 deployment would be engine-
# dependent in the last ULP; at 0.5 both engines compute the identical
# double, and the established micro-integer quantization
# (ROUND(sqrt(n)*1e6) AS BIGINT — the sim_cluster_stats pattern) makes
# every emitted value an exact integer. Normalization totals are
# INTEGER sums of the quantized terms (float summation order never
# matters), and weights ship as numerator/denominator pairs — the
# consumer divides, the engine never does.
#
# Scale shape: one map-side-combined per-language agg over the token
# counts (the only corpus-sized work; output = n_langs rows) + a 1-row
# broadcast total (the bounds-frame class). Trivially 100 TB-safe.
#
# r15 verification record (the queue contract): DuckDB-exact under a
# vanilla session at sf0.001/sf0.01/sf0.1 (5 rows each); the rebalance
# DIRECTION is pinned in tests — alpha=0.5 strictly upweights every
# language below uniform token share and downweights every language
# above it (w_num/w_den vs n_tokens/total cross-multiplied in exact
# integers), and weights sum to exactly w_den. First 7-rep median
# 0.327 s at sf0.1 (loadavg ~5.4) — one agg + one 1-row window, the
# catalog class; replica probing measures nothing beyond the scan (the
# output is n_langs rows at any SF).
# ---------------------------------------------------------------------------
_ORACLE_LANG_WEIGHTS = """
    WITH lt AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    q AS (
      SELECT lang, n_docs, n_tokens,
             CAST(ROUND(SQRT(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
               AS sqrt_tokens_micro
      FROM lt
    )
    SELECT lang, n_docs, n_tokens,
           CAST(SUM(n_tokens) OVER () AS BIGINT) AS total_tokens,
           sqrt_tokens_micro,
           CAST(SUM(sqrt_tokens_micro) OVER () AS BIGINT) AS weight_denom
    FROM q
"""


@query("text_lang_sampling_weights", oracle=_ORACLE_LANG_WEIGHTS)
def text_lang_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """alpha=0.5 exponentiated-share sampling weights per language —
    see the block above. The language weight is
    sqrt_tokens_micro / weight_denom (sqrt(total) cancels in the
    normalization, so the quantized numerator is sqrt(n_tokens), never
    a share)."""
    from pyspark.sql.window import Window as W

    d = load_table(spark, sf_dir, "documents")
    lt = d.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("bigint")
        .alias("n_tokens"),
    )
    q = lt.select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.sqrt(F.col("n_tokens").cast("double")) * 1000000)
        .cast("bigint")
        .alias("sqrt_tokens_micro"),
    )
    w = W.partitionBy()
    return q.select(
        "lang",
        "n_docs",
        "n_tokens",
        F.sum("n_tokens").over(w).cast("bigint").alias("total_tokens"),
        "sqrt_tokens_micro",
        F.sum("sqrt_tokens_micro").over(w).cast("bigint").alias("weight_denom"),
    )


# ---------------------------------------------------------------------------
# QUEUED (r17 registration per the window budget): the langid ->
# sampling-weights COMPOSITION audit (VERDICT r15 #4) — the end-to-end
# corpus-prep chain a production pipeline actually runs: classify the
# corpus with text_langid_ngram's PREDICTED labels, recompute the
# alpha=0.5 exponentiated-share sampling weights over the PREDICTED
# language partition (not the fixture's trusted `lang` column), and
# report predicted-vs-label agreement per language alongside the
# weights. This is the operator-composition proof (each stage's output
# is the next stage's input — the reference's staged-IR shape,
# /root/reference/main.py:54-69) and the QA a pipeline needs before
# trusting an automatic labeler for mixture weighting: a language whose
# n_docs_pred collapses to 0 (or whose n_agree/n_docs_pred is noise)
# gets a weight built on misclassified tokens, and this one frame shows
# exactly that.
#
# Semantics: the label universe (distinct fixture labels) is the spine;
# per language L the frame reports how many docs CARRY label L, how
# many were PREDICTED L, how many of the predictions agree with the
# label, the token mass of the predicted partition, and the alpha=0.5
# quantized weight numerator/denominator over that predicted mass (the
# text_lang_sampling_weights tail verbatim — sqrt is the one exponent
# IEEE-754 requires correctly rounded, ROUND(sqrt*1e6) makes every
# value an exact integer; a language with zero predicted docs has
# n_tokens_pred = 0 -> sqrt_tokens_micro = 0, weight exactly zero).
# Documents shorter than 3 chars receive no prediction and join neither
# predicted-side count (identical absence in both engines).
#
# Scale shape: the langid pipeline's shape verbatim (two gram scans,
# broadcast langs x 40 profile table, WindowGroupLimit-pruned doc
# profiles — the r15 A/B-measured recompute-over-persist layout), plus
# one corpus-sized token-count scan joined to the per-doc predictions
# (doc_id-keyed hash join), one map-side-combined per-language agg
# (output = n_langs rows), and the 1-row total window. Nothing beyond
# the proven langid plan grows with the corpus.
# ---------------------------------------------------------------------------
_ORACLE_LANGID_MIXTURE = f"""
    WITH pred_full AS ({_ORACLE_LANGID}),
    tok AS (
      SELECT doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    pa AS (
      SELECT p.lang_pred AS lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs_pred,
             CAST(SUM(CASE WHEN p.lang_pred = p.lang_label THEN 1 ELSE 0 END)
               AS BIGINT) AS n_agree,
             CAST(SUM(t.n_tokens) AS BIGINT) AS n_tokens_pred
      FROM pred_full p JOIN tok t USING (doc_id)
      GROUP BY p.lang_pred
    ),
    la AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs_label
      FROM documents GROUP BY lang
    ),
    q AS (
      SELECT la.lang,
             la.n_docs_label,
             COALESCE(pa.n_docs_pred, 0) AS n_docs_pred,
             COALESCE(pa.n_agree, 0) AS n_agree,
             COALESCE(pa.n_tokens_pred, 0) AS n_tokens_pred,
             CAST(ROUND(SQRT(CAST(COALESCE(pa.n_tokens_pred, 0) AS DOUBLE))
                        * 1000000) AS BIGINT) AS sqrt_tokens_micro
      FROM la LEFT JOIN pa ON pa.lang = la.lang
    )
    SELECT lang, n_docs_label, n_docs_pred, n_agree, n_tokens_pred,
           sqrt_tokens_micro,
           CAST(SUM(sqrt_tokens_micro) OVER () AS BIGINT) AS weight_denom
    FROM q
"""


@query("text_langid_mixture_audit", oracle=_ORACLE_LANGID_MIXTURE)
def text_langid_mixture_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """langid -> alpha=0.5 sampling weights over PREDICTED labels, with
    per-language label agreement — see the block above."""
    from pyspark.sql.window import Window as W

    from mysql2psql_spark.operators.text import (
        char_ngram_table,
        langid_classify,
        langid_profiles,
    )

    d = load_table(spark, sf_dir, "documents")
    grams = char_ngram_table(
        load_table(spark, sf_dir, "documents", fanout=True), extra_cols=("lang",)
    )
    profiles = langid_profiles(grams, k=_LANGID_K)
    pred = langid_classify(
        grams.select("doc_id", "gram"),
        profiles,
        k=_LANGID_K,
        langs=d.select("lang").distinct(),
    )
    tok = d.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    pa = (
        pred.join(tok, "doc_id")
        .groupBy(F.col("lang_pred").alias("lang"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs_pred"),
            F.sum(
                F.when(F.col("lang_pred") == F.col("lang_label"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_agree"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens_pred"),
        )
    )
    la = d.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs_label")
    )
    q = la.join(pa, "lang", "left").select(
        "lang",
        "n_docs_label",
        F.coalesce("n_docs_pred", F.lit(0)).cast("bigint").alias("n_docs_pred"),
        F.coalesce("n_agree", F.lit(0)).cast("bigint").alias("n_agree"),
        F.coalesce("n_tokens_pred", F.lit(0))
        .cast("bigint")
        .alias("n_tokens_pred"),
        F.round(
            F.sqrt(F.coalesce("n_tokens_pred", F.lit(0)).cast("double"))
            * 1000000
        )
        .cast("bigint")
        .alias("sqrt_tokens_micro"),
    )
    w = W.partitionBy()
    return q.select(
        "lang",
        "n_docs_label",
        "n_docs_pred",
        "n_agree",
        "n_tokens_pred",
        "sqrt_tokens_micro",
        F.sum("sqrt_tokens_micro").over(w).cast("bigint").alias("weight_denom"),
    )


# ---------------------------------------------------------------------------
# QUEUED (r17 registration per the window budget): BPE ENCODING at
# scale (VERDICT r15 #5) — the corpus -> token-ids application of a
# learned merge table, the stage that actually tokenizes a pretraining
# corpus. The surface already had merge INDUCTION (text_bpe_merge_step)
# and token counts; this closes the last standard corpus-prep stage.
# The merge table is the pinned learned artifact (the merges.txt shape
# every production tokenizer ships — induction is offline, application
# is the corpus-sized job), applied IN RANK ORDER with the published
# greedy-leftmost-with-skip semantics: for each rule (a,b), scan the
# word's token sequence left to right, replacing adjacent (a,b) with ab
# and continuing AFTER the merged token.
#
# Exactness across engines rests on a small lemma: within one rule, a
# merged token ab can never re-match that rule (|ab| > |a| and
# |ab| > |b|, so ab equals neither side), hence "repeatedly merge the
# LEFTMOST matching pair until none" produces the same sequence as the
# single greedy scan. Spark implements the greedy scan directly as ONE
# fold per rule (F.aggregate with a (emitted, pending) struct
# accumulator — pure Catalyst expressions, zero Python); the DuckDB
# oracle implements leftmost-until-none as a recursive CTE (one merge
# per step; depth <= max word length + n_rules, words drop out when
# their rule index passes the table). The lemma makes them bit-equal.
#
# Scale shape: tokens are computed over DISTINCT WORDS ONLY (the
# per-word encode cache every production BPE encoder keeps, as a
# vocabulary-sized frame instead of a process cache): the corpus-sized
# work is one word explode + two map-side-combined aggs (word counts;
# distinct doc-word pairs for doc frequencies); the fold chain runs on
# the vocab-sized distinct-word frame; the final per-token roll-ups are
# token-vocabulary-sized. No quadratic anything; 12 chained
# higher-order folds evaluate per distinct word, linear in word length.
# Output is bounded by the emitted token vocabulary.
# ---------------------------------------------------------------------------
_BPE_MERGES = [
    ("t", "h"),
    ("th", "e"),
    ("i", "n"),
    ("e", "r"),
    ("a", "n"),
    ("r", "e"),
    ("o", "n"),
    ("a", "t"),
    ("e", "n"),
    ("o", "r"),
    ("an", "d"),
    ("in", "g"),
]

_BPE_RULE_VALUES = ",".join(
    f"({i + 1},'{pa}','{pb}')" for i, (pa, pb) in enumerate(_BPE_MERGES)
)

_ORACLE_BPE_ENCODE = f"""
    WITH RECURSIVE
    rules(rule_idx, pa, pb) AS (VALUES {_BPE_RULE_VALUES}),
    words AS (
      SELECT doc_id, w AS word
      FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
      WHERE LEN(w) > 0
    ),
    wc AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS n_word_occ
      FROM words GROUP BY word
    ),
    base AS (
      SELECT word, 1 AS rule_idx,
             list_transform(range(1, LEN(word) + 1), i -> word[i]) AS toks
      FROM wc
    ),
    enc AS (
      SELECT word, rule_idx, toks FROM base
      UNION ALL
      SELECT word,
             CASE WHEN p IS NULL THEN rule_idx + 1 ELSE rule_idx END,
             CASE WHEN p IS NULL THEN toks
                  ELSE toks[1:p-1] || [toks[p] || toks[p+1]] || toks[p+2:]
             END
      FROM (
        SELECT e.word, e.rule_idx, e.toks,
               list_filter(range(1, len(e.toks)),
                           i -> e.toks[i] = r.pa AND e.toks[i+1] = r.pb)[1] AS p
        FROM enc e JOIN rules r ON r.rule_idx = e.rule_idx
      )
    ),
    final AS (
      SELECT word, toks FROM enc WHERE rule_idx = {len(_BPE_MERGES) + 1}
    ),
    wtc AS (
      SELECT word, t AS token, CAST(COUNT(*) AS BIGINT) AS n_in_word
      FROM (SELECT word, UNNEST(toks) AS t FROM final)
      GROUP BY word, t
    ),
    occ AS (
      SELECT token,
             CAST(SUM(n_in_word * n_word_occ) AS BIGINT) AS n_occurrences,
             CAST(COUNT(*) AS BIGINT) AS n_words
      FROM wtc JOIN wc USING (word)
      GROUP BY token
    ),
    dw AS (SELECT DISTINCT doc_id, word FROM words),
    docs AS (
      SELECT token, CAST(COUNT(DISTINCT dw.doc_id) AS BIGINT) AS n_docs
      FROM wtc JOIN dw USING (word)
      GROUP BY token
    )
    SELECT occ.token,
           CAST(ROW_NUMBER() OVER (ORDER BY occ.n_occurrences DESC, occ.token)
             AS BIGINT) AS token_id,
           occ.n_occurrences, occ.n_words, docs.n_docs
    FROM occ JOIN docs ON docs.token = occ.token
"""


def _bpe_fold_expr(src: str, pa: str, pb: str) -> str:
    """One rank-order BPE rule as a Catalyst fold over a token array:
    the accumulator carries (emitted tokens, pending token); a pending/
    current pair matching the rule emits the merged token (which, by
    the lemma in the block above, can never re-match this rule), any
    other pair emits pending and carries current."""
    return (
        "aggregate({src}, "
        "struct(cast(array() as array<string>) as out,"
        " cast(null as string) as pend), "
        "(acc, x) -> case "
        " when acc.pend is null then struct(acc.out as out, x as pend) "
        " when acc.pend = '{pa}' and x = '{pb}' then"
        "  struct(acc.out || array('{pa}{pb}') as out,"
        "   cast(null as string) as pend) "
        " else struct(acc.out || array(acc.pend) as out, x as pend) end, "
        "acc -> case when acc.pend is null then acc.out"
        " else acc.out || array(acc.pend) end)"
    ).format(src=src, pa=pa, pb=pb)


@query("text_bpe_encode", oracle=_ORACLE_BPE_ENCODE)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization with a pinned learned BPE merge table — see
    the block above. Per-token output: id (frequency rank), occurrence,
    word and document frequencies."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.length("word") > 0)
    )
    wc = words.groupBy("word").agg(
        F.count("*").cast("bigint").alias("n_word_occ")
    )
    toks_expr = "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
    for pa, pb in _BPE_MERGES:
        toks_expr = _bpe_fold_expr(toks_expr, pa, pb)
    # The encoded frame is MATERIALIZED for three reasons, two standard
    # and one measured this round: (1) it has two consumers (occurrence
    # and doc-frequency roll-ups) — the shared multi-consumer rule,
    # operators/materialize.py; (2) the fold chain is CPU-bound per row,
    # not bytes-bound, so AQE's byte-based coalescing would pack the
    # vocab into one task — the explicit repartition spreads it; (3) the
    # persist is a PLAN barrier: feeding the 12-deep higher-order-
    # function tree directly into a Generate sent the optimizer
    # pathological (explode-over-folds measured 14.7 s of PLAN-time cost
    # on a 31-row frame at sf0.1; 0.43 s against the cached column —
    # the whole query dropped 19.8 -> ~3.7 s).
    from mysql2psql_spark.operators.materialize import materialize

    n_slots = spark.sparkContext.defaultParallelism
    enc = materialize(
        wc.repartition(n_slots, "word").select(
            "word", "n_word_occ", F.expr(toks_expr).alias("toks")
        )
    )
    wtc = (
        enc.select("word", "n_word_occ", F.explode("toks").alias("token"))
        .groupBy("word", "n_word_occ", "token")
        .agg(F.count("*").cast("bigint").alias("n_in_word"))
    )
    occ = wtc.groupBy("token").agg(
        F.sum(F.col("n_in_word") * F.col("n_word_occ"))
        .cast("bigint")
        .alias("n_occurrences"),
        F.count("*").cast("bigint").alias("n_words"),
    )
    dw = words.select("doc_id", "word").distinct()
    docs = (
        wtc.select("word", "token")
        .join(dw, "word")
        .groupBy("token")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
    )
    from pyspark.sql.window import Window as W

    w = W.orderBy(F.col("n_occurrences").desc(), "token")
    return occ.join(docs, "token").select(
        "token",
        F.row_number().over(w).cast("bigint").alias("token_id"),
        "n_occurrences",
        "n_words",
        "n_docs",
    )


# ---------------------------------------------------------------------------
# QUEUED (r17 registration per the window budget): per-language
# tokenizer FERTILITY — the standard multilingual tokenizer QA metric
# (tokens per word; chars per token), computed by composing the pinned
# BPE merge table application (text_bpe_encode's fold chain) with the
# corpus's language partition. This is what decides whether a tokenizer
# is fair across languages before mixture weighting: a language whose
# fertility is 2x pays 2x the sequence-length budget per word, so
# sampling weights computed on raw token counts (text_lang_sampling_
# weights) silently encode tokenizer bias — this frame makes the bias
# measurable. Everything ships as exact INTEGER sums (n_words, n_chars,
# n_tokens per language); the consumer divides (fertility =
# n_tokens/n_words, compression = n_chars/n_tokens), the engine never
# does — the established numerator/denominator discipline.
#
# Scale shape: one word explode into a map-side-combined (lang, word)
# count (the corpus-sized work; output = langs x vocab); the fold chain
# runs ONCE on the distinct-word frame with NO Generate over it (size()
# over the fused folds measured fine in the r16 bisection — only
# explode paid the plan-time pathology, so unlike text_bpe_encode no
# materialize barrier is needed), spread across cores by an explicit
# repartition (CPU-bound, not bytes-bound — AQE would pack one task);
# the fertility roll-up is a vocab-sized broadcast-joinable aggregate.
# ---------------------------------------------------------------------------
_ORACLE_BPE_FERTILITY = f"""
    WITH RECURSIVE
    rules(rule_idx, pa, pb) AS (VALUES {_BPE_RULE_VALUES}),
    words AS (
      SELECT doc_id, lang, w AS word
      FROM (SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS w
            FROM documents)
      WHERE LEN(w) > 0
    ),
    lw AS (
      SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS n_occ
      FROM words GROUP BY lang, word
    ),
    vocab AS (SELECT DISTINCT word FROM lw),
    base AS (
      SELECT word, 1 AS rule_idx,
             list_transform(range(1, LEN(word) + 1), i -> word[i]) AS toks
      FROM vocab
    ),
    enc AS (
      SELECT word, rule_idx, toks FROM base
      UNION ALL
      SELECT word,
             CASE WHEN p IS NULL THEN rule_idx + 1 ELSE rule_idx END,
             CASE WHEN p IS NULL THEN toks
                  ELSE toks[1:p-1] || [toks[p] || toks[p+1]] || toks[p+2:]
             END
      FROM (
        SELECT e.word, e.rule_idx, e.toks,
               list_filter(range(1, len(e.toks)),
                           i -> e.toks[i] = r.pa AND e.toks[i+1] = r.pb)[1] AS p
        FROM enc e JOIN rules r ON r.rule_idx = e.rule_idx
      )
    ),
    wtoks AS (
      SELECT word,
             CAST(len(toks) AS BIGINT) AS n_toks,
             CAST(LEN(word) AS BIGINT) AS n_chars
      FROM enc WHERE rule_idx = {len(_BPE_MERGES) + 1}
    ),
    ld AS (
      SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM words GROUP BY lang
    )
    SELECT lw.lang,
           ld.n_docs,
           CAST(SUM(lw.n_occ) AS BIGINT) AS n_words,
           CAST(SUM(lw.n_occ * wt.n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(lw.n_occ * wt.n_toks) AS BIGINT) AS n_tokens
    FROM lw JOIN wtoks wt USING (word) JOIN ld ON ld.lang = lw.lang
    GROUP BY lw.lang, ld.n_docs
"""


@query("text_bpe_fertility", oracle=_ORACLE_BPE_FERTILITY)
def text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility under the pinned BPE merge
    table — see the block above. Integer sums only; fertility =
    n_tokens/n_words and compression = n_chars/n_tokens are the
    consumer's division."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.col("text"), " ")).alias("word"),
        )
        .filter(F.length("word") > 0)
    )
    lw = words.groupBy("lang", "word").agg(
        F.count("*").cast("bigint").alias("n_occ")
    )
    toks_expr = "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
    for pa, pb in _BPE_MERGES:
        toks_expr = _bpe_fold_expr(toks_expr, pa, pb)
    n_slots = spark.sparkContext.defaultParallelism
    # single consumer and NO Generate over the fold tree (size() over
    # the fused folds measured fine in the r16 bisection — only explode
    # paid the plan-time pathology), so no materialize barrier needed;
    # the repartition spreads the CPU-bound folds across cores
    wtoks = (
        lw.select("word")
        .distinct()
        .repartition(n_slots, "word")
        .select(
            "word",
            F.size(F.expr(toks_expr)).cast("bigint").alias("n_toks"),
            F.length("word").cast("bigint").alias("n_chars"),
        )
    )
    ld = words.groupBy("lang").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs")
    )
    return (
        lw.join(wtoks, "word")
        .groupBy("lang")
        .agg(
            F.sum("n_occ").cast("bigint").alias("n_words"),
            F.sum(F.col("n_occ") * F.col("n_chars"))
            .cast("bigint")
            .alias("n_chars"),
            F.sum(F.col("n_occ") * F.col("n_toks"))
            .cast("bigint")
            .alias("n_tokens"),
        )
        .join(ld, "lang")
        .select("lang", "n_docs", "n_words", "n_chars", "n_tokens")
    )


# ---------------------------------------------------------------------------
# QUEUED (r17 registration per the window budget): BPE merge-table
# LEARNING end to end — the K-step induction that produces the artifact
# text_bpe_encode applies. text_bpe_merge_step showed the FIRST merge's
# candidate table; this runs the actual training loop: at step k, count
# adjacent token pairs over the corpus AS TOKENIZED BY merges 1..k-1
# (frequency-weighted), pick the argmax under the pinned total order
# (count DESC, left ASC, right ASC), apply it, repeat. Output is the
# learned merge table itself — (merge_rank, left_sym, right_sym,
# pair_count) — so the driver hash pins every learned rule AND its
# support count. Step 2+ merges are COMPOSITIONAL (built from step-1
# outputs), which is what makes this learning rather than counting.
#
# Iterative by nature (each step's counts depend on the previous
# step's applied merge — the sim_kmeans_train class): the Spark side is
# a K-step driver loop over a PERSISTED vocab-sized tokenization,
# collecting ONE row per step (the argmax rule — the bounded-collect
# class, k rows total) and applying it with operators/text.py::
# bpe_apply_rule (Column-API fold, injection-safe for arbitrary corpus
# symbols). The DuckDB oracle unrolls K blocks, each one pair-count +
# argmax + a recursive leftmost-merge CTE — the pagerank unrolled-CTE
# precedent, generated programmatically below from the same K.
#
# Scale shape: the ONLY corpus-sized work is the up-front word-count
# agg (map-side combined); every iteration touches the DISTINCT-WORD
# frame only (vocab-sized — the freq weights make it equivalent to
# scanning the corpus), with one pair-count agg (map-side combined,
# key space = adjacent token pairs) and one fold pass per step. K
# bounded 1-row collects. A 100 TB corpus with a 10M-word vocab
# iterates over ~10M rows per step regardless of corpus size.
# ---------------------------------------------------------------------------
_BPE_LEARN_K = 6


def _bpe_learn_blocks(k_steps: int, sfx: str = "", where: str = "") -> tuple[str, str]:
    """The K-block unrolled learning chain as (CTE blocks, rule-table
    select): CTE names carry ``sfx`` so two chains (e.g. the vocab-drift
    corpus halves) can live in ONE WITH RECURSIVE clause; ``where``
    filters the documents feeding the chain."""
    w = f"WHERE {where}" if where else ""
    blocks = [
        f"""
    wc{sfx} AS (
      SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents {w})
      WHERE LEN(w) > 0 GROUP BY w
    ),
    f0{sfx} AS (
      SELECT word, freq,
             list_transform(range(1, LEN(word)+1), i -> word[i]) AS toks
      FROM wc{sfx}
    )"""
    ]
    for k in range(1, k_steps + 1):
        prev = f"f{k-1}{sfx}"
        blocks.append(
            f"""
    p{k}{sfx} AS (
      SELECT toks[i] AS pa, toks[i+1] AS pb, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (SELECT freq, toks, UNNEST(range(1, len(toks))) AS i FROM {prev})
      GROUP BY pa, pb
      QUALIFY ROW_NUMBER() OVER (ORDER BY cnt DESC, pa, pb) = 1
    ),
    e{k}{sfx} AS (
      SELECT word, freq, toks, 0 AS done FROM {prev}
      UNION ALL
      SELECT word, freq,
             CASE WHEN p IS NULL THEN toks
                  ELSE toks[1:p-1] || [toks[p] || toks[p+1]] || toks[p+2:]
             END,
             CASE WHEN p IS NULL THEN 1 ELSE 0 END
      FROM (
        SELECT e.word, e.freq, e.toks,
               list_filter(range(1, len(e.toks)),
                           i -> e.toks[i] = r.pa AND e.toks[i+1] = r.pb)[1] AS p
        FROM e{k}{sfx} e LEFT JOIN p{k}{sfx} r ON TRUE
        WHERE e.done = 0
      )
    ),
    f{k}{sfx} AS (SELECT word, freq, toks FROM e{k}{sfx} WHERE done = 1)"""
    )
    union = "\n    UNION ALL\n".join(
        f"    SELECT CAST({k} AS BIGINT) AS merge_rank, pa AS left_sym,"
        f" pb AS right_sym, cnt AS pair_count FROM p{k}{sfx}"
        for k in range(1, k_steps + 1)
    )
    return ",".join(blocks), union


def _bpe_learn_oracle(k_steps: int) -> str:
    """The K-block unrolled learning oracle (see the block above)."""
    blocks, union = _bpe_learn_blocks(k_steps)
    return "WITH RECURSIVE" + blocks + "\n" + union


_ORACLE_BPE_LEARN = _bpe_learn_oracle(_BPE_LEARN_K)

_BPE_PAIRS_EXPR = (
    "transform(sequence(1, size(toks)-1),"
    " i -> struct(element_at(toks, i) as pa, element_at(toks, i+1) as pb))"
)


def _bpe_learn_merges(
    spark: SparkSession,
    wc: DataFrame,
    k_steps: int = _BPE_LEARN_K,
    parts: int | None = None,
) -> list[tuple[int, str, str, int]]:
    """The K-step learning loop over a (word, freq) frame — see the
    block above. One bounded 1-row collect per step. ``parts`` sizes
    the vocab frame's partitioning: callers pass the corpus byte width
    at 4 MiB per slot, because the per-step work is distinct-word-sized,
    sublinear in the corpus, and corpus-width partitions would make each
    of the K steps a scheduling exercise."""
    from pyspark.storagelevel import StorageLevel

    from mysql2psql_spark.operators.text import bpe_apply_rule

    n_slots = parts or spark.sparkContext.defaultParallelism
    toks = wc.repartition(n_slots, "word").select(
        "word",
        "freq",
        F.expr(
            "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
        ).alias("toks"),
    )
    merges: list[tuple[int, str, str, int]] = []
    persisted = []
    for k in range(1, k_steps + 1):
        # persist: iteration barrier (each step's plan would otherwise
        # nest k folds deep) AND the r16 Generate-over-folds plan
        # pathology barrier for the pair explode below
        toks = toks.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(toks)
        rows = (
            toks.filter(F.size("toks") >= 2)  # sequence(1,0) counts DOWN
            .select("freq", F.explode(F.expr(_BPE_PAIRS_EXPR)).alias("p"))
            .select("freq", "p.pa", "p.pb")
            .groupBy("pa", "pb")
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "pa", "pb")
            .limit(1)
            .collect()  # bounded: exactly one argmax row per step
        )
        if not rows:
            break
        pa, pb, cnt = rows[0]["pa"], rows[0]["pb"], int(rows[0]["cnt"])
        merges.append((k, pa, pb, cnt))
        toks = toks.select(
            "word", "freq", bpe_apply_rule(F.col("toks"), pa, pb).alias("toks")
        )
    for p in persisted:
        p.unpersist(False)
    return merges


def _word_counts(d: DataFrame) -> DataFrame:
    return (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )


@query("text_bpe_learn", oracle=_ORACLE_BPE_LEARN)
def text_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-step BPE merge-table learning — see the block above. Returns
    the learned table (merge_rank, left_sym, right_sym, pair_count);
    fewer than K rows when the corpus exhausts its pairs first."""
    d = load_table(spark, sf_dir, "documents")
    merges = _bpe_learn_merges(
        spark,
        _word_counts(d),
        parts=bytes_width(spark, f"{sf_dir}/documents.parquet", 4 << 20, 1),
    )
    return local_frame(
        spark,
        merges,
        "merge_rank bigint, left_sym string, right_sym string, pair_count bigint",
    )


# ---------------------------------------------------------------------------
# QUEUED (r17 registration per the window budget): the language-ID
# CONFUSION MATRIX — the per-(label, predicted) refinement of
# text_langid_mixture_audit's per-language agreement scalar. The audit
# says HOW MUCH of each language's predicted partition is right; this
# says WHERE the mass goes when it is wrong (which pairs of languages
# the classifier conflates), the diagnostic that decides whether a
# misclassification is benign (mass swaps between two typologically
# close languages with similar token statistics) or poisons the
# mixture (a low-resource language's mass leaking into the dominant
# one). Sparse output: only observed (lang_label, lang_pred) cells,
# with doc and token mass per cell — both exact integers.
#
# Scale shape: the langid pipeline verbatim plus ONE map-side-combined
# (label, pred) agg over the per-doc predictions joined to token
# counts (doc_id-keyed hash join); output is at most n_langs^2 rows.
# ---------------------------------------------------------------------------
_ORACLE_LANGID_CONFUSION = f"""
    WITH pred_full AS ({_ORACLE_LANGID}),
    tok AS (
      SELECT doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT p.lang_label, p.lang_pred,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(t.n_tokens) AS BIGINT) AS n_tokens
    FROM pred_full p JOIN tok t USING (doc_id)
    GROUP BY p.lang_label, p.lang_pred
"""


@query("text_langid_confusion", oracle=_ORACLE_LANGID_CONFUSION)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse language-ID confusion matrix with doc and token mass per
    cell — see the block above."""
    from mysql2psql_spark.operators.text import (
        char_ngram_table,
        langid_classify,
        langid_profiles,
    )

    d = load_table(spark, sf_dir, "documents")
    grams = char_ngram_table(
        load_table(spark, sf_dir, "documents", fanout=True), extra_cols=("lang",)
    )
    profiles = langid_profiles(grams, k=_LANGID_K)
    pred = langid_classify(
        grams.select("doc_id", "gram"),
        profiles,
        k=_LANGID_K,
        langs=d.select("lang").distinct(),
    )
    tok = d.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    return (
        pred.join(tok, "doc_id")
        .groupBy("lang_label", "lang_pred")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# QUEUED (r17 registration per the window budget): BPE VOCABULARY DRIFT
# — the tokenizer-retraining QA: learn the K-step merge table
# INDEPENDENTLY on two deterministic corpus halves (doc_id parity, the
# established split idiom) and diff the learned tables. When the data
# mix shifts, the first divergence shows up exactly here — a merge that
# one half learns and the other does not (status only_a/only_b), or the
# same merge at a different rank/support. A production pipeline runs
# this between the standing tokenizer's training corpus and a candidate
# refresh before deciding to retrain; rankagreement on the fixture's
# homogeneous halves and forced divergence on a planted skewed corpus
# are both pinned in tests.
#
# Output: one row per merge in EITHER table — left_sym, right_sym,
# rank_a, rank_b, pair_count_a, pair_count_b (NULL where absent),
# status in {'both','only_a','only_b'}. Join key (left_sym, right_sym)
# is unique per table: applying rule (a,b) eliminates every a·b
# adjacency, and later merges only concatenate neighbors (they absorb a
# token INTO one of its neighbors, changing its symbol), so the same
# pair can never be re-learned.
#
# Scale shape: two independent learning loops (each the text_bpe_learn
# shape: corpus-sized word-count agg up front, vocab-sized per-step
# work, K bounded 1-row collects); the diff is a <=2K-row python join.
# Oracle: TWO unrolled K-block chains (suffixed CTE names) in one
# WITH RECURSIVE, full-outer-joined on the pair.
# ---------------------------------------------------------------------------
def _bpe_drift_oracle(k_steps: int) -> str:
    blocks_a, union_a = _bpe_learn_blocks(k_steps, "_a", "doc_id % 2 = 0")
    blocks_b, union_b = _bpe_learn_blocks(k_steps, "_b", "doc_id % 2 = 1")
    return (
        "WITH RECURSIVE"
        + blocks_a
        + ","
        + blocks_b
        + f""",
    ta AS (
{union_a}
    ),
    tb AS (
{union_b}
    )
    SELECT COALESCE(a.left_sym, b.left_sym) AS left_sym,
           COALESCE(a.right_sym, b.right_sym) AS right_sym,
           a.merge_rank AS rank_a, b.merge_rank AS rank_b,
           a.pair_count AS pair_count_a, b.pair_count AS pair_count_b,
           CASE WHEN a.left_sym IS NULL THEN 'only_b'
                WHEN b.left_sym IS NULL THEN 'only_a'
                ELSE 'both' END AS status
    FROM ta a FULL OUTER JOIN tb b
      ON a.left_sym = b.left_sym AND a.right_sym = b.right_sym"""
    )


_ORACLE_BPE_DRIFT = _bpe_drift_oracle(_BPE_LEARN_K)


@query("text_bpe_vocab_drift", oracle=_ORACLE_BPE_DRIFT)
def text_bpe_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-table diff between the doc_id-parity corpus halves — see
    the block above."""
    d = load_table(spark, sf_dir, "documents")
    parts = bytes_width(spark, f"{sf_dir}/documents.parquet", 4 << 20, 1)
    # The two half-corpus learners are independent job chains whose
    # per-step cost is driver latency (K bounded argmax collects each),
    # so they run as two concurrent jobs and one learner's step jobs
    # fill the other's idle gaps. Each learner's lineage is its own, so
    # the result does not depend on the overlap.
    def _learn(parity: int) -> list:
        return _bpe_learn_merges(
            spark,
            _word_counts(d.filter(F.col("doc_id") % 2 == parity)),
            parts=parts,
        )

    ma, mb = run_concurrent(
        spark, [("a", lambda: _learn(0)), ("b", lambda: _learn(1))], max_parallel=2
    ).values()
    a = {(pa, pb): (k, c) for k, pa, pb, c in ma}
    b = {(pa, pb): (k, c) for k, pa, pb, c in mb}
    rows = []
    for pair in sorted(set(a) | set(b)):
        ra, rb = a.get(pair), b.get(pair)
        rows.append(
            (
                pair[0],
                pair[1],
                ra[0] if ra else None,
                rb[0] if rb else None,
                ra[1] if ra else None,
                rb[1] if rb else None,
                "both" if ra and rb else ("only_a" if ra else "only_b"),
            )
        )
    return local_frame(
        spark,
        rows,
        "left_sym string, right_sym string, rank_a bigint, rank_b bigint,"
        " pair_count_a bigint, pair_count_b bigint, status string",
    )


# ---------------------------------------------------------------------------
# The streaming language-ID gate's streamed-equals-batch audit row
# (streaming/audit.py::stream_batch_audit): streaming/docs.py::
# langid_counts_foreach_batch classifies the corpus in two doc_id-parity
# micro-batches against profiles trained on it (frozen, broadcast), and
# the compacted (lang_pred, n_docs) summary is compared to the one-shot
# batch classification. Classification is per-document pure given
# frozen profiles, so streamed == batch for any split.
#
# Scale shape: per-trigger cost is one batch-sized gram pipeline against
# the broadcast profile table (langs x 40 rows, seated once per session
# by langid_profile_artifact); partials and the audit join are n_langs
# rows. Streaming state zero.
# ---------------------------------------------------------------------------
_ORACLE_STREAM_LANGID = f"""
    WITH pred AS ({_ORACLE_LANGID}),
    b AS (
      SELECT lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM pred GROUP BY lang_pred
    )
    SELECT CAST(2 AS BIGINT) AS n_triggers,
           CAST(COUNT(*) AS BIGINT) AS stream_rows,
           CAST(COUNT(*) AS BIGINT) AS batch_rows,
           CAST(0 AS BIGINT) AS only_stream,
           CAST(0 AS BIGINT) AS only_batch,
           CAST(0 AS BIGINT) AS value_mismatches
    FROM b
"""


@query("stream_langid_summary", oracle=_ORACLE_STREAM_LANGID)
def stream_langid_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed-equals-batch audit for the foreachBatch language-ID
    gate — see the block above. The gate's tables and the twin are
    released on return."""
    from mysql2psql_spark.operators.materialize import CacheHandle
    from mysql2psql_spark.operators.text import (
        char_ngram_table,
        langid_classify,
        langid_profile_artifact,
    )
    from mysql2psql_spark.streaming.audit import audit_dir, stream_batch_audit
    from mysql2psql_spark.streaming.docs import (
        langid_counts_foreach_batch,
        read_langid_summary,
    )

    # every consumer of d is a gram-classification pipeline, so the
    # whole query rides the fanned-out scan
    d = load_table(spark, sf_dir, "documents", fanout=True)
    profiles, langs = langid_profile_artifact(spark, sf_dir, k=_LANGID_K)

    def twin() -> DataFrame:
        batch = (
            langid_classify(
                char_ngram_table(d).select("doc_id", "gram"),
                profiles,
                k=_LANGID_K,
                langs=langs,
            )
            .groupBy("lang_pred")
            .agg(F.count("*").cast("bigint").alias("n_docs"))
        )
        caches.append(batch)
        return batch

    with CacheHandle() as caches:
        return stream_batch_audit(
            spark,
            "stream_langid_summary",
            audit_dir(spark, "stream_langid", sf_dir),
            d,
            "doc_id",
            make_gate=lambda out_dir, lineage: langid_counts_foreach_batch(
                profiles, langs, out_dir, lineage=lineage, k=_LANGID_K, caches=caches
            ),
            read=lambda out_dir: read_langid_summary(spark, out_dir),
            twin=twin,
            keys=["lang_pred"],
            vals=["n_docs"],
        )


# ---------------------------------------------------------------------------
# QUEUED (r18 registration per the window budget): BPE-AWARE SEQUENCE
# PACKING (VERDICT r16 #3) — the corpus -> training-batches closure.
# text_pack_sequences packs on whitespace-proxy token counts; this packs
# on REAL encoded lengths under the pinned learned merge table
# (_BPE_MERGES — the merges.txt artifact text_bpe_encode applies), the
# exact shard-assignment step a pretraining pipeline runs after
# tokenizer training: per-doc encoded length -> deterministic
# bucket/pack assignment. The staged analogue of the reference's
# IR-checkpoint pipeline (/root/reference/main.py:54-69): tokenize
# (stage artifact) then assemble batches (consumer), here fused into
# one declarative plan.
#
# Scale shape: the corpus-sized work is one word explode + a map-side-
# combined (doc_id, word) count; the 12-rule fold chain runs on the
# DISTINCT-WORD frame only (the per-word encode cache as a vocab-sized
# frame — the text_bpe_fertility idiom, size() over fused folds, no
# Generate, no barrier); per-doc lengths come from a word-keyed join of
# the (doc, word) counts against that vocab-sized length table; pack
# assignment reuses operators/text.py::pack_sized (bucket-sharded
# windows, bucket count scaling with TOTAL ENCODED tokens, no global
# sort). Docs whose every split token is empty keep n_tokens=0 via the
# left join (parity with the proxy pack, which sizes every doc).
# ---------------------------------------------------------------------------
_ORACLE_PACK_BPE = f"""
    WITH RECURSIVE
    rules(rule_idx, pa, pb) AS (VALUES {_BPE_RULE_VALUES}),
    words AS (
      SELECT doc_id, w AS word
      FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
      WHERE LEN(w) > 0
    ),
    dwc AS (
      SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS n_occ
      FROM words GROUP BY doc_id, word
    ),
    base AS (
      SELECT word, 1 AS rule_idx,
             list_transform(range(1, LEN(word) + 1), i -> word[i]) AS toks
      FROM (SELECT DISTINCT word FROM words)
    ),
    enc AS (
      SELECT word, rule_idx, toks FROM base
      UNION ALL
      SELECT word,
             CASE WHEN p IS NULL THEN rule_idx + 1 ELSE rule_idx END,
             CASE WHEN p IS NULL THEN toks
                  ELSE toks[1:p-1] || [toks[p] || toks[p+1]] || toks[p+2:]
             END
      FROM (
        SELECT e.word, e.rule_idx, e.toks,
               list_filter(range(1, len(e.toks)),
                           i -> e.toks[i] = r.pa AND e.toks[i+1] = r.pb)[1] AS p
        FROM enc e JOIN rules r ON r.rule_idx = e.rule_idx
      )
    ),
    wl AS (
      SELECT word, CAST(LEN(toks) AS BIGINT) AS tok_len
      FROM enc WHERE rule_idx = {len(_BPE_MERGES) + 1}
    ),
    sized AS (
      SELECT d.doc_id,
             CAST(COALESCE(SUM(dwc.n_occ * wl.tok_len), 0) AS BIGINT) AS n_tokens
      FROM documents d
      LEFT JOIN dwc ON dwc.doc_id = d.doc_id
      LEFT JOIN wl ON wl.word = dwc.word
      GROUP BY d.doc_id
    ),
    nb AS (
      SELECT CAST(GREATEST(8, (SUM(n_tokens) + 1048575) // 1048576) AS BIGINT) AS n
      FROM sized
    ),
    bucketed AS (
      SELECT doc_id, n_tokens,
             CAST(CAST(CONCAT('0x', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % (SELECT n FROM nb) AS BIGINT) AS bucket
      FROM sized
    ),
    packed AS (
      SELECT doc_id, n_tokens, bucket,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY bucket ORDER BY n_tokens DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
      FROM bucketed
    )
    SELECT doc_id, bucket,
           CAST(tokens_before // 2048 AS BIGINT) AS pack_in_bucket,
           n_tokens
    FROM packed
"""


def _bpe_doc_lengths(spark: SparkSession, d: DataFrame) -> DataFrame:
    """(doc_id, n_tokens): per-document REAL encoded length under the
    pinned merge table — the tokenize half of BPE-aware packing, over
    any documents frame (text_pack_bpe_sequences feeds the corpus;
    text_corpus_build feeds the budget-drawn subset). Vocab-sized
    encode-length table, size() over the fused folds (no Generate —
    the fertility idiom); the repartition spreads the CPU-bound folds
    across cores."""
    words = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.length("word") > 0)
    dwc = words.groupBy("doc_id", "word").agg(
        F.count("*").cast("bigint").alias("n_occ")
    )
    toks_expr = "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
    for pa, pb in _BPE_MERGES:
        toks_expr = _bpe_fold_expr(toks_expr, pa, pb)
    n_slots = spark.sparkContext.defaultParallelism
    wl = (
        words.select("word")
        .distinct()
        .repartition(n_slots, "word")
        .select("word", F.size(F.expr(toks_expr)).cast("bigint").alias("tok_len"))
    )
    doc_tokens = (
        dwc.join(wl, "word")
        .groupBy("doc_id")
        .agg(F.sum(F.col("n_occ") * F.col("tok_len")).cast("bigint").alias("n_tokens"))
    )
    return (
        d.select("doc_id")
        .join(doc_tokens, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
        )
    )


def text_pack_bpe_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing on real learned-BPE encoded lengths — see the
    block above. Same output shape as text_pack_sequences
    (doc_id, bucket, pack_in_bucket, n_tokens), n_tokens now the
    merge-table encoding's length."""
    from mysql2psql_spark.operators.text import pack_sized

    d = load_table(spark, sf_dir, "documents")
    return pack_sized(
        _bpe_doc_lengths(spark, d),
        capacity=2048,
        tokens_per_bucket=1_048_576,
        min_buckets=8,
    )


# ---------------------------------------------------------------------------
# QUEUED (r18 registration per the window budget): EMBEDDING-FREE
# QUALITY SCORING end-to-end (VERDICT r16 #4) — the CCNet/DCLM-style
# per-document quality pipeline as ONE registered query. The surface
# had every signal (length gate, stopword ratio, lexical diversity,
# duplicate-span repetition, unigram-LM surprisal) as separate queries;
# this combines them into a per-document score with a bucket
# assignment, and the sibling below composes the buckets into the
# budget-capped sampler — closing the last corpus-prep stage of a
# production pretraining pipeline (score -> bucket -> sample).
#
# Every signal is micro-quantized (ROUND(ratio * 1e6) AS BIGINT — the
# sqrt_tokens_micro discipline) and the combination uses DETERMINISTIC
# integer weights, so the score is integer-exact across engines:
#   score_micro = 250000 * length_gate        (len>=50 AND tokens>=10)
#               + div_micro div 2             (lexical diversity)
#               + stop_micro * 2              (stopwordy = natural text)
#               - dup_micro div 2             (repetition penalty)
#               - |nll_micro - 3500000| div 4 (mid-surprisal preference:
#                 gibberish scores high-NLL, boilerplate low-NLL; the
#                 3.5 reference is a fixed constant, NOT a corpus stat,
#                 so the score of a document never depends on other
#                 documents except through the corpus tf table)
# Buckets: high >= 450000, mid >= 250000, else low (all three
# non-degenerate at sf0.001/0.01/0.1: 43/220/237, 48/231/221,
# 64/496/4440).
#
# Scale shape: three corpus scans (base signals; shingle repetition;
# token surprisal) — the documented text-composition class; the join
# spine is doc_id-keyed aggregates only, the tf/shingle-df side tables
# are vocabulary-sized, and there is no window over the corpus.
# ---------------------------------------------------------------------------
_QSCORE_CTES = f"""
    toks AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents),
    tf AS (SELECT w, COUNT(*) AS tf FROM toks GROUP BY w),
    tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS t FROM tf),
    srp AS (
      SELECT doc_id,
             CAST(ROUND((COUNT(*) * LN((SELECT t FROM tot))
                         - SUM(LN(CAST(tf AS DOUBLE)))) / COUNT(*) * 1000000)
               AS BIGINT) AS nll_micro
      FROM toks JOIN tf USING (w) GROUP BY doc_id
    ),
    shq AS ({_SHINGLE_SQL}),
    shex AS (SELECT doc_id, UNNEST(sg) AS s FROM shq),
    dfreq AS (SELECT s, COUNT(*) AS df FROM shex GROUP BY s),
    dup AS (
      SELECT shex.doc_id,
             CAST(ROUND(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 1000000.0
                        / COUNT(*)) AS BIGINT) AS dup_micro
      FROM shex JOIN dfreq USING (s) GROUP BY shex.doc_id
    ),
    qbase AS (
      SELECT doc_id, lang,
        CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
        CAST(ROUND(CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                        w -> w IN ({_STOP_SQL}))) AS DOUBLE)
                   / LEN(STRING_SPLIT(text, ' ')) * 1000000) AS BIGINT) AS stop_micro,
        CAST(ROUND(CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE)
                   / LEN(STRING_SPLIT(text, ' ')) * 1000000) AS BIGINT) AS div_micro,
        (LENGTH(text) >= 50 AND LEN(STRING_SPLIT(text, ' ')) >= 10) AS length_gate
      FROM documents
    ),
    scored AS (
      SELECT b.doc_id, b.lang, b.n_tokens, b.stop_micro, b.div_micro,
             CAST(COALESCE(d.dup_micro, 0) AS BIGINT) AS dup_micro,
             s.nll_micro,
             CAST((CASE WHEN b.length_gate THEN 250000 ELSE 0 END)
                  + b.div_micro // 2
                  + b.stop_micro * 2
                  - COALESCE(d.dup_micro, 0) // 2
                  - ABS(s.nll_micro - 3500000) // 4 AS BIGINT) AS score_micro
      FROM qbase b
      LEFT JOIN dup d USING (doc_id)
      JOIN srp s USING (doc_id)
    )
"""

_ORACLE_QUALITY_SCORE = f"""
    WITH {_QSCORE_CTES}
    SELECT doc_id, lang, n_tokens, stop_micro, div_micro, dup_micro,
           nll_micro, score_micro,
           CASE WHEN score_micro >= 450000 THEN 'high'
                WHEN score_micro >= 250000 THEN 'mid'
                ELSE 'low' END AS bucket
    FROM scored
"""


def _quality_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals + combined score — the shared core
    of text_quality_score and text_quality_budget_sample (block above).
    Instantiates the frozen-table scorer (operators/text.py::
    quality_signals_frozen) with side tables trained on the input
    corpus itself — the batch layout; the streaming gate
    (streaming/docs.py::quality_counts_foreach_batch) freezes the same
    tables once and classifies arriving batches against them."""
    from mysql2psql_spark.operators.text import (
        quality_signals_frozen,
        quality_stats_tables,
    )

    d = load_table(spark, sf_dir, "documents")
    tf, tot, dfreq = quality_stats_tables(d)
    return quality_signals_frozen(d, tf, tot, dfreq)


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document combined quality score + bucket — see the block
    above. Every component signal rides along so the driver hash pins
    the whole decomposition, not just the verdict."""
    return _quality_scored(spark, sf_dir)


# ---------------------------------------------------------------------------
# QUEUED (r18 registration per the window budget): the quality scorer
# COMPOSED into the budget draw (VERDICT r16 #4, second half) — the
# sampler consumes the bucket assignment: per-language budget-capped
# deterministic draw (md5(doc_id) order, exact running token sum —
# text_budget_sample's discipline via operators/text.py::
# budget_capped_sample's two-phase hex-prefix shape) restricted to
# bucket='high' documents. This is the score -> bucket -> sample chain
# every production corpus-prep pipeline ends with; the draw is a pure
# function of (doc_id, score thresholds, budget), reproducible across
# engines and layouts, and output stays budget-bounded per language at
# any corpus size. The budget is 150 tokens — sized so the cap BINDS on
# the fixtures (high-bucket pools run 46-631 tokens/lang across the
# three SFs: several languages are cut mid-pool at every SF, exercising
# the <=-inclusive running-sum edge, while the smallest pools pass
# uncut — both branches of the draw live in the driver hash).
# ---------------------------------------------------------------------------
_QUALITY_BUDGET_TOKENS = 150

_ORACLE_QUALITY_BUDGET = f"""
    WITH {_QSCORE_CTES},
    hi AS (
      SELECT doc_id, lang, n_tokens, score_micro,
             MD5(CAST(doc_id AS VARCHAR)) AS dk
      FROM scored WHERE score_micro >= 450000
    ),
    c AS (
      SELECT doc_id, lang, n_tokens, score_micro,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY dk, doc_id) AS cum
      FROM hi
    )
    SELECT doc_id, lang, n_tokens, score_micro,
           CAST(cum AS BIGINT) AS cum_tokens
    FROM c WHERE cum <= {_QUALITY_BUDGET_TOKENS}
"""


def text_quality_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language budget-capped draw over bucket='high' documents —
    see the block above."""
    from mysql2psql_spark.operators.text import budget_capped_sample

    hi = (
        _quality_scored(spark, sf_dir)
        .filter(F.col("bucket") == "high")
        .select("doc_id", "lang", "n_tokens", "score_micro")
    )
    out = budget_capped_sample(
        hi, "lang", "n_tokens", "doc_id", _QUALITY_BUDGET_TOKENS, out_col="cum_tokens"
    )
    return out.select("doc_id", "lang", "n_tokens", "score_micro", "cum_tokens")


# ---------------------------------------------------------------------------
# The streaming quality gate's streamed-equals-batch audit row
# (streaming/audit.py::stream_batch_audit): streaming/docs.py::
# quality_counts_foreach_batch scores the corpus in two doc_id-parity
# micro-batches against side tables trained on it (unigram tf + total,
# shingle df; frozen), and the compacted (bucket, n_docs,
# sum_score_micro) summary is compared to the one-shot batch scoring
# over the same frozen tables. Scoring is per-document pure given the
# frozen tables, so streamed == batch for any split; the score-mass
# column makes a single document's score drift flip the row.
#
# Scale shape: per-trigger cost is one batch-sized signal pipeline
# against the vocabulary-sized frozen tables; partials and the audit
# join are 3 rows. Streaming state zero.
# ---------------------------------------------------------------------------
_ORACLE_STREAM_QUALITY = f"""
    WITH {_QSCORE_CTES},
    h AS (
      SELECT CASE WHEN score_micro >= 450000 THEN 'high'
                  WHEN score_micro >= 250000 THEN 'mid'
                  ELSE 'low' END AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM scored GROUP BY 1
    )
    SELECT CAST(2 AS BIGINT) AS n_triggers,
           CAST(COUNT(*) AS BIGINT) AS stream_rows,
           CAST(COUNT(*) AS BIGINT) AS batch_rows,
           CAST(0 AS BIGINT) AS only_stream,
           CAST(0 AS BIGINT) AS only_batch,
           CAST(0 AS BIGINT) AS value_mismatches
    FROM h
"""


def stream_quality_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed-equals-batch audit for the foreachBatch quality gate —
    see the block above. The gate's tables and the twin are released on
    return."""
    from mysql2psql_spark.operators.materialize import CacheHandle
    from mysql2psql_spark.operators.text import (
        quality_signals_frozen,
        quality_stats_artifact,
    )
    from mysql2psql_spark.streaming.audit import audit_dir, stream_batch_audit
    from mysql2psql_spark.streaming.docs import (
        quality_counts_foreach_batch,
        read_quality_summary,
    )

    d = load_table(spark, sf_dir, "documents")
    tf, tot, dfreq = quality_stats_artifact(spark, sf_dir)

    def twin() -> DataFrame:
        # the same frozen tables the gate persisted (persist returns the
        # frame itself): the audit pins the partials' associativity, not
        # a second training run
        batch = (
            quality_signals_frozen(d, tf, tot, dfreq)
            .groupBy("bucket")
            .agg(
                F.count("*").cast("bigint").alias("n_docs"),
                F.sum("score_micro").cast("bigint").alias("sum_score_micro"),
            )
        )
        caches.append(batch)
        return batch

    with CacheHandle() as caches:
        return stream_batch_audit(
            spark,
            "stream_quality_summary",
            audit_dir(spark, "stream_quality", sf_dir),
            d,
            "doc_id",
            make_gate=lambda out_dir, lineage: quality_counts_foreach_batch(
                tf, tot, dfreq, out_dir, lineage=lineage, caches=caches
            ),
            read=lambda out_dir: read_quality_summary(spark, out_dir),
            twin=twin,
            keys=["bucket"],
            vals=["n_docs", "sum_score_micro"],
        )


# ---------------------------------------------------------------------------
# QUEUED (r18 registration per the window budget): the END-TO-END
# CORPUS BUILD PLAN — every stage of the pretraining corpus-prep
# chain this engine grew piece by piece, composed into ONE declarative
# query: five-signal quality scoring (frozen integer weights) ->
# high-bucket gate -> per-language budget-capped deterministic draw
# (md5 order, ws-token accounting) -> REAL BPE encoded lengths under
# the pinned merge table -> capacity-packed shard assignment. The
# staged analogue of the reference's run-everything lifecycle entry
# (/root/reference/main.py:54-69 chains introspect -> transform ->
# emit the same way); a user pointing this at a corpus gets back, per
# selected document, WHY it survived (score), WHAT it cost the budget
# (cum_tokens), and WHERE it lands in the training shards
# (bucket / pack_in_bucket / n_bpe_tokens).
#
# The oracle is the mechanical CTE composition of the three member
# oracles (qscore CTEs -> budget draw -> the recursive BPE fold +
# pack restated over the drawn subset) — every stage already
# individually pinned; this row pins the HANDOFFS (the drawn doc set
# feeding the tokenizer, the packer's totals over the drawn subset).
#
# Scale shape: the scoring/draw stages are the documented qscore /
# two-phase-hex classes; the encode runs over the BUDGET-BOUNDED draw
# (output-bounded at any corpus size), so the chain's tail is
# corpus-independent; no stage adds a window over the corpus.
# ---------------------------------------------------------------------------
_ORACLE_CORPUS_BUILD = f"""
    WITH RECURSIVE
    rules(rule_idx, pa, pb) AS (VALUES {_BPE_RULE_VALUES}),
    {_QSCORE_CTES},
    hi AS (
      SELECT doc_id, lang, n_tokens, score_micro,
             MD5(CAST(doc_id AS VARCHAR)) AS dk
      FROM scored WHERE score_micro >= 450000
    ),
    c AS (
      SELECT doc_id, lang, n_tokens, score_micro,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY dk, doc_id) AS cum
      FROM hi
    ),
    drawn AS (
      SELECT doc_id, lang, score_micro, CAST(cum AS BIGINT) AS cum_tokens
      FROM c WHERE cum <= {_QUALITY_BUDGET_TOKENS}
    ),
    dsel AS (SELECT d.doc_id, d.text FROM documents d JOIN drawn USING (doc_id)),
    bwords AS (
      SELECT doc_id, w AS word
      FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM dsel)
      WHERE LEN(w) > 0
    ),
    bdwc AS (
      SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS n_occ
      FROM bwords GROUP BY doc_id, word
    ),
    bbase AS (
      SELECT word, 1 AS rule_idx,
             list_transform(range(1, LEN(word) + 1), i -> word[i]) AS toks
      FROM (SELECT DISTINCT word FROM bwords)
    ),
    benc AS (
      SELECT word, rule_idx, toks FROM bbase
      UNION ALL
      SELECT word,
             CASE WHEN p IS NULL THEN rule_idx + 1 ELSE rule_idx END,
             CASE WHEN p IS NULL THEN toks
                  ELSE toks[1:p-1] || [toks[p] || toks[p+1]] || toks[p+2:]
             END
      FROM (
        SELECT e.word, e.rule_idx, e.toks,
               list_filter(range(1, len(e.toks)),
                           i -> e.toks[i] = r.pa AND e.toks[i+1] = r.pb)[1] AS p
        FROM benc e JOIN rules r ON r.rule_idx = e.rule_idx
      )
    ),
    bwl AS (
      SELECT word, CAST(LEN(toks) AS BIGINT) AS tok_len
      FROM benc WHERE rule_idx = {len(_BPE_MERGES) + 1}
    ),
    bsized AS (
      SELECT s.doc_id,
             CAST(COALESCE(SUM(bdwc.n_occ * bwl.tok_len), 0) AS BIGINT) AS n_tokens
      FROM dsel s
      LEFT JOIN bdwc ON bdwc.doc_id = s.doc_id
      LEFT JOIN bwl ON bwl.word = bdwc.word
      GROUP BY s.doc_id
    ),
    bnb AS (
      SELECT CAST(GREATEST(8, (SUM(n_tokens) + 1048575) // 1048576) AS BIGINT) AS n
      FROM bsized
    ),
    bbucketed AS (
      SELECT doc_id, n_tokens,
             CAST(CAST(CONCAT('0x', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % (SELECT n FROM bnb) AS BIGINT) AS bucket
      FROM bsized
    ),
    bpacked AS (
      SELECT doc_id, n_tokens, bucket,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY bucket ORDER BY n_tokens DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
      FROM bbucketed
    )
    SELECT p.doc_id, dr.lang, dr.score_micro, dr.cum_tokens, p.bucket,
           CAST(p.tokens_before // 2048 AS BIGINT) AS pack_in_bucket,
           p.n_tokens AS n_bpe_tokens
    FROM bpacked p JOIN drawn dr USING (doc_id)
"""


def text_corpus_build(spark: SparkSession, sf_dir: str, caches=None) -> DataFrame:
    """The end-to-end corpus build plan (score -> gate -> budget draw
    -> BPE encode -> pack) — see the block above. ``caches``
    (CacheHandle convention) releases the persisted drawn frame in
    long-lived sessions."""
    from mysql2psql_spark.operators.materialize import materialize
    from mysql2psql_spark.operators.text import budget_capped_sample, pack_sized

    hi = (
        _quality_scored(spark, sf_dir)
        .filter(F.col("bucket") == "high")
        .select("doc_id", "lang", "n_tokens", "score_micro")
    )
    # the drawn frame (budget-bounded rows) feeds BOTH the tokenize
    # semi-join and the final attach; without the materialize each
    # consumer re-runs the whole scoring+draw pipeline (r17 A/B,
    # alternating 5-rep: 5.97 vs 3.99 s medians — persist of a
    # 44-row frame buys back two qscore passes)
    drawn = materialize(
        budget_capped_sample(
            hi,
            "lang",
            "n_tokens",
            "doc_id",
            _QUALITY_BUDGET_TOKENS,
            out_col="cum_tokens",
        ).select("doc_id", "lang", "score_micro", "cum_tokens")
    )
    if caches is not None:
        caches.append(drawn)
    d = load_table(spark, sf_dir, "documents").join(
        drawn.select("doc_id"), "doc_id"
    )
    packed = pack_sized(
        _bpe_doc_lengths(spark, d),
        capacity=2048,
        tokens_per_bucket=1_048_576,
        min_buckets=8,
    )
    return packed.join(drawn, "doc_id").select(
        "doc_id",
        "lang",
        "score_micro",
        "cum_tokens",
        "bucket",
        "pack_in_bucket",
        F.col("n_tokens").alias("n_bpe_tokens"),
    )
