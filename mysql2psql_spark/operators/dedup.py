"""Dedup operator family for large corpora.

Four tiers, all DataFrame-native (no Python in the hot path):

- exact: content-hash groupBy (queries/text_q.py::dedup_exact)
- n-gram Jaccard: exact all-pairs within blocks — the small-scale
  verifier (queries/text_q.py::dedup_ngram_jaccard)
- MinHash + LSH banding: the 100 TB path.
- SimHash over shingle hashes: 64-bit bit-majority fingerprint; near-dups
  = small Hamming distance, found via pigeonhole banding.

Execution shape (the part that matters at scale): signatures are computed
by EXPLODING the shingle set and aggregating with plain codegen'd
expressions — k min-aggregates for MinHash, 64 conditional sums for
SimHash — instead of nested array lambdas. Nested higher-order functions
(transform inside transform) fall back to interpreted evaluation in
Spark and are ~100x slower; the explode shape stays inside whole-stage
codegen and its shuffle is map-side pre-aggregated, carrying only
|docs| x k values no matter how many shingles a document has.

MinHash math: sig_i(doc) = min over shingles s of h_i(s), with
h_i = xxhash64(i, s). P[sig_i(A) = sig_i(B)] = J(A, B). Banding b bands
of r rows fires on a pair with prob 1 - (1 - J^r)^b (threshold ~
(1/b)^(1/r); defaults b=8, r=4 -> ~0.59, detection of a 0.9-Jaccard pair
~0.9998).
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mysql2psql_spark.operators.materialize import materialize
from mysql2psql_spark.sizing import DRIVER_ROWS, rows_width


def _t_frac(threshold: float) -> tuple[int, int]:
    """Exact rational (numerator, denominator) for a user-given threshold.

    All pruning bounds (prefix length, size window, positional filter,
    final Jaccard compare) are evaluated in INTEGER arithmetic against
    this fraction, never in binary floating point: e.g. with t=0.3,
    floor(na/t) computed as floats gives floor(9.999...)=9 for na=3 and
    silently prunes |B|=10 pairs whose Jaccard is exactly 0.3.
    ``limit_denominator`` recovers the decimal the caller typed (0.3 ->
    3/10) from its float image."""
    fr = Fraction(threshold).limit_denominator(1_000_000)
    return fr.numerator, fr.denominator


# The self-join shapes below consume the per-doc aggregation from 3-4
# subtrees; materialize computes it once (see operators/materialize.py
# for the mechanism, the dynamic-allocation caveat, and the release
# helper). `_materialize` stays as an alias for backward compatibility.
_materialize = materialize


def minhash_signatures(
    shingle_df: DataFrame, id_col: str = "doc_id", hash_col: str = "sh", k: int = 32
) -> DataFrame:
    """(id, sig: array<bigint>[k]) from the exploded (id, shingle-hash)
    table (operators.text.shingle_hash_table) via k codegen'd min-aggs.

    One shuffle keyed by doc id with map-side combine: each partition
    pre-reduces to one k-vector per local doc before exchanging."""
    mins = [F.min(F.xxhash64(F.lit(i), F.col(hash_col))).alias(f"h{i}") for i in range(k)]
    agg = shingle_df.groupBy(id_col).agg(*mins)
    return agg.select(F.col(id_col), F.array(*[f"h{i}" for i in range(k)]).alias("sig"))


def band_keys(signature: Column, bands: int, rows_per_band: int) -> Column:
    """One 64-bit key per band: array of (band_idx, xxhash64(band_slice))
    structs, ready to explode into the LSH bucket join."""
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.xxhash64(F.slice(signature, j * rows_per_band + 1, rows_per_band)).alias("key"),
            )
            for j in range(bands)
        ]
    )


def _minhash_tables(
    shingle_df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "sh",
    k: int = 32,
    bands: int = 8,
    n_parts: "int | None" = None,
) -> "tuple[DataFrame, DataFrame]":
    """The shared MinHash build: (arrs, buckets) from an exploded
    (id, shingle-hash) table. ``arrs`` is the persisted per-doc frame
    (id, sorted verify array, n, h0..h{k-1} signature mins) computed in
    ONE doc-keyed aggregation (the k mins are plain codegen'd aggregates
    with map-side combine, folded beside the array collection so a
    separate signature pass — and its re-explode — never exists).
    ``buckets`` carries ONLY (id, band, key) rows: the band explode
    multiplies row count by ``bands``, so keeping payloads off these
    rows keeps the LSH shuffle at ~24 bytes/row regardless of document
    size; shingle arrays rejoin only for surviving candidates. The
    xxhash64 seeds (0..k-1 on the element hash; variadic over each
    band's r signature columns) are the banding identity — every
    consumer (within-corpus pairs, the incremental cross probe) MUST
    share them or band keys stop colliding across frames.

    ``n_parts``: the persisted ``arrs`` frame is DOC-COUNT-sized, but its
    aggregation exchange runs at the session shuffle width and a
    persisted plan's exchange is never AQE-coalesced
    (canChangeCachedPlanOutputPartitioning is off), so every downstream
    consumer stage would inherit session-width partitions of near-empty
    tasks. Callers pass the corpus byte width (``sizing.bytes_width`` at
    256 KiB per slot); the frame re-clusters by ``id_col`` (hash, no
    round-robin sort) so doc-keyed consumers keep their clustering.
    Default None keeps the session width."""
    r = k // bands
    # SQL text: one py4j round trip per output column, where a Column
    # tree costs one per node (k min-aggregates of four nodes each)
    agg = shingle_df.groupBy(id_col).agg(
        F.expr(f"sort_array(collect_set({hash_col})) AS arr"),
        # per-band keys hash their r signature columns directly
        # (xxhash64 is variadic) — no intermediate array build + slice,
        # which bloats the codegen'd expression tree and measurably
        # inflates the plan's one-time Janino compile (~3 s of the cold
        # run at sf0.1 before this shape).
        *[F.expr(f"min(xxhash64({i}, {hash_col})) AS h{i}") for i in range(k)],
    ).withColumn("n", F.expr("size(arr)"))
    if n_parts is not None:
        agg = agg.repartition(n_parts, id_col)
    arrs = _materialize(agg)
    band_structs = ", ".join(
        f"struct({j} AS band, xxhash64({', '.join(f'h{j * r + i}' for i in range(r))}) AS key)"
        for j in range(bands)
    )
    buckets = arrs.selectExpr(id_col, f"explode(array({band_structs})) AS bk").selectExpr(
        id_col, "bk.band AS band", "bk.key AS key"
    )
    return arrs, buckets


def minhash_lsh_pairs(
    shingle_df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "sh",
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs via MinHash banding, exact-verified.

    ``shingle_df`` is the exploded (id, distinct shingle hash) table
    (operators.text.shingle_hash_table). Returns (doc_a, doc_b, jaccard)
    with jaccard >= threshold, doc_a < doc_b.

    The shingle pass would otherwise feed four consumers (signatures +
    sizes + both verify sides) — a mapInPandas-produced table has no
    shuffle boundary for ReusedExchange to dedupe, so its scan would
    re-execute per consumer. Everything therefore derives from ONE
    doc-keyed aggregation (`arrs`) computing BOTH the sorted verify
    array and all k MinHash min-aggregates in the same pass: the k mins
    are plain codegen'd aggregates with map-side combine (each partition
    pre-reduces to one k-vector per local doc before the exchange), so
    folding them here costs nothing extra on the shuffle and removes the
    re-explode + second doc-keyed aggregation a separate signature pass
    would need. The one exchange is reused by the bucket and verify
    subtrees.
    """
    arrs, buckets = _minhash_tables(shingle_df, id_col, hash_col, k, bands)

    a = buckets.alias("a")
    b = buckets.alias("b")
    # Same (band, key) bucket -> candidate; dedupe pairs found by
    # multiple bands BEFORE the expensive exact verification.
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # Exact verification on the sorted arrays (shared with the exact
    # prefix-filter path below).
    return exact_jaccard_verify(cand, arrs, id_col, threshold)


def exact_jaccard_verify(
    cand: DataFrame,
    arrs: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    arrs_b: "DataFrame | None" = None,
) -> DataFrame:
    """Exact Jaccard over a (doc_a, doc_b) candidate set, given the
    per-doc sorted-hash-array table ``arrs`` (id, arr, n). Each pair
    joins both arrays and intersects natively (array_intersect is
    codegen'd, no lambda): one row per pair with a |doc|-sized payload
    instead of an exploded row per (pair, shingle) — same bytes, far
    fewer rows. Returns (doc_a, doc_b, jaccard) with jaccard >=
    threshold.

    ``arrs_b`` resolves the ``doc_b`` side from a SEPARATE array table
    (the cross-corpus case, r12): each side joins only its own table, so
    an id colliding across the two corpora cannot silently duplicate the
    verify rows the way a unioned table would."""
    t_num, t_den = _t_frac(threshold)
    arr_a = arrs.selectExpr(f"{id_col} AS doc_a", "arr AS arr_a", "n AS na")
    arr_b = (arrs_b if arrs_b is not None else arrs).selectExpr(
        f"{id_col} AS doc_b", "arr AS arr_b", "n AS nb"
    )
    inter = "size(array_intersect(arr_a, arr_b))"
    union = f"(na + nb - {inter})"
    # inter/union >= t evaluated as integers: exact at the boundary where
    # the float quotient can land on either side of t's double image.
    return (
        cand.select("doc_a", "doc_b")
        .join(arr_a, "doc_a")
        .join(arr_b, "doc_b")
        .filter(f"{inter} * {t_den} >= {t_num} * {union}")
        .selectExpr(
            "doc_a", "doc_b", f"round(CAST({inter} AS DOUBLE) / {union}, 6) AS jaccard"
        )
    )


def minhash_lsh_cross_pairs(
    sh_new: DataFrame,
    sh_corpus: "DataFrame | None",
    id_col: str = "doc_id",
    hash_col: str = "sh",
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    caches: "list[DataFrame] | None" = None,
    corpus_tables: "tuple[DataFrame, DataFrame] | None" = None,
    n_parts: "int | None" = None,
) -> DataFrame:
    """Incremental NEAR-dup gate: (doc_new, doc_corpus, jaccard) for
    every new-batch document whose true Jaccard against some standing-
    corpus document clears ``threshold`` — the banding twin of the
    exact-fingerprint ``dedup_incremental`` gate, and the shape a
    continuously-ingesting pipeline runs per batch instead of
    re-banding the corpus.

    Candidates are NEW x CORPUS band-key collisions ONLY: the corpus is
    never self-joined (its intra-pairs were settled when its documents
    were themselves the batch), so per-batch work is
    O(batch bands + collisions) however large the corpus grows. At
    100 TB the corpus band table and verify arrays are persisted
    ingest-maintained artifacts (the coorder_edges posture) that each
    batch probes — here both sides build in-session because the fixture
    has no standing store, with the batch side small enough that its
    bucket rows broadcast. Both sides MUST band with the same seeds and
    geometry (:func:`_minhash_tables`), or keys stop colliding.

    Recall contract: identical to :func:`minhash_lsh_pairs` — banding
    at 8x4 finds every pair the fixture corpus puts above threshold
    (cross pairs are a subset of the all-pairs premise pinned in
    tests/test_operators.py::test_minhash_agrees_with_exact); every
    candidate is exact-verified before emission, so precision is 1 by
    construction. The verify step resolves each pair side from its OWN
    array table (exact_jaccard_verify's arrs_b), so the two corpora's id
    namespaces need not be disjoint.

    Cache lifetime (ADVICE r12): each ``_minhash_tables`` call persists
    its per-doc array frame; frames built HERE are registered on
    ``caches`` (the CacheHandle convention of winnowing/k-core) so
    non-bench callers — the streaming gate above all — have a release
    path that isn't the session-wide RDD sweep. A long-lived caller that
    probes the SAME corpus repeatedly passes ``corpus_tables`` (the
    ``(arrs, buckets)`` pair from one external ``_minhash_tables`` call,
    whose lifetime the caller owns — it is NOT registered on ``caches``)
    and ``sh_corpus=None``; only the batch side is then built — and
    released — per call."""
    arrs_n, bk_n = _minhash_tables(sh_new, id_col, hash_col, k, bands, n_parts)
    if caches is not None:
        caches.append(arrs_n)
    if corpus_tables is not None:
        arrs_c, bk_c = corpus_tables
    else:
        if sh_corpus is None:
            raise ValueError("need sh_corpus or corpus_tables")
        arrs_c, bk_c = _minhash_tables(sh_corpus, id_col, hash_col, k, bands, n_parts)
        if caches is not None:
            caches.append(arrs_c)
    cand = (
        bk_n.alias("n")
        .join(bk_c.alias("c"), F.expr("n.band = c.band AND n.key = c.key"))
        .selectExpr(f"n.{id_col} AS doc_a", f"c.{id_col} AS doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    verified = exact_jaccard_verify(
        cand, arrs_n, id_col, threshold, arrs_b=arrs_c
    )
    return verified.selectExpr("doc_a AS doc_new", "doc_b AS doc_corpus", "jaccard")


def prefix_filter_pairs(
    shingle_df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "sh",
    threshold: float = 0.5,
    order_by_frequency: bool = True,
    carry_arrays: bool = False,
) -> DataFrame:
    """EXACT Jaccard >= threshold pairs via prefix filtering (the
    AllPairs/PPJoin principle) — the deterministic, zero-false-negative
    counterpart to MinHash banding.

    Under any global ordering of shingles, a pair with J(A, B) >= t must
    share at least one element within the first |X| - ceil(t*|X|) + 1
    elements of EACH side's ordering, so candidates come from an
    equi-join on prefix shingles only. With ascending-document-frequency
    ordering (rarest first — the default, and the right choice on any
    Zipfian real corpus) prefix shingles are the rarest a document has,
    so candidate block sizes are bounded by the df of rare shingles —
    independent of corpus size, unlike blocking on a metadata column
    (e.g. source), whose blocks grow linearly with the corpus and go
    quadratic at 100x. ``order_by_frequency=False`` skips the df pass
    (one agg + join) and orders by raw hash — measurably faster on
    corpora whose shingle distribution is already uniform.

    Candidate pruning before verification, both lossless for J >= t:
    - size window: |B| in [t|A|, |A|/t];
    - PPJoin positional filter: for the FIRST shared prefix token (no
      shared tokens precede it in either ordering), the overlap can be
      at most 1 + min(|A| - pos_a, |B| - pos_b); prune when that upper
      bound < ceil(t/(1+t) * (|A|+|B|)), the overlap J >= t requires.

    Every threshold bound is evaluated in exact integer arithmetic
    against the rational form of ``threshold`` (see ``_t_frac``) — the
    float forms mis-round at exact-threshold boundaries for non-dyadic t
    (e.g. t=0.3 pruning a J=0.3 pair).

    Verification joins each surviving pair with per-doc sorted hash
    arrays and intersects natively (array_intersect is codegen'd, no
    lambda): one row per pair with an |doc|-sized payload instead of an
    exploded row per (pair, shingle) — same bytes, far fewer rows.

    ``carry_arrays`` (hash-order path only) attaches each doc's full
    sorted hash array to its prefix rows, so verification happens inline
    after the pair-grouping aggregation — removing BOTH verify joins and
    their exchanges (~30% wall at sf0.1's sparse duplicate rate). The
    trade is shuffle bytes on two axes, and BOTH must be small:
    per-doc prefix bytes grow as ``8(1-t)·|doc|²`` (quadratic in
    shingle count), and every MATCH row — before the positional filter
    and pair dedup — carries both docs' arrays, so the cost also grows
    quadratically with duplicate density. The r5 scale probe measured
    the failure mode: on a 5x replica with ~200x the near-dup pairs,
    carry took 67.8 s vs 6.0 s for the default join-verify, which
    ships arrays only for candidates that survive ALL pruning. Enable
    only for corpora known to be BOTH short-document and dup-sparse;
    the default False is the 100 TB shape.

    Execution shape of the df-ordered path (no per-row window): df is
    one hash-keyed count agg; a single doc-keyed aggregation then
    collects each doc's (df, hash) pairs and sorts them IN-ARRAY
    (``sort_array`` inside the agg — per-doc quicksort, bounded by doc
    length, instead of a row_number window's full shuffle-and-sort over
    every (doc, shingle) row). Prefix rows come from ``slice`` +
    ``posexplode`` of that array, so only prefix tokens (~(1-t)|doc|)
    ever become rows again; the verify arrays derive from the SAME
    aggregation, so its exchange is reused across both subtrees.
    """
    t_num, t_den = _t_frac(threshold)
    # Single aggregation of the shingle table: every downstream consumer
    # (df counts, prefix ranks, verify arrays) derives from `arrs`, so
    # the (possibly Python-computed) shingle pass executes ONCE and the
    # one doc-keyed exchange is reused — consuming shingle_df directly
    # from two subtrees would re-execute its scan per consumer (it has
    # no shuffle boundary of its own to dedupe on).
    arrs = _materialize(
        shingle_df.groupBy(id_col)
        .agg(F.sort_array(F.collect_set(hash_col)).alias("arr"))
        .withColumn("n", F.size("arr"))
    )
    # prefix length = n - ceil(t*n) + 1, ceil done with integer div
    prefix_len = f"n - ((({t_num} * n) + {t_den - 1}) div {t_den}) + 1"
    if order_by_frequency:
        ex = arrs.select(id_col, F.explode("arr").alias(hash_col))
        df_freq = ex.groupBy(hash_col).agg(F.count("*").alias("df"))
        ordered = (
            ex.join(df_freq, hash_col)
            .groupBy(id_col)
            .agg(
                F.sort_array(F.collect_list(F.struct(F.col("df"), F.col(hash_col)))).alias(
                    "oarr"
                )
            )
            .withColumn("n", F.size("oarr"))
        )
        pref = (
            ordered.select(id_col, "n", F.expr(f"slice(oarr, 1, {prefix_len})").alias("pfx"))
            .select(id_col, "n", F.posexplode("pfx").alias("p0", "pe"))
            .select(
                id_col,
                F.col("pe")[hash_col].alias(hash_col),
                "n",
                (F.col("p0") + 1).alias("pos"),
            )
        )
    else:
        # hash order IS the sorted array's order: prefix comes free from
        # slice + posexplode, no df pass at all
        carry = ["arr"] if carry_arrays else []
        pref = (
            arrs.select(id_col, "n", *carry, F.expr(f"slice(arr, 1, {prefix_len})").alias("pfx"))
            .select(id_col, "n", *carry, F.posexplode("pfx").alias("p0", hash_col))
            .select(id_col, hash_col, "n", *carry, (F.col("p0") + 1).alias("pos"))
        )
    carry = carry_arrays and not order_by_frequency
    a = pref.select(
        F.col(id_col).alias("doc_a"),
        hash_col,
        F.col("n").alias("na"),
        F.col("pos").alias("pa"),
        *([F.col("arr").alias("arr_a")] if carry else []),
    )
    b = pref.select(
        F.col(id_col).alias("doc_b"),
        hash_col,
        F.col("n").alias("nb"),
        F.col("pos").alias("pb"),
        *([F.col("arr").alias("arr_b")] if carry else []),
    )
    # size window, exact: nb >= t*na  <=>  t_den*nb >= t_num*na;
    #                     nb <= na/t  <=>  t_num*nb <= t_den*na
    matches = a.join(b, hash_col).filter(
        (F.col("doc_a") < F.col("doc_b"))
        & (F.lit(t_den) * F.col("nb") >= F.lit(t_num) * F.col("na"))
        & (F.lit(t_num) * F.col("nb") <= F.lit(t_den) * F.col("na"))
    )
    # the min (pos_a, pos_b) struct IS the first shared token: prefix
    # orderings restricted to shared tokens agree (same global order)
    first = matches.groupBy("doc_a", "doc_b").agg(
        F.min(F.struct("pa", "pb", "na", "nb")).alias("m"),
        *([F.first("arr_a").alias("arr_a"), F.first("arr_b").alias("arr_b")] if carry else []),
    )
    # overlap upper bound >= ceil((na+nb) * t/(1+t))
    #   <=>  (na+nb)*t_num <= ub*(t_num+t_den)
    ub = F.lit(1) + F.least(F.col("m.na") - F.col("m.pa"), F.col("m.nb") - F.col("m.pb"))
    cand = first.filter(
        (F.col("m.na") + F.col("m.nb")) * F.lit(t_num) <= ub * F.lit(t_num + t_den)
    )
    if not carry:
        return exact_jaccard_verify(cand.select("doc_a", "doc_b"), arrs, id_col, threshold)
    # inline verification on the carried arrays (same integer-exact
    # bound as exact_jaccard_verify, zero extra joins)
    inter = F.size(F.array_intersect("arr_a", "arr_b"))
    union = F.col("m.na") + F.col("m.nb") - inter
    jac = inter.cast("double") / union
    return cand.filter(inter * F.lit(t_den) >= F.lit(t_num) * union).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


def _bit_mask(i: int) -> int:
    # signed-64 representation of 1<<i (bit 63 is the sign bit)
    return (1 << i) if i < 63 else -(1 << 63)


def simhash_fingerprints(
    shingle_df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "sh",
    engine: str = "arrow",
) -> DataFrame:
    """(id, sh: bigint) — 64-bit SimHash over the exploded pre-hashed
    feature table (operators.text.shingle_hash_table output; hashes are
    already uniform, no re-hash).

    Bit i of the fingerprint is set iff more than half the features have
    hash bit i set. Two row-identical execution shapes, selectable:

    - ``engine="arrow"`` (default for interactive sessions): the per-bit
      majority count runs as an Arrow-batched numpy unpackbits pass
      after an explicit repartition on the doc id (each doc's features
      land in one partition; partial counts accumulate across the
      partition's batches). Zero codegen-compile cost — wins whenever
      the job is short enough that Janino compilation of the wide
      aggregate would dominate (measured ~8 s at sf0.1).
    - ``engine="jvm"`` (the at-scale shape): 64 conditional sum
      aggregates + map-side combine, fully inside whole-stage codegen —
      no Python workers, partial aggregation before the shuffle, and
      the one-time compile cost amortizes over any sustained (100 TB)
      run. This is the shape a long-lived cluster job should pick.

    tests/test_operators.py pins row identity between the two."""
    if engine == "jvm":
        sums = [
            F.sum(F.shiftrightunsigned(F.col(hash_col), i).bitwiseAND(F.lit(1))).alias(f"b{i}")
            for i in range(64)
        ]
        agg = shingle_df.groupBy(id_col).agg(F.count("*").alias("n"), *sums)
        fp = None
        for i in range(64):
            term = F.when(F.col(f"b{i}") * 2 > F.col("n"), F.lit(_bit_mask(i))).otherwise(F.lit(0))
            fp = term if fp is None else fp + term
        return agg.select(F.col(id_col), fp.cast("long").alias("sh"))
    if engine != "arrow":
        raise ValueError(f"unknown simhash engine {engine!r} (use 'arrow' or 'jvm')")
    import numpy as np
    import pandas as pd  # worker-side

    def run(batches):
        counts: dict = {}
        totals: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            hs = pdf[hash_col].to_numpy().astype(np.int64).view(np.uint64)
            bits = np.unpackbits(
                hs.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            ).astype(np.int64)
            order = np.argsort(ids, kind="stable")
            ids_s, bits_s = ids[order], bits[order]
            uniq, starts = np.unique(ids_s, return_index=True)
            sums = np.add.reduceat(bits_s, starts, axis=0)
            sizes = np.diff(np.append(starts, len(ids_s)))
            for i, s, n in zip(uniq, sums, sizes):
                if i in counts:
                    counts[i] = counts[i] + s
                    totals[i] += int(n)
                else:
                    counts[i] = s
                    totals[i] = int(n)
        shifts = (np.uint64(1) << np.arange(64, dtype=np.uint64))
        rows = []
        for i, c in counts.items():
            fp = int((shifts[(2 * c) > totals[i]]).sum(dtype=np.uint64))
            rows.append((int(i), fp - (1 << 64) if fp >= 1 << 63 else fp))
        yield pd.DataFrame(rows, columns=[id_col, "sh"])

    return shingle_df.repartition(id_col).mapInPandas(
        run, schema=f"{id_col} bigint, sh bigint"
    )


def simhash_pairs(
    shingle_df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "sh",
    max_hamming: int = 7,
    engine: str = "arrow",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Pigeonhole banding: split the 64-bit fingerprint into 8 8-bit chunks;
    any pair within Hamming distance 7 agrees exactly on >= 1 chunk, so
    candidates come from an equi-join on (chunk_idx, chunk_value) — fully
    shuffle-partitionable, no quadratic scan. (Empirically a ~0.97-Jaccard
    doc pair lands at hamming ~7 with 3-shingle features, so the coarser
    4x16 banding, lossless only to hamming 3, under-recalls.)
    """
    sh = simhash_fingerprints(shingle_df, id_col, hash_col, engine=engine)
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("chunk"),
                F.shiftrightunsigned(F.col("sh"), j * 8).bitwiseAND(F.lit(0xFF)).alias("val"),
            )
            for j in range(8)
        ]
    )
    # Materialize the chunk table once: both self-join sides consume it,
    # and the executed plan otherwise runs the whole fingerprint pass
    # (shingle scan + Arrow majority count) once PER SIDE — the exchange
    # below it is not reliably deduped by ReusedExchange (measured: 2
    # mapInPandas nodes in the sf0.1 plan). 8 rows x 24 B per doc.
    chunks = _materialize(
        sh.select(id_col, "sh", F.explode(chunk_structs).alias("ck")).select(
            id_col, "sh", F.col("ck.chunk").alias("chunk"), F.col("ck.val").alias("val")
        )
    )

    a = chunks.alias("a")
    b = chunks.alias("b")
    hamming = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _connected_components_driver(
    pairs: DataFrame, edges: DataFrame, id_col: str
) -> DataFrame:
    """Small-graph path: union-find over a COUNTED-small edge list.

    ``edges`` is the persisted (src, dst) directed frame whose row count
    has already been checked against the caller's gate — the collect is
    bounded by construction. Union-by-min-root keeps every root the
    smallest id of its component, so labels are bit-identical to the
    distributed min-label fixpoint."""
    from pyspark.sql.types import StructField, StructType

    rows = edges.collect()
    edges.unpersist(False)
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for src, dst in rows:
        if src not in parent:
            parent[src] = src
        if dst not in parent:
            parent[dst] = dst
        ra, rb = find(src), find(dst)
        if ra == rb:
            continue
        if ra < rb:
            parent[rb] = ra
        else:
            parent[ra] = rb

    dt = pairs.schema[id_col].dataType
    schema = StructType(
        [StructField("doc_id", dt), StructField("cluster_id", dt)]
    )
    return pairs.sparkSession.createDataFrame(
        [(n, find(n)) for n in parent], schema
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 25,
    driver_threshold: int = DRIVER_ROWS,
) -> DataFrame:
    """(doc_id, cluster_id) for every node in `pairs`: cluster_id = the
    smallest doc id reachable through the near-dup graph — the canonical
    representative a dedup pipeline keeps.

    Two execution paths, picked by the COUNTED edge-list size against
    the driver gate (``sizing.DRIVER_ROWS``, which states the rule):

    - ``<= driver_threshold`` directed edges: collect the edge list and
      run union-find on the driver. The near-dup graph is corpus-RARE
      (pairs, not documents), so this is the common case; each
      distributed round otherwise costs more in plan analysis and job
      scheduling than the whole union-find.
    - above the gate: iterative min-label propagation — each round every
      node takes the min of its own label and its neighbors' labels
      (join + min-agg, one shuffle per round); converges in O(graph
      diameter) rounds. Near-dup graphs are unions of small cliques-ish
      clusters, so the diameter — and the round count — is tiny
      regardless of corpus size. This is the 100 TB path and stays fully
      distributed (no data ever collects).
    """
    from pyspark.storagelevel import StorageLevel

    # Iteration is the one legitimate persist case: every round (and its
    # convergence check) would otherwise re-derive the pair graph from
    # source, and the label lineage would grow by one join per round.
    # Edges persist once; labels localCheckpoint each round to truncate
    # lineage (executor-local materialization, no driver collect).
    #
    # No distinct() on edges: the dedup operators emit each pair once
    # with doc_a < doc_b, so the two directed copies are already unique
    # — a distinct here is a pure extra shuffle. Duplicate INPUT pairs
    # would only duplicate join rows under the min-aggregate (same
    # result, wasted work), never change the labels.
    # null-id guard (row-local, no shuffle): the dedup operators never
    # emit null ids, but this operator is generic — a null would silently
    # vanish in the distributed path's join while raising a TypeError in
    # the driver union-find's id comparison; drop them identically in
    # both paths
    pairs = pairs.filter(F.col(id_a).isNotNull() & F.col(id_b).isNotNull())
    # explode-based doubling: ONE scan of the pair frame. The r7
    # two-select union executed the producing pipeline once per
    # direction before the persist materialized — for LSH-generated
    # pairs that pipeline is the bucket join + exact verify, by far the
    # most expensive input this operator sees (hot-key probe, r8: the
    # union cost ~5 s of the skewed dedup_clusters wall by itself).
    edges_raw = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                    F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # One scalar count (which also materializes the persist) picks the
    # path (the driver gate) and sizes the iteration to the graph, not
    # the corpus (the row width); both rules are in sizing.py.
    n_edges = edges_raw.count()
    if n_edges <= driver_threshold:
        return _connected_components_driver(pairs, edges_raw, id_a)
    n_part = rows_width(n_edges)
    edges = edges_raw.repartition(n_part, "dst").persist(StorageLevel.MEMORY_AND_DISK)
    edges.count()
    edges_raw.unpersist(False)
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    # Job cadence (r6): still one LAZY localCheckpoint per round (so each
    # round's join+agg executes exactly once and the next round reads the
    # stored partitions), but the blocking convergence-check JOB runs only
    # every second round — r5 paid one eager checkpoint + one count job
    # per round, and at small graph sizes the per-job overhead (not the
    # join work) dominated. ``label0`` (each round records its OWN
    # pre-update label, so after the batch executes it holds the label
    # before the batch's LAST round) rides through as an 8-byte column
    # and the check tests only that last round's movement — lossless
    # (one deterministic round producing no change IS the fixpoint) and
    # one batch tighter than the r7 batch-start comparison, which on an
    # already-converged-in-round-1 graph still saw round-1 movement and
    # forced a whole redundant batch (hot-key probe, r8: the 1.1M-edge
    # complete component converges in round 1; batch-start label0 ran 4
    # rounds + 2 checks, per-round label0 runs 2 rounds + 1 check).
    rounds_per_check = 2
    done = 0
    while done < max_iter:
        batch = min(rounds_per_check, max_iter - done)
        cur = labels
        for _ in range(batch):
            # explicit aliases: a batch round joins a frame against an
            # aggregate DERIVED from the same frame (attribute ids
            # shared), which trips ambiguous-self-join resolution
            # without them
            neighbor_min = (
                edges.alias("e")
                .join(cur.select("node", "label").alias("l"), F.col("e.dst") == F.col("l.node"))
                .groupBy(F.col("e.src").alias("src"))
                .agg(F.min(F.col("l.label")).alias("nmin"))
            )
            cur = (
                cur.alias("c")
                .join(neighbor_min.alias("m"), F.col("c.node") == F.col("m.src"), "left")
                .select(
                    F.col("c.node").alias("node"),
                    F.least(
                        F.col("c.label"), F.coalesce(F.col("m.nmin"), F.col("c.label"))
                    ).alias("label"),
                    F.col("c.label").alias("label0"),
                )
                .repartition(n_part, "node")
                .localCheckpoint(eager=False)
            )
        done += batch
        changed = cur.filter(F.col("label") != F.col("label0")).limit(1).count()
        labels = cur.select("node", "label")
        if changed == 0:
            break
    out = labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))
    # the iteration's working set is no longer needed once labels are
    # checkpointed; free it so long-lived sessions don't accumulate it
    edges.unpersist(False)
    return out


def _incremental_driver_tail(
    cluster_map: DataFrame,
    new_pairs: DataFrame,
    id_a: str,
    id_b: str,
) -> DataFrame:
    """Batch-bounded incremental tail computed in the driver — the
    ``<= driver_threshold`` path of :func:`connected_components_incremental`
    (equivalence + memory-class argument in its docstring). Null
    endpoints vanish exactly as in the distributed tail (they never
    match an equi-join there; they are dropped from ``ends`` here)."""
    from pyspark.sql.types import StructField, StructType

    spark = cluster_map.sparkSession
    prs = [
        (r[0], r[1]) for r in new_pairs.select(id_a, id_b).collect()
    ]
    ends: set = set()
    for a, b in prs:
        if a is not None:
            ends.add(a)
        if b is not None:
            ends.add(b)
    doc_dt = cluster_map.schema["doc_id"].dataType
    lbl_dt = cluster_map.schema["cluster_id"].dataType
    ends_df = spark.createDataFrame(
        [(e,) for e in sorted(ends)], StructType([StructField("doc_id", doc_dt)])
    )
    # the ONE distributed lookup: restrict the corpus map to the batch's
    # endpoints (map-side semi-join against the broadcast endpoint list)
    touched = cluster_map.join(F.broadcast(ends_df), "doc_id", "left_semi").collect()
    lblmap = {r["doc_id"]: r["cluster_id"] for r in touched}
    lbl = {e: lblmap.get(e, e) for e in ends}

    # contraction union-find over labels (union-by-min-root — identical
    # labeling to _connected_components_driver / the distributed remap)
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in prs:
        if a is None or b is None:
            continue
        la, lb = lbl[a], lbl[b]
        if la == lb:
            continue
        if la not in parent:
            parent[la] = la
        if lb not in parent:
            parent[lb] = lb
        ra, rb = find(la), find(lb)
        if ra == rb:
            continue
        if ra < rb:
            parent[rb] = ra
        else:
            parent[ra] = rb

    remap = {n: find(n) for n in parent}
    remap_df = spark.createDataFrame(
        sorted(remap.items()),
        StructType(
            [StructField("cluster_id", lbl_dt), StructField("root", lbl_dt)]
        ),
    )
    # the OTHER distributed touch: apply the batch-bounded relabel to the
    # corpus map (broadcast left join — the map still never shuffles)
    updated_old = cluster_map.join(F.broadcast(remap_df), "cluster_id", "left").select(
        "doc_id", F.coalesce(F.col("root"), F.col("cluster_id")).alias("cluster_id")
    )
    fresh_rows = [
        (e, remap.get(lbl[e], lbl[e])) for e in sorted(ends) if e not in lblmap
    ]
    fresh_df = spark.createDataFrame(
        fresh_rows,
        StructType(
            [StructField("doc_id", doc_dt), StructField("cluster_id", lbl_dt)]
        ),
    )
    return updated_old.unionByName(fresh_df)


def connected_components_incremental(
    cluster_map: DataFrame,
    new_pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    caches: "list[DataFrame] | None" = None,
    driver_threshold: int = DRIVER_ROWS,
) -> DataFrame:
    """Maintain a standing near-dup clustering under a batch of NEW
    pairs WITHOUT re-clustering the corpus — the maintenance step after
    :func:`minhash_lsh_cross_pairs` in a continuously-ingesting
    pipeline. ``cluster_map`` is the standing (doc_id, cluster_id) map
    (only clustered docs listed, cluster_id = min reachable doc id —
    :func:`connected_components`'s contract); ``new_pairs`` is the
    incoming edge batch (new x corpus and new x new). Returns the
    updated map, EQUAL BY CONSTRUCTION to a full recompute over
    old ∪ new pairs.

    Cluster contraction: each old cluster is one supernode named by its
    label, so the only graph that needs solving is the CONTRACTION graph
    — new edges rewritten endpoint -> current label — which is bounded
    by the batch's edge count regardless of corpus size. Its components
    give (old label -> new root); since every old label is already the
    min of its members and fresh endpoints enter as themselves, the new
    root (min over the contraction component) equals the min over the
    merged member sets, so min-label canonicality is preserved through
    the shortcut. The contraction is solved by
    :func:`connected_components` and lands in its driver union-find
    gate by construction (edge count <= the batch size).

    Scale shape: the corpus-sized ``cluster_map`` is touched by exactly
    TWO map-side operations — a broadcast semi-join restricting it to
    the batch's endpoints, and a broadcast left join applying the
    (batch-bounded) relabel — it never shuffles and is never
    re-clustered; everything else is batch-edge-sized. Per-batch work is
    O(new edges), not O(corpus).

    Two execution paths, picked by the COUNTED batch size against the
    driver gate (``sizing.DRIVER_ROWS``, which states the rule and its
    crossover table):

    - ``<= driver_threshold`` new pairs: the whole batch-bounded tail
      (endpoint labels, contraction, union-find, remap, fresh rows)
      runs in the DRIVER. This adds NO driver-memory class the
      distributed tail doesn't already have — that tail routes ``ends``,
      ``touched``, ``lbl`` (x2) and ``remap`` through ``F.broadcast``,
      and every broadcast is collected to the driver before shipping —
      while replacing ~8 broadcast-exchange builds, 2 distinct shuffles,
      3 persists and 2 actions with 2 bounded collects and 1 broadcast.
      The corpus map still never moves: it is read by the same two
      map-side operations (endpoint semi-join, relabel left join).
    - above the gate: the original all-DataFrame tail (no bounded
      collect anywhere beyond the contraction CC's own gate). Its
      contraction solve (connected_components, ``max_iter=25``) can
      stop early on a high-diameter graph, such as a long merge chain,
      where the driver union-find stays exact; near-dup contraction
      graphs are small-diameter by construction.
    """
    from mysql2psql_spark.operators.materialize import materialize

    n_new = new_pairs.count()
    if n_new <= driver_threshold:
        return _incremental_driver_tail(cluster_map, new_pairs, id_a, id_b)

    ends = new_pairs.select(F.col(id_a).alias("doc_id")).unionByName(
        new_pairs.select(F.col(id_b).alias("doc_id"))
    ).distinct()
    # endpoint -> current label, restricted map first (broadcast
    # semi-join: batch-bounded output, the corpus map never shuffles)
    touched = materialize(
        cluster_map.join(F.broadcast(ends), "doc_id", "left_semi")
    )
    if caches is not None:
        caches.append(touched)
    lbl = ends.join(F.broadcast(touched), "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("lbl")
    )
    lbl = materialize(lbl)
    if caches is not None:
        caches.append(lbl)
    la = lbl.select(F.col("doc_id").alias(id_a), F.col("lbl").alias("la"))
    lb = lbl.select(F.col("doc_id").alias(id_b), F.col("lbl").alias("lb"))
    contraction = (
        new_pairs.join(F.broadcast(la), id_a)
        .join(F.broadcast(lb), id_b)
        .filter(F.col("la") != F.col("lb"))
        .select(
            F.least("la", "lb").alias(id_a), F.greatest("la", "lb").alias(id_b)
        )
        .distinct()
    )
    # (old label -> new root) for every label whose component merged;
    # batch-bounded, so the driver union-find gate applies by construction
    remap = materialize(
        connected_components(contraction, id_a, id_b).select(
            F.col("doc_id").alias("cluster_id"), F.col("cluster_id").alias("root")
        )
    )
    if caches is not None:
        caches.append(remap)
    updated_old = cluster_map.join(F.broadcast(remap), "cluster_id", "left").select(
        "doc_id", F.coalesce(F.col("root"), F.col("cluster_id")).alias("cluster_id")
    )
    fresh = (
        ends.join(F.broadcast(touched.select("doc_id")), "doc_id", "left_anti")
        .join(F.broadcast(lbl), "doc_id")
        .join(
            F.broadcast(remap.withColumnRenamed("cluster_id", "lbl")), "lbl", "left"
        )
        .select("doc_id", F.coalesce(F.col("root"), F.col("lbl")).alias("cluster_id"))
    )
    return updated_old.unionByName(fresh)


def containment_pairs(
    shingle_df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "sh",
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT containment pairs: (doc_a, doc_b, containment) for every
    ordered pair with |A ∩ B| / |A| >= threshold, doc_a != doc_b — the
    subset-duplicate detector. Jaccard misses a short document embedded
    verbatim in a long one (the intersection is small relative to the
    UNION); containment normalizes by the contained side only, which is
    the right question for quote/extraction/template dedup.

    Scale shape — the asymmetric T-overlap join: overlap >= ceil(t|A|)
    forces A to share an element within its first |A| - ceil(t|A|) + 1
    prefix under the global hash order (same pigeonhole as the Jaccard
    prefix filter), but B carries NO size upper bound, so the B side
    joins with its FULL element list. Candidate blocks are still
    bounded by shingle document frequency, never by corpus size; the
    only lossless size prune on B is |B| >= t|A| (a containing set
    cannot be smaller than the contained overlap). Verification is the
    shared sorted-array intersect, with the threshold evaluated in
    exact integer arithmetic (`_t_frac`).
    """
    t_num, t_den = _t_frac(threshold)
    arrs = _materialize(
        shingle_df.groupBy(id_col)
        .agg(F.sort_array(F.collect_set(hash_col)).alias("arr"))
        .withColumn("n", F.size("arr"))
    )
    prefix_len = f"n - ((({t_num} * n) + {t_den - 1}) div {t_den}) + 1"
    a = (
        arrs.select(id_col, "n", F.expr(f"slice(arr, 1, {prefix_len})").alias("pfx"))
        .select(id_col, "n", F.explode("pfx").alias(hash_col))
        .select(F.col(id_col).alias("doc_a"), hash_col, F.col("n").alias("na"))
    )
    b = arrs.select(
        F.col(id_col).alias("doc_b"), F.explode("arr").alias(hash_col), F.col("n").alias("nb")
    )
    # Candidate dedup as a groupBy CARRYING na (same single exchange as a
    # dropDuplicates — partial aggregation dedupes map-side either way —
    # but the verify stage no longer rejoins the size column). Exchange
    # floor, measured r6 at sf0.1: three exchanges (pair-dedup + one per
    # arr side) is the floor for this shape — candidates leave the
    # shingle join scattered by hash value, so the pair-dedup must
    # shuffle, and each verify join must co-locate by its own doc key; a
    # collect_set-per-doc_a restructuring that reuses the dedup
    # partitioning for the arr_a join measured SLOWER (2.5 s vs 1.7 s
    # median — array build/explode cost exceeds the saved exchange).
    cand = (
        a.join(b, hash_col)
        .filter(
            (F.col("doc_a") != F.col("doc_b"))
            # |B| >= t|A|: t_den*nb >= t_num*na
            & (F.lit(t_den) * F.col("nb") >= F.lit(t_num) * F.col("na"))
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.first("na").alias("na"))
    )
    arr_a = arrs.select(
        F.col(id_col).alias("doc_a"), F.col("arr").alias("arr_a")
    )
    arr_b = arrs.select(F.col(id_col).alias("doc_b"), F.col("arr").alias("arr_b"))
    inter = F.size(F.array_intersect("arr_a", "arr_b"))
    return (
        cand.join(arr_a, "doc_a")
        .join(arr_b, "doc_b")
        .filter(inter * F.lit(t_den) >= F.lit(t_num) * F.col("na"))
        .select(
            "doc_a",
            "doc_b",
            F.round(inter.cast("double") / F.col("na"), 6).alias("containment"),
        )
    )


def cdc_chunks(
    docs: DataFrame,
    w: int = 3,
    divisor: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-defined chunking (the LBFS/FastCDC family, Muthitacharoen
    et al. SOSP 2001): split each document at positions where the hash of
    the trailing ``w``-token window satisfies ``hash % divisor == 0``, so
    chunk boundaries are a function of CONTENT, not offsets — an edit
    shifts only the chunks it touches, and every untouched chunk keeps
    its identity across document versions (fixed-size chunking loses all
    alignment after one insertion; that is the whole point of CDC).
    Word-level rather than byte-level because the corpus is tokenized
    text; mean chunk length is ~``divisor`` tokens. Returns one row per
    chunk: (id_col, chunk_id, chunk_text) with ``chunk_id`` dense per
    document in position order.

    Determinism: the boundary hash is the first 8 hex chars of
    ``md5(space-joined window)`` as int64 — both engines compute it
    bit-for-bit (the negative-sampling draw discipline), so the chunk
    set is exactly reproducible in SQL.

    Scale shape: one posexplode over the corpus tokens, then TWO window
    functions (the ``w-1`` lags and the boundary cumsum) over the SAME
    (document, position) window spec — one sort per document frame,
    PER-DOCUMENT partitions (bounded frames: a document's length is
    bounded by ingest contract — the text_pack_sequences discipline;
    nothing partitions by a corpus-scale key), then one (doc, chunk)
    hash aggregate whose ordered reassembly is the A1 sort_array idiom,
    not an ordered window."""
    from pyspark.sql.window import Window as W

    wdw = W.partitionBy(id_col).orderBy("pos")
    tok = docs.select(
        id_col, F.posexplode(F.split(F.col(text_col), " ")).alias("pos0", "word")
    ).select(id_col, (F.col("pos0") + 1).alias("pos"), "word")
    wgram = F.concat_ws(
        " ", *[F.lag("word", w - 1 - j).over(wdw) for j in range(w - 1)], F.col("word")
    )
    flag = F.when(
        (F.col("pos") >= w)
        & (
            F.conv(F.substring(F.md5(wgram), 1, 8), 16, 10).cast("long")
            % divisor
            == 0
        ),
        1,
    ).otherwise(0)
    assigned = tok.withColumn("_flag", flag).select(
        id_col,
        "pos",
        "word",
        (
            F.sum("_flag").over(wdw.rowsBetween(W.unboundedPreceding, W.currentRow))
            - F.col("_flag")
        ).alias("chunk_id"),
    )
    return assigned.groupBy(id_col, "chunk_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s.word,
            ),
            " ",
        ).alias("chunk_text")
    )


def cdc_dedup_profile(chunks: DataFrame) -> DataFrame:
    """Chunk-level dedup savings profile over a :func:`cdc_chunks` frame:
    group identical chunk texts by md5, then histogram the instance
    counts — (dup_count, n_chunks, dup_chars), where ``dup_chars`` is
    the storage a chunk-store would save ((count - 1) * chunk bytes,
    summed). Two hash aggregates, both map-side combinable; output rows
    are the distinct multiplicity values (a heavy-tailed handful at any
    corpus size)."""
    per_hash = chunks.groupBy(F.md5("chunk_text").alias("h")).agg(
        F.count("*").alias("cnt"),
        F.max(F.length("chunk_text")).alias("chars"),
    )
    return per_hash.groupBy(F.col("cnt").cast("bigint").alias("dup_count")).agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum((F.col("cnt") - 1) * F.col("chars")).cast("bigint").alias("dup_chars"),
    )


def winnowing_fingerprints(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every ``k``-token gram, then
    keep the MINIMUM hash of each ``w``-gram sliding window. Guarantee
    the other fingerprint tiers lack: any shared token run of at least
    ``w + k - 1`` tokens contains a complete window in both documents
    and therefore shares its min fingerprint — detection is certain, not
    probabilistic (MinHash), while the kept density stays ~2/(w+1) of
    the grams (fixed-chunk spans pay full density; CDC keeps whole
    chunks). Returns DISTINCT (id_col, fhash) rows.

    This variant keeps the window-min VALUE set per document (not
    (hash, pos) — position-free sets are what the cross-document match
    join consumes); ties and repeats collapse in the distinct, which
    both engines state identically.

    Scale shape: one posexplode, then the gram build (``k-1`` leads),
    the per-partition length, and the window min all share ONE
    per-document window spec — bounded frames, one sort per document
    (the cdc_chunks discipline); the distinct is a (doc, hash) hash
    aggregate. Hashes are md5-prefix int64 (the engine's portable-hash
    discipline), so the SQL oracle reproduces the exact fingerprint
    sets."""
    from pyspark.sql.window import Window as W

    wdw = W.partitionBy(id_col).orderBy("pos")
    whole = W.partitionBy(id_col)
    tok = docs.select(
        id_col, F.posexplode(F.split(F.col(text_col), " ")).alias("pos0", "word")
    ).select(id_col, (F.col("pos0") + 1).alias("pos"), "word")
    gram = F.concat_ws(
        " ", F.col("word"), *[F.lead("word", j).over(wdw) for j in range(1, k)]
    )
    grams = (
        tok.withColumn("_n", F.count("*").over(whole))
        .withColumn("_gram", gram)
        .filter(F.col("pos") + (k - 1) <= F.col("_n"))
        .select(
            id_col,
            "pos",
            F.conv(F.substring(F.md5("_gram"), 1, 8), 16, 10)
            .cast("long")
            .alias("ghash"),
            (F.col("_n") - k + 1).alias("n_grams"),
        )
    )
    wmin = F.min("ghash").over(wdw.rowsBetween(W.currentRow, w - 1))
    return (
        grams.withColumn("_wmin", wmin)
        .filter(F.col("pos") + (w - 1) <= F.col("n_grams"))
        .select(id_col, F.col("_wmin").alias("fhash"))
        .distinct()
    )


def winnowing_match_pairs(
    fp: DataFrame,
    min_shared: int,
    id_col: str = "doc_id",
    caches: "list[DataFrame] | CacheHandle | None" = None,
) -> DataFrame:
    """Cross-document matches over a :func:`winnowing_fingerprints`
    frame: pairs sharing >= ``min_shared`` fingerprints, with the count.
    One fingerprint-keyed self-join (the LSH-banding bucket shape: pair
    volume is bounded by per-hash document frequency, never the corpus
    square) + one pair-keyed count. The fingerprint frame is
    materialized first — both self-join sides consume it, and a frame
    whose last op is an exchange is neither reliably deduped by
    ReusedExchange nor safe from AQE re-planning (the lsh_cosine_pairs
    finding verbatim: pre-persist, the executed plan ran the whole
    scan + explode + two-sort window pipeline once per side). Released
    via the pagerank ``caches`` contract. A corpus-stopword gram can
    make one fhash hot — the minhash_lsh_pairs skew analysis applies
    verbatim (AQE skew-join absorbs moderate heat; at production add a
    document-frequency cap on fhash, the prefix-filter discipline)."""
    fp = materialize(fp)
    if caches is not None:
        caches.append(fp)
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fhash") == F.col("b.fhash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
