"""Graph analytics over DataFrame edge lists: PageRank, degrees,
triangle counts.

Authority scoring over a link graph is a standard corpus-quality signal
for training-data pipelines (OPIC/PageRank-style weights over a web
graph decide crawl and sampling priority). The reference has no graph
surface; this is engine-extension surface built Spark-first:

- the graph is an EDGE LIST DataFrame ``(src, dst)`` — no driver-side
  adjacency, no vertex collection; every iteration is a join + hash
  aggregation that shuffles on the vertex key;
- the edge frame persists once for all iterations (plan-level cache, no
  driver-side toRdd planning); rank frames localCheckpoint every third
  iteration so lineage stays bounded on long runs — the same discipline
  as connected components (operators/dedup.py);
- the non-normalized Google formulation ``r' = 0.15 + 0.85 * sum(r/deg)``
  avoids a global node-count scalar entirely (no driver collect, no
  one-row crossJoin);
- contributions are floor-truncated to the 1e-9 grid AS INTEGERS
  (``FLOOR(x * 1e9)`` — the IEEE product and floor are exact and
  identical in Spark and DuckDB, unlike ROUND, whose half-boundary
  behavior diverged by 1e-9 on 7 of 1600 nodes when first tried; the
  same class as the percentile fix in queries/core.py) and summed as
  exact BIGINT, so a SQL oracle that unrolls the iterations reproduces
  bit-identical ranks — float summation ORDER never matters.

At 100 TB scale: the edge list is the only big table; per-iteration cost
is one shuffle of the edge frame on dst plus a vertex-keyed aggregate.
The degree and rank frames are vertex-sized; Spark's optimizer (AQE)
picks broadcast vs shuffled join by their runtime size — deliberately
not pinned here because vertex tables outgrow broadcast on real graphs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mysql2psql_spark.sizing import rows_width
from mysql2psql_spark.sources.local import sql_literal

# 1e-9 contribution grain: fine enough that 3-iteration ranks are
# stable, exact as BIGINT up to rank sums of ~9e9 (2^63 / 1e9).
_SCALE = 1_000_000_000


def undirected_edges(
    pairs: DataFrame, a: str, b: str, pairs_distinct: bool = False
) -> DataFrame:
    """Distinct bidirectional edge list from a (a, b) pair frame.

    Both directions are materialized rows (src, dst): PageRank then sees
    every endpoint as a node with out-degree >= 1, so there is no
    dangling-mass correction term to carry. The doubling is an
    ``explode`` over a two-struct array — ONE scan of the pair frame,
    where the r7 two-select union re-executed the pair frame's producing
    plan (join + distinct upstream in the flagship query) once per
    direction unless exchange reuse happened to fire.

    ``pairs_distinct=True`` skips the dedup shuffle when the caller
    guarantees either that the pair frame is already distinct AND the
    two id namespaces are disjoint (then (a,b) and (b,a) copies can
    never collide, so the doubled list is distinct by construction), or
    that a downstream operator dedupes (``pagerank(dedup_edges=True)``
    folds the dedup into its one build shuffle) — one full edge-list
    exchange saved; the r5 connected-components edge path applied the
    same reasoning."""
    out = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(a).alias("src"), F.col(b).alias("dst")),
                F.struct(F.col(b).alias("src"), F.col(a).alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    return out if pairs_distinct else out.dropDuplicates(["src", "dst"])


def degrees(edges: DataFrame) -> DataFrame:
    """Out-degree per node of a directed edge list (src, dst)."""
    return edges.groupBy("src").agg(F.count("*").alias("deg"))


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    caches: "list[DataFrame] | CacheHandle | None" = None,
    dedup_edges: bool = False,
    n_parts: "int | None" = None,
) -> DataFrame:
    """Non-normalized PageRank: ``r'(v) = (1-d) + d * sum_{u->v} r(u)/deg(u)``
    with r0 = 1.0, run for ``iters`` synchronous iterations.

    Returns (node, rank). Deterministic across engines and partitionings:
    each edge's contribution is ``floor((rank/deg) * 1e9)`` — an exact
    BIGINT — summed exactly (order-free), and the damped update is
    floor-truncated back to the 1e-9 grid.

    ``dedup_edges=True`` accepts an edge list that still contains
    duplicate (src, dst) rows and dedupes it HERE, inside the one build
    shuffle (below) — callers whose raw edges are cheap to produce but
    whose dedup would cost a dedicated exchange (the flagship query's
    lineitem x orders pair frame) skip their own ``distinct``.

    Cache-release contract: the (src, dst, deg) edge frame persists for
    the whole run and the FINAL rank frame still reads it lazily, so it
    cannot be unpersisted here without forfeiting the reuse (unlike
    connected components, whose convergence counts execute eagerly and
    let it release before returning). Long-lived sessions that call this
    repeatedly should pass a ``materialize.CacheHandle`` (context
    manager; a plain ``list`` still works via the same ``append``
    contract): the persisted frame is registered on it and the caller
    releases once ranks are consumed — lineage is kept, so even an
    early release only costs recompute, never correctness. With
    ``caches=None`` the frame stays registered in the CacheManager until
    ``spark.catalog.clearCache()`` (the bench/driver per-query pattern)
    or session end.
    """
    from pyspark.storagelevel import StorageLevel

    # out-degree is a static edge attribute: attach it ONCE and persist
    # the (src, dst, deg) frame, which every iteration (plus the rank-0
    # seed) consumes. The build costs exactly ONE edge-scale exchange:
    # an explicit hash repartition on src, after which BOTH the optional
    # (src, dst) dedup and the src-windowed degree count are
    # exchange-free — hash(src) co-locates every (src, dst) group
    # (HashPartitioning on a subset of the keys satisfies the
    # ClusteredDistribution both operators require). The r7 shape
    # (upstream distinct + window) paid two edge-scale exchanges for the
    # same frame; interleaved 5-run medians at sf0.1: 3.02 s -> 2.64 s
    # for the flagship query. The persisted frame REMAINS hash(src)
    # partitioned, so each iteration's rank join needs no edge-side
    # exchange either. persist, NOT localCheckpoint: each lazy
    # localCheckpoint costs a full toRdd physical-planning pass on the
    # driver at BUILD time (measured r6: 3 checkpoints = 3.9 s of driver
    # planning vs 1.25 s of actual execution at sf0.1), while persist
    # swaps in an InMemoryRelation at plan time for free, computes the
    # edge frame once inside the single job, and keeps lineage (so a
    # lost executor recomputes instead of failing — strictly better
    # under dynamic allocation, see operators/materialize.py).
    # ``n_parts``: the persisted edge frame's exchange is never
    # AQE-coalesced (cached plans keep their static width), so callers
    # that know the edge count pass its row width (sizing.rows_width);
    # None keeps the session width. Ranks are exact integer sums, so
    # partitioning never changes a value.
    if n_parts is not None:
        edges = edges.repartition(n_parts, "src")
    else:
        edges = edges.repartition("src")
    if dedup_edges:
        edges = edges.dropDuplicates(["src", "dst"])
    edges = edges.withColumn(
        "deg", F.expr("count(1) OVER (PARTITION BY src)")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    if caches is not None:
        caches.append(edges)
    ranks = edges.selectExpr("src AS node").distinct().withColumn("rank", F.expr("1.0D"))
    # SQL text with DOUBLE literals (a bare 0.15 would parse as a DECIMAL)
    teleport = sql_literal(round(1.0 - damping, 6))
    damp = sql_literal(float(damping))
    scale = sql_literal(float(_SCALE))
    for i in range(iters):
        contrib = edges.join(ranks.withColumnRenamed("node", "src"), "src").selectExpr(
            "dst", f"floor((`rank` / deg) * {scale}) AS c"
        )
        nxt = contrib.groupBy(F.expr("dst AS node")).agg(
            F.expr(
                f"floor(({teleport} + {damp} * (CAST(sum(c) AS DOUBLE) / {scale})) * {scale})"
                f" / {scale} AS `rank`"
            )
        )
        # Each rank frame has exactly one consumer (the next iteration,
        # or the caller), so no materialization is needed for reuse;
        # TRUNCATE LINEAGE (a real localCheckpoint — persist would keep
        # the nested plan growing) only every third iteration on long
        # runs, never the final one (read once by its consumer).
        if i < iters - 1 and i % 3 == 2:
            ranks = nxt.localCheckpoint(eager=False)
        else:
            ranks = nxt
    return ranks


def triangles(edges: DataFrame, dedup_edges: bool = True) -> DataFrame:
    """Per-node triangle participation over an undirected graph given as
    a DIRECTED (src, dst) edge list carrying both directions (the
    ``undirected_edges`` output). Returns (node, n_triangles): the
    number of triangles each node belongs to; the global triangle count
    is ``sum(n_triangles) / 3``.

    The oriented edge list MUST be distinct: duplicate edges multiply
    the wedge and chord joins QUADRATICALLY, silently overcounting every
    affected triangle (ADVICE r8). The default ``dedup_edges=True``
    therefore dedupes the oriented (lo, hi) list here. The dedup is its
    own exchange — dropDuplicates clusters on the (a, b) PAIR hash,
    which satisfies neither wedge-join side's single-vertex clustering
    (ADVICE r9 corrected an earlier claim of exchange reuse) — but it
    is edge-scale, small next to the wedge join it protects from
    quadratic overcounting. Pass ``False``
    ONLY when the input is already distinct per direction (e.g. the
    ``undirected_edges(..., pairs_distinct=False)`` default output,
    which dedupes internally) — mirroring ``pagerank(dedup_edges=...)``.

    Scale shape — canonical orientation then wedge-close: each
    undirected edge is kept once as (lo, hi); wedges (a < b < c) come
    from joining the oriented list with itself on the middle vertex, and
    a wedge closes iff its (a, c) chord is itself an oriented edge — an
    inner join back to the (distinct) edge list, so every triangle is
    found EXACTLY once with no post-hoc dedup. All three steps are
    hash-partitioned joins on vertex keys; nothing is quadratic in the
    graph (wedge count is sum of C(deg, 2) over the orientation, the
    standard node-iterator bound). Skewed hubs bound the wedge side:
    id-orientation caps a < b < c enumeration at the ordered degree, and
    AQE's skew split handles residual hot vertices (the r8 hot-key probe
    pattern).

    The triangle count is an engine-extension graph-quality signal
    (spam/link-farm detection weights densely-clustered neighborhoods;
    the reference has no graph surface).
    """
    und = edges.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    if dedup_edges:
        und = und.dropDuplicates(["a", "b"])
    ab = und.alias("ab")
    bc = und.select(F.col("a").alias("b"), F.col("b").alias("c")).alias("bc")
    wedges = ab.join(bc, F.col("ab.b") == F.col("bc.b")).select(
        F.col("ab.a").alias("a"), F.col("ab.b").alias("b"), F.col("bc.c").alias("c")
    )
    chord = und.select(F.col("a"), F.col("b").alias("c"))
    tri = wedges.join(chord, ["a", "c"])
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    return per_node


def triangles_adjacency(edges: DataFrame, orient: str = "id") -> DataFrame:
    """Per-node triangle participation via ADJACENCY-ARRAY intersection —
    same contract as :func:`triangles` (directed edge list carrying both
    directions in, (node, n_triangles) out), chosen when per-node degree
    is bounded or moderately skewed: interleaved medians at sf0.1 (1.2M
    edges, 49M wedges, 1.88M triangles) read 2.15 s vs 6.7 s for the
    wedge join, because no wedge row ever materializes or shuffles.

    Shape: one hash aggregation builds the oriented adjacency list
    (collect_set on the raw oriented pairs — the set dedupes, so no
    separate dropDuplicates exchange), the oriented edge list is
    recovered by EXPLODING it (each edge arrives carrying out(u) for
    free), and one hash join attaches out(v). Each edge's triangle
    closers are then ``array_intersect(out(u), out(v))`` — a row-local,
    codegen'd set probe; the join is inner because an edge whose head
    has no out-neighbors closes nothing. Per-node counts: edge (u, v)
    with k closers adds k to u, k to v, and 1 to every closer — one
    explode of (2 + k)-element structs into the counting aggregate.
    Total work is sum-of-degrees element probes, NOT sum-of-C(deg,2)
    wedge rows.

    ``orient`` picks the vertex total order that directs each edge (any
    consistent order finds every triangle exactly once, at its least
    vertex):

    - ``"id"`` (default): cheapest build (one aggregation, no degree
      pass). Correct always, but out(u) is carried by EVERY edge u owns,
      so the streamed bytes are sum(outdeg^2) — a LOW-id hub owns its
      whole neighborhood and the duplication explodes quadratically.
      Measured at sf0.1 with a 44k-degree hub on 30% of orders: 2.2 s
      when the hub id is high (it owns nothing), 18.6 s when low.
    - ``"degree"``: orient toward the higher (degree, id) endpoint —
      hubs never own a list, out-degree is bounded ~sqrt(2m), and
      streamed bytes are bounded m*sqrt(2m) (the classical
      node-iterator++ guarantee). Degree comes from the RAW pair
      multiset (no dedup pass needed — ANY consistent order is correct,
      and raw multiplicity ranks hubs the same). Costs a degree
      aggregation + two node-table joins: 3.5 s uniform / 3.4-4.3 s on
      BOTH hub placements at sf0.1. Pick it whenever hub ids are not
      known to be benign.

    For unbounded power-law hubs (neighbor array too wide for one row)
    use :func:`triangles`, whose wedge join never widens a row.
    """
    from mysql2psql_spark.operators.materialize import materialize

    raw = edges.filter(F.col("src") < F.col("dst"))
    if orient == "degree":
        deg = (
            raw.select(F.explode(F.array("src", "dst")).alias("n"))
            .groupBy("n")
            .agg(F.count("*").alias("d"))
        )
        da = deg.select(F.col("n").alias("src"), F.col("d").alias("_da"))
        db = deg.select(F.col("n").alias("dst"), F.col("d").alias("_db"))
        j = raw.join(da, "src").join(db, "dst")
        src_first = (F.col("_da") < F.col("_db")) | (
            (F.col("_da") == F.col("_db")) & (F.col("src") < F.col("dst"))
        )
        raw = j.select(
            F.when(src_first, F.col("src")).otherwise(F.col("dst")).alias("src"),
            F.when(src_first, F.col("dst")).otherwise(F.col("src")).alias("dst"),
        )
    elif orient != "id":
        raise ValueError(f"orient must be 'id' or 'degree', got {orient!r}")
    # adj feeds BOTH sides of the closer join — materialize, or the whole
    # producing pipeline (edge scan + collect_set shuffle) executes twice
    # (measured: the unmaterialized first cut read 5.0 s vs 2.15 s at
    # sf0.1 in the full bench). Released by the caller's cache clear
    # (bench/driver per-query pattern); lineage kept.
    adj = materialize(
        raw.groupBy(F.col("src").alias("a")).agg(F.collect_set("dst").alias("nbrs"))
    )
    left = adj.select("a", F.col("nbrs").alias("na"), F.explode("nbrs").alias("b"))
    right = adj.select(F.col("a").alias("b"), F.col("nbrs").alias("nb"))
    closers = left.join(right, "b").select(
        "a", "b", F.array_intersect("na", "nb").alias("common")
    )
    contrib = (
        closers.filter(F.size("common") > 0)
        .select(
            F.explode(
                F.concat(
                    F.array(
                        F.struct(
                            F.col("a").alias("node"), F.size("common").alias("n")
                        )
                    ),
                    F.array(
                        F.struct(
                            F.col("b").alias("node"), F.size("common").alias("n")
                        )
                    ),
                    F.transform(
                        "common",
                        lambda c: F.struct(c.alias("node"), F.lit(1).alias("n")),
                    ),
                )
            ).alias("s")
        )
        .select("s.node", "s.n")
    )
    return contrib.groupBy("node").agg(F.sum("n").cast("bigint").alias("n_triangles"))


def _edges_by_v(
    edges: DataFrame, caches: "list[DataFrame] | CacheHandle | None"
) -> DataFrame:
    """The (v, u) edge frame persisted at its row width
    (``sizing.rows_width``), hash-partitioned by ``v`` and seated; the
    staging copy that was counted for the width is freed."""
    from mysql2psql_spark.operators.materialize import materialize, unmaterialize

    raw = materialize(edges.select(F.col("src").alias("v"), F.col("dst").alias("u")))
    out = materialize(raw.repartition(rows_width(raw.count()), "v"))
    out.count()
    unmaterialize(raw)
    if caches is not None:
        caches.append(out)
    return out


def label_propagation(
    edges: DataFrame,
    rounds: int = 2,
    caches: "list[DataFrame] | CacheHandle | None" = None,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007) over an undirected (src, dst)-both-directions edge list: every
    vertex starts labeled with itself; each round it adopts the label
    most frequent among its NEIGHBORS (not itself), ties broken toward
    the smallest label so the result is deterministic and engine-portable
    (the randomized-order variants of LPA are not). Returns (v, lbl)
    after ``rounds`` synchronous rounds.

    Engine extension — the reference has no graph surface; this is the
    mode-label sibling of the min-label iteration inside
    ``connected_components`` (operators/dedup.py), registered separately
    because its fixed-round, tie-broken semantics admit an EXACT unrolled
    SQL oracle where convergence-loop operators get rows-only checks.

    Scale shape: the edge list is persisted ONCE, partitioned by the
    destination vertex ``v`` into graph-sized partitions
    (``sizing.rows_width``: a pair graph is orders of magnitude smaller
    than its corpus, so rounds at spark.sql.shuffle.partitions would pay
    task-scheduling overhead proportional to a corpus-scale conf). Every
    downstream clustering (the seed ``distinct``, each round's
    ``(v, lbl)`` count and the per-vertex mode pick) is on a superset of
    ``v``, so with the neighbor-label join broadcast (AQE picks it
    whenever the label frame is small; on graphs whose vertex frame
    outgrows broadcast it degrades to the natural shuffled join) each
    round runs EXCHANGE-FREE over the resident edge partitions. The mode
    pick is a ``min_by(lbl, struct(-n, lbl))`` aggregation — largest
    count, then smallest label, for any orderable label type — not a
    window, so nothing sorts, and two hash aggs pipeline per round.
    Labels frames chain lineage only ``rounds`` deep, so no checkpoint
    is needed. The returned labels frame still reads the persisted edge
    frame lazily, so it is released by the caller: pass a
    ``materialize.CacheHandle`` (or list) as ``caches``; with
    ``caches=None`` it stays cached until ``spark.catalog.clearCache()``
    or session end.
    """
    und = _edges_by_v(edges, caches)
    labels = und.select("v").distinct().withColumn("lbl", F.col("v"))
    # SQL text: one parsed expression per output column
    for _ in range(rounds):
        nbr = und.join(labels.selectExpr("v AS u", "lbl"), "u").select("v", "lbl")
        counted = nbr.groupBy("v", "lbl").agg(F.expr("count(*) AS n"))
        labels = counted.groupBy("v").agg(
            F.expr("min_by(lbl, struct(-n AS n, lbl AS l)) AS lbl")
        )
    return labels


def _peel_round(
    edges: DataFrame,
    k: int,
    caches: "list[DataFrame] | CacheHandle | None",
    truncate: bool = False,
) -> "tuple[DataFrame, DataFrame]":
    """One synchronous peeling round over a bidirectional (v, u) edge
    list: survivors = vertices with degree >= k in the CURRENT subgraph,
    next edge frame = edges with both endpoints surviving. Both frames
    are multi-consumer (the survivor frame feeds two semi-joins + a
    count; the edge frame feeds the next round's degree agg + its own
    edge count), so both compute once — normally via persist under the
    pagerank ``caches`` release contract, but the survivor frame appears
    TWICE in the next edge plan, so unlike label_propagation's
    linear-depth label chain the nested logical plan TRIPLES per round;
    every ``truncate`` round swaps persist for a lazy localCheckpoint
    (the pagerank/connected_components cadence discipline), which bounds
    plan size at 3^cadence x the last checkpoint instead of 3^rounds.

    Block lifetime (ADVICE r11): truncate-round frames are NOT
    registered on ``caches`` and their storage outlives
    ``CacheHandle.release()`` — ``DataFrame.unpersist`` only clears
    CacheManager entries, and localCheckpoint blocks are RDD-level
    storage it never touches (probed: blocks survive ``df.unpersist``
    and fall only to a ``getPersistentRDDs`` sweep). They are reclaimed
    by the session-level RDD sweep (bench/driver harnesses) or the
    ContextCleaner on driver GC (``get_spark`` pins periodicGC to
    5 min). Persist-round frames DO register and release normally."""
    from mysql2psql_spark.operators.materialize import materialize

    deg = edges.groupBy("v").agg(F.count("*").alias("_deg"))
    surv = deg.filter(F.col("_deg") >= k).select("v")
    if truncate:
        surv = surv.localCheckpoint(eager=False)
    else:
        surv = materialize(surv)
    nxt = edges.join(surv, "v", "left_semi").join(
        surv.withColumnRenamed("v", "u"), "u", "left_semi"
    )
    if truncate:
        nxt = nxt.localCheckpoint(eager=False)
    else:
        nxt = materialize(nxt)
    if caches is not None and not truncate:
        caches.append(surv)
        caches.append(nxt)
    return surv, nxt


def k_core_profile(
    edges: DataFrame,
    k: int,
    rounds: int,
    caches: "list[DataFrame] | CacheHandle | None" = None,
) -> DataFrame:
    """Per-round k-core peeling profile (Seidman 1983 cores; the
    synchronous-parallel peel of Montresor et al. 2013) over an
    undirected (src, dst)-both-directions edge list: each round removes
    EVERY vertex whose degree in the current surviving subgraph is < k,
    simultaneously. Returns one row per round:
    (round, n_vertices, n_edges) — the surviving vertex and undirected
    edge counts after that round. The cascade profile is how a curation
    pipeline picks k (where does the graph collapse?) before committing
    to a core-filtered corpus.

    Engine extension — the reference has no graph surface. FIXED-ROUND
    semantics on purpose: survivor sets shrink monotonically (each
    round's subgraph is contained in the last, so degrees only fall),
    which makes a converged peel a fixpoint of this same round function —
    extra rounds are no-ops. That is exactly what admits the unrolled-CTE
    exact oracle (the label_propagation rationale); the convergence-loop
    variant with a counted early-stop is :func:`k_core`.

    Scale shape: each round is ONE hash aggregate (degree over the
    resident edge partitions) + two semi-joins keyed on the endpoint
    columns; nothing sorts, no window, no |V|-scale broadcast (the
    survivor frame joins shuffled — at graph scale it outgrows any
    broadcast threshold). The input edge frame is persisted once in
    graph-sized partitions by ``v`` (``sizing.rows_width``: round cost
    on a small graph is task scheduling, not compute), and every
    per-round frame is persisted because it has >= 2 consumers (next round + its own count). The
    per-round stats ride ONE action: rounds' 1-row aggregates cross-join
    and union into a single returned frame."""
    cur = _edges_by_v(edges, caches)
    stats = []
    for r in range(1, rounds + 1):
        surv, cur = _peel_round(cur, k, caches, truncate=(r % 3 == 0))
        stats.append(
            surv.agg(F.count("*").cast("bigint").alias("n_vertices"))
            .crossJoin(cur.agg((F.count("*") / 2).cast("bigint").alias("n_edges")))
            .select(F.lit(r).cast("int").alias("round"), "n_vertices", "n_edges")
        )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out


def k_core(
    edges: DataFrame,
    k: int,
    max_rounds: int = 50,
    caches: "list[DataFrame] | CacheHandle | None" = None,
) -> DataFrame:
    """The k-core itself: peel (:func:`_peel_round`) until a fixpoint,
    returning the surviving vertex frame (v). Convergence is a COUNTED
    early-stop — survivor sets shrink monotonically under peeling, so
    count-unchanged proves set-unchanged (no frame diff needed); one
    ``count()`` action per round is the price of data-dependent
    convergence, which is why this variant gets a rows-only check where
    :func:`k_core_profile`'s fixed-round semantics earn the exact
    unrolled-CTE oracle (the connected_components / label_propagation
    split, operators/dedup.py)."""
    cur = _edges_by_v(edges, caches)
    prev_n = None
    surv = cur.select("v").distinct()
    # Intra-loop release (ADVICE r11): round r's count() is the LAST
    # materialization that consumes surv_{r-1} (its only plan consumer,
    # cur_{r-1}, materializes under that count) and cur_{r-2} (consumed
    # by surv_{r-1} and cur_{r-1}, both now resident), so both unpersist
    # here instead of accumulating ~2 persisted frames per round for the
    # loop's lifetime (max_rounds=50). persist keeps lineage, so a freed
    # frame that somehow recomputes later costs work, never correctness.
    # On truncate rounds the call is a harmless no-op (checkpoint blocks
    # are RDD-level storage DataFrame.unpersist never touches — see
    # _peel_round's block-lifetime note). The RETURNED survivor frame is
    # never freed: prev_surv always trails the live round by one.
    prev_surv = None  # surv_{r-1}
    pp_cur = None  # cur_{r-2}
    p_cur = cur  # cur_{r-1}
    for r in range(1, max_rounds + 1):
        surv, nxt = _peel_round(p_cur, k, caches, truncate=(r % 3 == 0))
        n = surv.count()
        if prev_surv is not None:
            prev_surv.unpersist(False)
        if pp_cur is not None:
            pp_cur.unpersist(False)
        prev_surv, pp_cur, p_cur = surv, p_cur, nxt
        if n == prev_n or n == 0:
            break
        prev_n = n
    if caches is None:
        # no handle to release the tail frames through: free the last
        # two edge frames now (the returned surv stays materialized; a
        # recompute through the freed, lineage-kept parents is the
        # documented at-worst cost).
        if pp_cur is not None:
            pp_cur.unpersist(False)
        p_cur.unpersist(False)
    return surv
