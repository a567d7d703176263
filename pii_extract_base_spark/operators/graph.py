"""Distributed connected components over candidate-pair edges.

Resolves near-duplicate PAIRS (the output of `lsh_candidate_pairs`,
`inverted_index_jaccard` or `embedding_near_dup_pairs`) into duplicate
CLUSTERS, each labeled by its minimum member id — the canonical doc a
cluster-dedup pass keeps. The reference engine has no graph operator;
this extends the beyond-reference dedup family (SURVEY.md §2).

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
and Beyond", ACM SoCC 2014, public). Converges in O(log² n) rounds on
ANY graph shape, independent of component diameter. Diameter
independence is the point at corpus scale: templated page families
form long CHAINS (A~B~C~… where non-adjacent pages fall below the
Jaccard threshold), and naive min-label propagation needs O(diameter)
rounds on those — large-star halves chain height every round instead.

Scale shape: each round is two self-contained groupBy+join passes over
the EDGE relation only (two narrow long columns) — document payloads
never enter the loop. Lineage is truncated every round with an eager
localCheckpoint (on a cluster: `spark.sparkContext.setCheckpointDir` +
`checkpoint()`), and convergence needs one count + one isEmpty action
per round — the standard price of an iterative fixed-point (GraphX
pays the same); the round count is log-bounded, not data-bounded.
"""

from pyspark.sql import DataFrame, functions as F, types as T

# Adaptive small-graph short circuit: at or below this many DISTINCT
# edges the whole relation is collected and solved with union-find on
# the driver — the same adaptive-execution move AQE makes when runtime
# stats show a join side is broadcast-small. Rationale: the candidate
# EDGE relation is already the output of capped LSH / inverted-index /
# near-dup stages, so it is orders smaller than the corpus. Honest
# driver-heap math: collect() materializes PYTHON Row objects, not
# packed bytes — ~100-150 B per 2-column row plus the transient
# union-find dict, so 1M edges is a few hundred MB of driver heap
# (fine for the multi-GB drivers a 100-TB job runs, transient, freed
# after the createDataFrame). Size the threshold DOWN via the
# small_graph_edges parameter on memory-constrained drivers. Above
# the threshold the diameter-independent distributed path below is
# the only thing that works; star-contraction pays ~8 scheduled jobs
# per round × O(log² n) rounds of pure overhead below it.
SMALL_GRAPH_EDGES = 1_000_000


def _cc_driver(e: DataFrame, node_col: str, cluster_col: str) -> DataFrame:
    """Union-find over the collected (u, v) edge list. Labels are the
    component minimum — identical by construction to the distributed
    fixed point (both are exact min-id relabelings, no floats), so the
    two paths are interchangeable row-for-row."""
    parent = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:                    # path compression
            parent[x], x = r, parent[x]
        return r

    for row in e.collect():
        u, v = row["u"], row["v"]
        for n in (u, v):
            if n not in parent:
                parent[n] = n
        ru, rv = find(u), find(v)
        if ru != rv:                             # min root absorbs
            parent[max(ru, rv)] = min(ru, rv)
    dt = e.schema["u"].dataType
    schema = T.StructType([T.StructField(node_col, dt),
                           T.StructField(cluster_col, dt)])
    return e.sparkSession.createDataFrame(
        [(n, find(n)) for n in parent], schema)


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round: every node u connects its strictly-larger
    neighbors to m(u) = min(Γ(u) ∪ {u}). Input/output edges are
    oriented (u > v), distinct, self-loop-free."""
    both = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = (both.groupBy("u").agg(F.min("v").alias("_mn"))
             .select("u", F.least(F.col("_mn"), F.col("u")).alias("m")))
    return (both.join(m, "u")
                .where(F.col("v") > F.col("u"))       # larger neighbors
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .distinct())                          # v > u >= m ⇒ u > v


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: every node u connects its smaller-or-equal
    neighborhood (and itself) to its minimum. Orientation-preserving."""
    o = e.select(F.greatest("u", "v").alias("u"),
                 F.least("u", "v").alias("v"))
    m = o.groupBy("u").agg(F.min("v").alias("m"))     # m < u always
    nbr = (o.join(m, "u")
             .where(F.col("v") != F.col("m"))
             .select(F.col("v").alias("u"), F.col("m").alias("v")))
    own = m.select("u", F.col("m").alias("v"))
    return nbr.union(own).where(F.col("u") != F.col("v")).distinct()


def connected_components(pairs: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 50,
                         node_col: str = "node",
                         cluster_col: str = "cluster",
                         small_graph_edges: int = SMALL_GRAPH_EDGES
                         ) -> DataFrame:
    """(node, cluster) for every node appearing in ``pairs``; cluster =
    the minimum node id of its connected component (so a cluster-dedup
    keeps exactly the rows where node == cluster).

    NULL endpoints are dropped (an unmatched candidate row carries no
    edge). ``max_iter`` is a log-bound backstop — the algorithm
    provably converges in O(log² n) rounds; hitting the bound raises
    rather than returning partially-merged clusters.

    Adaptive execution: the distinct edge relation is materialized
    (localCheckpoint) before the loop anyway, so its exact size is one
    cheap count away; at or below ``small_graph_edges`` the fixed
    point is solved with driver union-find (`_cc_driver`) instead of
    paying O(log² n) rounds of job scheduling — pass 0 to force the
    distributed path. Both paths emit identical min-id labels
    (pytest-pinned in tests/test_graph_cluster.py).
    """
    e = (pairs.select(F.greatest(F.col(src), F.col(dst)).alias("u"),
                      F.least(F.col(src), F.col(dst)).alias("v"))
              .where(F.col("u").isNotNull() & F.col("v").isNotNull()
                     & (F.col("u") != F.col("v")))
              .distinct()
              .localCheckpoint())
    if small_graph_edges and e.count() <= small_graph_edges:
        return _cc_driver(e, node_col, cluster_col)
    for _ in range(max_iter):
        e2 = _small_star(_large_star(e)).localCheckpoint()
        # fixed point ⇔ same distinct edge set (both sides distinct,
        # so equal counts + empty one-way difference suffices)
        if e2.count() == e.count() and e2.exceptAll(e).isEmpty():
            e = e2
            break
        e = e2
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds")
    # fixed point is a star per component: (member, root) with root =
    # component min; roots themselves appear only on the v side
    members = e.select(F.col("u").alias(node_col),
                       F.col("v").alias(cluster_col))
    roots = (e.select(F.col("v").alias(node_col))
              .distinct()
              .join(e.select(F.col("u").alias(node_col)).distinct(),
                    node_col, "left_anti")
              .select(node_col, F.col(node_col).alias(cluster_col)))
    return members.union(roots)


# PageRank's adaptive gate is lower than CC's: the driver replay is a
# Python loop costing O(iters × edges) dict updates plus O(iters ×
# nodes) exact-decimal roundings, so it only wins while per-round JOB
# SCHEDULING (not arithmetic) dominates — comfortably true at 100k
# edges (~1 s driver vs ~8 rounds × several jobs of pure overhead).
PAGERANK_DRIVER_EDGES = 100_000


def _round_half_up(x: float, quant) -> float:
    """Reproduce Spark's `F.round` on DoubleType exactly: Catalyst
    rounds BigDecimal.decimal(d) — the double's SHORTEST round-trip
    decimal representation, which Python's repr() also produces — at
    the target scale with HALF_UP. Python's builtin round() is
    half-EVEN and would diverge on exact tie digits.

    NOT interchangeable with operators/lr._qround (binary-space
    floor(|x|·10^q+0.5), the DuckDB double-round arithmetic): the two
    disagree on inputs like 2.675 at dp=2. Use THIS helper wherever
    the distributed twin rounds with Catalyst F.round (pagerank,
    Lloyd centroids via operators/cluster)."""
    from decimal import Decimal, ROUND_HALF_UP
    return float(Decimal(repr(x)).quantize(quant, rounding=ROUND_HALF_UP))


def _pagerank_driver(spark, node_type, e_rows,
                     iters: int, damping: float, quant: int,
                     ansi: bool = True) -> DataFrame:
    """Driver replay of the distributed loop over the collected raw
    edge relation (s, t, w) — ONE collect replaces the prep phase's
    five scheduled jobs (nodes distinct, deg agg, en join, has_out
    collect) AND the per-round loop. Every per-round arithmetic step
    mirrors the Spark expression's shape and association order
    (`tp/n + d·(c + dm/n)`), and ranks are quantized per round with
    the identical HALF_UP rule, so the only difference between paths
    is floating SUMMATION ORDER in the degree / contribution /
    dangling aggregates — which the per-round quantization exists to
    absorb (module invariant: ranks ~1/N, order drift ~1 ULP, quant
    digits far coarser). Path parity is pytest-pinned EXACTLY (==),
    not to a tolerance."""
    from decimal import Decimal
    import pyspark.sql.types as T
    q = Decimal(1).scaleb(-quant)
    deg: dict = {}
    has_out = set()
    node_set = set()
    for s, t, w in e_rows:
        node_set.add(s)
        node_set.add(t)
        if s is not None:            # Spark's en USING-join drops them
            # the distributed deg row exists for EVERY non-NULL source
            # (groupBy keeps all-NULL-weight groups, sum() = NULL), so
            # has_out is membership, not a weight sum — a source whose
            # weights are all NULL is NOT dangling there, and its NULL
            # frac contributes nothing; mirror both.
            has_out.add(s)
            if w is not None:        # F.sum skips NULLs
                deg[s] = deg.get(s, 0.0) + w
    # stable iteration across runs (None-safe: NULL nodes sort first)
    nodes = sorted(node_set, key=lambda x: (x is not None, x))
    # NULL-dst contributions are kept in en but never join back onto a
    # rank row in the distributed plan (null-unsafe equi-join) — mirror
    # that by skipping them at accumulation time. NULL weights yield a
    # NULL frac distributed-side (summed away); skip those too. A 0.0
    # weight sum is SESSION-DEPENDENT distributed-side: under ANSI
    # (Spark 4 default) Divide raises DIVIDE_BY_ZERO — mirrored here
    # by ZeroDivisionError — while with spark.sql.ansi.enabled=false
    # it yields a NULL frac that the contribution sum skips; the
    # caller passes the session's setting so both paths agree either
    # way (the zero-sum source stays non-dangling via has_out).
    en_rows = [(s, t, w / deg[s]) for s, t, w in e_rows
               if s is not None and t is not None and w is not None
               and (ansi or deg[s] != 0.0)]
    n = float(len(nodes))
    tp = 1.0 - damping
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        c = dict.fromkeys(nodes, 0.0)
        for s, t, frac in en_rows:
            c[t] = c[t] + rank[s] * frac
        dm = 0.0
        for v in nodes:
            if v not in has_out:
                dm = dm + rank[v]
        rank = {v: _round_half_up(tp / n + damping * (c[v] + dm / n), q)
                for v in nodes}
    schema = T.StructType([T.StructField("node", node_type),
                           T.StructField("rank", T.DoubleType())])
    return spark.createDataFrame([(v, rank[v]) for v in nodes], schema)


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             weight: str = None, iters: int = 8,
             damping: float = 0.85, quant: int = 10,
             small_graph_edges: int = PAGERANK_DRIVER_EDGES) -> DataFrame:
    """Weighted PageRank over an edge relation, fixed iteration count.

    (node, rank) for every node appearing as src or dst.  Per
    iteration: rank'(v) = (1-d)/N + d·(Σ_{u→v} rank(u)·w(u,v)/outdeg(u)
    + dangling_mass/N), the standard dangling-node redistribution.

    Scale shape: the loop body is ONE shuffle (join ranks to the
    pre-normalized edge relation + hash aggregate on dst) plus a 1-row
    broadcast scalar for the dangling mass — node payloads never enter
    the loop, N is a broadcast scalar (no driver .count()), and lineage
    is truncated per round with an eager localCheckpoint, exactly like
    `connected_components`.  Fixed ``iters`` (no convergence action)
    keeps the operator engine-replayable: ranks are quantized to
    ``quant`` decimals after every round so partial-aggregation
    summation order cannot drift across engines or runs.

    Round-4 overhead cuts (r3 verdict item 6): the dangling-node test
    is a STATIC flag computed once before the loop (the old per-round
    ranks⟕has_out anti-join re-derived the same boolean every round),
    so the dangling-mass scalar is a plain filtered aggregate over the
    checkpointed ranks; and rank snapshots older than one round are
    unpersisted as soon as the next round's checkpoint materializes —
    executor storage holds ≤ 2 snapshots instead of ``iters``.

    The reference has no graph surface; this is the beyond-reference
    web-graph family (host link graph from `extract_links`, q65/q66).

    Adaptive execution (round 5, same move as `connected_components`):
    the pre-normalized edge relation is materialized before the loop
    anyway, so at or below ``small_graph_edges`` rows the fixed
    iteration count is replayed on the driver (`_pagerank_driver`) —
    identical arithmetic, identical HALF_UP quantization — instead of
    paying iters × ~4 scheduled jobs of overhead; pass 0 to force the
    distributed loop. Exact path parity is pytest-pinned.
    """
    # materialize the edge relation ONCE: nodes / deg / en / has_out
    # each consume it, and without the barrier every one of them would
    # re-run the caller's upstream subtree (q66's HTML link extraction
    # ran ~5× in the prep phase alone — it dominated the wall once the
    # loop itself went adaptive)
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("t"),
                     (F.col(weight) if weight else F.lit(1))
                     .cast("double").alias("w")).localCheckpoint()
    if small_graph_edges and e.count() <= small_graph_edges:
        # node type must match the DISTRIBUTED path's union-promoted
        # type (e.g. int src ∪ long dst ⇒ long), not the src column
        # alone — derive it from the same union plan (analysis only,
        # no job)
        node_type = (e.select(F.col("s").alias("node"))
                      .union(e.select(F.col("t").alias("node")))
                      .schema["node"].dataType)
        spark = edges.sparkSession
        ansi = spark.conf.get("spark.sql.ansi.enabled").lower() == "true"
        return _pagerank_driver(
            spark, node_type,
            [(r["s"], r["t"], r["w"]) for r in e.collect()],
            iters, damping, quant, ansi=ansi)
    nodes = (e.select(F.col("s").alias("node"))
              .union(e.select(F.col("t").alias("node")))
              .distinct().localCheckpoint())
    ncnt = nodes.agg(F.count("*").cast("double").alias("n"))
    deg = e.groupBy("s").agg(F.sum("w").alias("deg"))
    # static per-edge fraction w/outdeg — computed once, reused every round
    en = (e.join(deg, "s")
           .select("s", "t", (F.col("w") / F.col("deg")).alias("frac"))
           .localCheckpoint())
    has_out = (deg.select(F.col("s").alias("node"))
                  .withColumn("_has", F.lit(True)))
    teleport = 1.0 - damping     # bind the double ONCE; oracle inlines repr()

    ranks = (nodes.join(has_out, "node", "left")
                  .crossJoin(F.broadcast(ncnt))
                  .select("node",
                          (F.lit(1.0) / F.col("n")).alias("rank"),
                          F.coalesce("_has", F.lit(False))
                           .alias("has_out"))
                  .localCheckpoint())
    for _ in range(iters):
        contrib = (en.join(ranks, en["s"] == ranks["node"])
                     .groupBy("t")
                     .agg(F.sum(F.col("rank") * F.col("frac")).alias("c")))
        dang = (ranks.where(~F.col("has_out"))
                     .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")))
        prev = ranks
        ranks = (prev
                 .join(contrib, prev["node"] == contrib["t"], "left")
                 .crossJoin(F.broadcast(dang))
                 .crossJoin(F.broadcast(ncnt))
                 .select(
                     "node",
                     F.round(
                         F.lit(teleport) / F.col("n")
                         + F.lit(damping)
                         * (F.coalesce(F.col("c"), F.lit(0.0))
                            + F.col("dm") / F.col("n")),
                         quant).alias("rank"),
                     "has_out")
                 .localCheckpoint())      # eager: prev is now dead
        prev.unpersist()
    return ranks.select("node", "rank")


def pagerank_oracle_sql(edges_cte: str, iters: int = 8,
                        damping: float = 0.85, quant: int = 10) -> str:
    """DuckDB replay of `pagerank` as unrolled CTE rounds.

    ``edges_cte`` must select columns (s, t, w).  Doubles are inlined
    via repr() (round-trips exactly) and every arithmetic step mirrors
    the Spark expression's shape and association order; ::DOUBLE casts
    keep DuckDB out of DECIMAL arithmetic.
    """
    d, tp = repr(float(damping)), repr(1.0 - damping)
    ctes = [
        f"e AS MATERIALIZED ({edges_cte})",
        "nodes AS (SELECT DISTINCT s AS node FROM e "
        "UNION SELECT DISTINCT t FROM e)",
        "nn AS (SELECT count(*)::DOUBLE AS n FROM nodes)",
        "deg AS (SELECT s, sum(w::DOUBLE) AS deg FROM e GROUP BY s)",
        "en AS (SELECT e.s, e.t, e.w::DOUBLE / deg.deg AS frac "
        "FROM e JOIN deg USING (s))",
        "r0 AS MATERIALIZED (SELECT node, 1.0::DOUBLE / nn.n AS rank FROM nodes, nn)",
    ]
    for i in range(1, iters + 1):
        p = f"r{i - 1}"
        ctes.append(f"""r{i} AS MATERIALIZED (
            SELECT nodes.node,
                   round(({tp})::DOUBLE / nn.n + ({d})::DOUBLE *
                         (coalesce(c.c, 0.0::DOUBLE) + dg.dm / nn.n),
                         {quant}) AS rank
            FROM nodes
            LEFT JOIN (SELECT en.t, sum(r.rank * en.frac) AS c
                       FROM en JOIN {p} r ON en.s = r.node
                       GROUP BY en.t) c ON nodes.node = c.t,
                 nn,
                 (SELECT coalesce(sum(r.rank), 0.0::DOUBLE) AS dm
                  FROM {p} r LEFT JOIN deg ON r.node = deg.s
                  WHERE deg.s IS NULL) dg
        )""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT node, rank FROM r{iters}")


def dup_clusters(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                 keep_col: str = "is_canonical") -> DataFrame:
    """Join cluster labels back onto the corpus: every doc in a
    near-dup cluster gets (cluster, is_canonical); docs in no pair are
    their own singleton cluster. The cluster-dedup rule 'keep one doc
    per cluster' is then a simple ``where(is_canonical)`` — the
    transitive-closure alternative to dedup_corpus's greedy-by-id."""
    cc = connected_components(pairs, node_col=id_col,
                              cluster_col="cluster")
    return (df.join(cc, id_col, "left")
              .select(df["*"],
                      F.coalesce(F.col("cluster"), F.col(id_col))
                       .alias("cluster"))
              .withColumn(keep_col, F.col("cluster") == F.col(id_col)))
