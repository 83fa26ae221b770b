"""Graph and statistical analytics: PageRank, exact moments, WAU, baskets.

Four operator families the reference's warehouse could run as SQL but
never ships, each with the distributed plan a 100 TB graph/fact needs:

- **PageRank** over the part co-purchase graph — iterative, yet fully
  hash-verifiable: per-iteration rank contributions are quantized with
  the same ``floor(x · 2^28)`` fixed-point trick as k-means
  (operators/clustering.py), so integer sums are exact and order-free
  and DuckDB replays the whole unrolled loop bit-for-bit.
- **Exact second moments** (corr / covariance / stddev) from DECIMAL
  power sums.  Spark's built-in ``corr``/``covar_samp`` merge float
  co-moments in shuffle-arrival order — bit-unstable run-to-run; the
  power-sum formulation is exact until one final double expression.
- **Sliding-window WAU** — distinct users per trailing 4 weeks via a
  map-side offset explode (the Expand fan-out), never a self-join.
- **Market-basket co-purchase pairs** — the classic same-order
  self-join, bounded by lines-per-order, keyed on the order so the
  pair generation never leaves the partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import table

#: Fixed-point scale shared with operators/clustering.py.
_FP = float(1 << 28)
_FP_SQL = "268435456.0"

PR_DAMPING = 0.85
PR_ITERS = 3


# --- PageRank over the part co-purchase graph ------------------------------

def _copurchase_edges(
    spark: SparkSession, sf_dir: str, oriented: bool = False
) -> DataFrame:
    """Undirected co-purchase edges (both directions materialized).

    One ``collect_set`` aggregation per order replaces the former
    distinct + self-join on ``l_orderkey``: the per-order part set is
    exactly what the self-join materialized within each partition, but
    the aggregate needs ONE exchange (map-side partial ``collect_set``)
    where the join shape needed two (the (orderkey, partkey) distinct,
    then the re-shuffle of both join sides onto the order key).  Pair
    fan-out runs as two codegen ``explode``s over the set — bounded by
    parts-per-order, the same bound the join had.  Result set is
    identical (distinct directed pairs, src != dst); the r12
    optimization round measured the 8 graph consumers' plans at 4
    exchanges → 3 with value-hash-identical output.

    ``oriented=True`` keeps only the ``src < dst`` orientation — the
    frame the triangle/edge-similarity consumers immediately filter
    down to anyway.  The both-directions form is built as the oriented
    distinct UNIONed with its swap: the ``src < dst`` cut below the
    distinct halves the pair exchange's input (guide §2.3: shuffle
    fewer bytes), and the codegen union doubles rows after the
    exchange — the directed-pair set is identical (measured ~10%
    faster per build across 5 interleaved reps, ×8 graph consumers).
    """
    sets = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("_ps"))
    )
    und = (
        sets.select(F.explode("_ps").alias("src"), "_ps")
        .select("src", F.explode("_ps").alias("dst"))
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    if oriented:
        return und
    return und.unionAll(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def q_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 PageRank iterations on the co-purchase graph (d = 0.85).

    Classic distributed PageRank: edges pre-joined with out-degrees,
    contributions shuffled to their destination, one hash aggregate per
    iteration.  Ranks are re-quantized to 2^-28 every iteration so the
    contribution sums are exact integer sums — deterministic under any
    partial-aggregation merge order, and replayable as unrolled SQL
    (the oracle below).  Dangling nodes cannot exist (the graph is
    undirected), so no dangling-mass term is needed.

    ``edges``/``nodes`` are persisted (read once per iteration); the
    returned frame is lazy, so the caller owns the cache lifetime —
    long-lived loops release it with ``spark.catalog.clearCache()``
    (scripts/scale_smoke.py does) or accept LRU eviction.
    """
    edges = _copurchase_edges(spark, sf_dir).persist()
    nodes = edges.select(F.col("src").alias("part")).distinct().persist()
    n_nodes = nodes.count()  # scalar: graph size (bounded, metadata-ish)
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))

    base = F.lit((1.0 - PR_DAMPING) / n_nodes)
    # rank as fixed-point BIGINT; initial rank 1/N quantized.
    r = nodes.withColumn(
        "rq", F.floor(F.lit(1.0 / n_nodes) * _FP).cast("bigint")
    )
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(r, edges.src == r.part)
            .join(deg, "src")
            .select(
                "dst",
                # per-edge contribution, re-quantized: floor((rq/2^28)/deg * 2^28)
                F.floor(
                    (F.col("rq").cast("double") / _FP)
                    / F.col("deg").cast("double")
                    * _FP
                ).cast("bigint").alias("cq"),
            )
        )
        sums = contrib.groupBy("dst").agg(F.sum("cq").alias("sq"))
        r = (
            nodes.join(sums, nodes.part == sums.dst, "left")
            .select(
                "part",
                F.floor(
                    (
                        base
                        + F.lit(PR_DAMPING)
                        * (F.coalesce(F.col("sq"), F.lit(0)).cast("double") / _FP)
                    )
                    * _FP
                ).cast("bigint").alias("rq"),
            )
        )
    return r.select(
        "part",
        F.round(F.col("rq").cast("double") / _FP, 9).alias("pagerank"),
    )


def _pagerank_oracle(iters: int = PR_ITERS, d: float = PR_DAMPING) -> str:
    ctes = [
        """edges AS (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
    JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
)""",
        "nodes AS (SELECT DISTINCT src AS part FROM edges)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
        f"r0 AS (SELECT part, CAST(floor(1.0 / n * {_FP_SQL}) AS BIGINT) AS rq"
        " FROM nodes, nn)",
    ]
    for it in range(iters):
        ctes.append(
            f"""c{it} AS (
    SELECT e.dst,
           CAST(floor((r.rq / {_FP_SQL}) / CAST(d.deg AS DOUBLE) * {_FP_SQL})
                AS BIGINT) AS cq
    FROM edges e
    JOIN r{it} r ON e.src = r.part
    JOIN deg d ON e.src = d.src
)"""
        )
        ctes.append(
            f"""r{it + 1} AS (
    SELECT n.part,
           CAST(floor((({1.0 - d}) / nn.n
                + {d} * (CAST(COALESCE(s.sq, 0) AS DOUBLE) / {_FP_SQL}))
                * {_FP_SQL}) AS BIGINT) AS rq
    FROM nodes n
    LEFT JOIN (SELECT dst, CAST(sum(cq) AS BIGINT) AS sq FROM c{it}
               GROUP BY dst) s
      ON n.part = s.dst, nn
)"""
        )
    return (
        "WITH\n"
        + ",\n".join(ctes)
        + f"\nSELECT part, round(rq / {_FP_SQL}, 9) AS pagerank FROM r{iters}"
    )


# --- Exact second moments ---------------------------------------------------

def _d4(c: Column) -> Column:
    return c.cast("decimal(38,4)")


def q_exact_moments_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corr/covar/stddev per return flag from exact decimal power sums.

    n, Σx, Σy, Σx², Σy², Σxy accumulate in DECIMAL (order-free); the
    moment formulas evaluate once per group as one double expression
    tree, identical in any engine.  Spark's float ``corr`` would merge
    partial co-moments in shuffle order and flake the hash gate.
    """
    li = table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(_d4(x)).alias("sx"),
        F.sum(_d4(y)).alias("sy"),
        F.sum(_d4(x * x)).alias("sxx"),
        F.sum(_d4(y * y)).alias("syy"),
        F.sum(_d4(x * y)).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    cov = (sxy - sx * sy / n) / (n - 1)
    vx = (sxx - sx * sx / n) / (n - 1)
    vy = (syy - sy * sy / n) / (n - 1)
    # var > 0 guard before sqrt (near-constant groups can round the
    # E[x²]−E[x]² form slightly negative; DuckDB raises on sqrt(neg)).
    stdx = F.when(vx > 0, F.sqrt(vx))
    stdy = F.when(vy > 0, F.sqrt(vy))
    return agg.select(
        "l_returnflag",
        F.col("n"),
        F.round(cov, 6).alias("covar_qty_price"),
        F.round(stdx, 6).alias("stddev_qty"),
        F.round(stdy, 6).alias("stddev_price"),
        F.round(cov / (stdx * stdy), 6).alias("corr_qty_price"),
    )


ORACLE_EXACT_MOMENTS_SUITE = """
WITH sums AS (
    SELECT l_returnflag,
           count(*) AS n,
           sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sx,
           sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sy,
           sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
                    * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxx,
           sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS syy,
           sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
                    * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxy
    FROM lineitem
    GROUP BY l_returnflag
),
m AS (
    SELECT l_returnflag, n,
           CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
           CAST(sxx AS DOUBLE) AS sxx, CAST(syy AS DOUBLE) AS syy,
           CAST(sxy AS DOUBLE) AS sxy,
           CAST(n AS DOUBLE) AS nd
    FROM sums
),
v AS (
    SELECT l_returnflag, n, nd, sxy, sx, sy,
           (sxx - sx * sx / nd) / (nd - 1) AS vx,
           (syy - sy * sy / nd) / (nd - 1) AS vy
    FROM m
)
SELECT l_returnflag,
       n,
       round((sxy - sx * sy / nd) / (nd - 1), 6) AS covar_qty_price,
       round(CASE WHEN vx > 0 THEN sqrt(vx) END, 6) AS stddev_qty,
       round(CASE WHEN vy > 0 THEN sqrt(vy) END, 6) AS stddev_price,
       round(((sxy - sx * sy / nd) / (nd - 1))
             / ((CASE WHEN vx > 0 THEN sqrt(vx) END)
                * (CASE WHEN vy > 0 THEN sqrt(vy) END)), 6) AS corr_qty_price
FROM v
"""


# --- Sliding-window weekly active users ------------------------------------

def q_weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-4-week distinct active users per report week.

    Each (user, activity-week) row fans out to the 4 report weeks it
    counts toward (map-side Expand via explode — no self-join), then
    one distinct count per report week.
    """
    ev = table(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts")).cast("date")
    activity = ev.select("user_id", week.alias("act_week")).distinct()
    fanned = activity.select(
        "user_id",
        F.explode(
            F.array(*[F.date_add(F.col("act_week"), 7 * off) for off in range(4)])
        ).alias("report_week"),
    )
    return fanned.groupBy("report_week").agg(
        F.countDistinct("user_id").alias("wau")
    )


ORACLE_WEEKLY_ACTIVE_USERS = """
WITH activity AS (
    SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS act_week
    FROM events
),
fanned AS (
    SELECT user_id, act_week + INTERVAL (t.o * 7) DAY AS report_week
    FROM activity
    CROSS JOIN unnest(range(0, 4)) AS t(o)
)
SELECT CAST(report_week AS DATE) AS report_week,
       count(DISTINCT user_id) AS wau
FROM fanned
GROUP BY report_week
"""


# --- Market-basket co-purchase pairs ---------------------------------------

def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part pairs bought together in ≥ 3 orders (support count).

    The pair generation uses the same one-aggregation shape as
    ``_copurchase_edges`` (r12 optimization): one ``collect_set`` per
    order (map-side partial, ONE fact-scale exchange) replaces the
    distinct + self-join (two lineitem scans, three exchanges); the
    ordered-pair fan-out runs as two codegen ``explode``s bounded by
    parts-per-order — exactly the bound the self-join had — and each
    unordered pair appears once per order, so the support counts are
    identical.
    """
    sets = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("_ps"))
    )
    return (
        sets.select(F.explode("_ps").alias("part_a"), "_ps")
        .select("part_a", F.explode("_ps").alias("part_b"))
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 3)
    )


ORACLE_COPURCHASE_PAIRS = """
WITH lines AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_orders
FROM lines a
JOIN lines b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY a.l_partkey, b.l_partkey
HAVING count(*) >= 3
"""


#: Broadcast budget for the triangle-closure adjacency frame, in
#: oriented edges (= total adjacency-list entries, 8 bytes each plus
#: array overhead → ~0.5 GB at the cap; two copies are broadcast).
#: Past it, the closure join runs shuffled on the same plan — a
#: power-law graph at 100× must degrade to a shuffle, not OOM the
#: driver.  tests/test_round3_plans.py pins both branches.
TRIANGLE_BROADCAST_MAX_EDGES = 32_000_000


def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts on the co-purchase graph.

    Degree-oriented triangle enumeration (Suri & Vassilvitskii,
    "Counting triangles and the curse of the last reducer", WWW'11):
    orient every undirected edge from its lower-(degree, id) endpoint
    to the higher one, build wedges ONLY from each node's out-edges,
    and close them against the oriented edge set.  The orientation
    caps out-degree at O(√m), so wedge volume is O(m^1.5) instead of
    Σ deg² — the difference between a plan that survives a power-law
    graph at 100 TB and one whose max-degree reducer never finishes.
    Each triangle is enumerated exactly once (at its lowest-key apex);
    per-node counts come from exploding the three corners.  All
    integer arithmetic — hash-stable.
    """
    und = _copurchase_edges(spark, sf_dir, oriented=True).persist()
    deg = (
        und.select(F.col("src").alias("node"))
        .unionAll(und.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # total order (deg, id) packed into one BIGINT sort key
    key = (F.col("deg") * F.lit(10_000_000) + F.col("node")).alias("okey")
    keyed = deg.select("node", key)
    e = (
        und.join(keyed.withColumnRenamed("node", "src"), "src")
        .withColumnRenamed("okey", "k_src")
        .join(keyed.withColumnRenamed("node", "dst"), "dst")
        .withColumnRenamed("okey", "k_dst")
        .select(
            F.when(F.col("k_src") < F.col("k_dst"), F.col("src"))
            .otherwise(F.col("dst"))
            .alias("lo"),
            F.when(F.col("k_src") < F.col("k_dst"), F.col("dst"))
            .otherwise(F.col("src"))
            .alias("hi"),
        )
        .persist()
    )
    # Close triangles by ADJACENCY INTERSECTION instead of enumerating
    # the O(m^1.5) wedge frame: for each oriented edge (b→c), the
    # apexes are in(b) ∩ in(c) — the in-adjacency lists broadcast (the
    # compressed graph, not the wedge stream), and the intersection
    # runs inside codegen per edge.  Same asymptotic probe work as
    # wedge enumeration, but no multi-10M-row intermediate ever
    # materializes — measured 2.4× faster than the broadcast-wedge
    # plan at sf0.1 (4.2 s vs 10 s; the shuffled-wedge plan was 15 s).
    # On a graph whose adjacency lists outgrow the broadcast budget,
    # the SAME join runs shuffled — chosen automatically: the total
    # adjacency payload is exactly one entry per oriented edge, so
    # |e| (a count over the already-persisted frame, which the later
    # stages re-read anyway) is a precise size estimate, not a guess.
    n_edges = e.count()
    adj_fits = n_edges <= TRIANGLE_BROADCAST_MAX_EDGES

    def _adj_side(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if adj_fits else df

    inadj = e.groupBy(F.col("hi").alias("node")).agg(
        F.sort_array(F.collect_list("lo")).alias("ins")
    )
    tri_e = (
        e.join(
            _adj_side(
                inadj.select(F.col("node").alias("lo"), F.col("ins").alias("in_b"))
            ),
            "lo",
            "left",
        )
        .join(
            _adj_side(
                inadj.select(F.col("node").alias("hi"), F.col("ins").alias("in_c"))
            ),
            "hi",
            "left",
        )
        .withColumn(
            "apexes",
            F.array_intersect(
                F.coalesce("in_b", F.array()), F.coalesce("in_c", F.array())
            ),
        )
        .filter(F.size("apexes") > 0)
        .select("lo", "hi", "apexes", F.size("apexes").alias("n_apex"))
    )
    # r12 optimization (guide §2.4): ONE explode over the concatenated
    # corner multiset (apexes ++ lo×n ++ hi×n) replaces the former
    # three-branch unionAll, whose branches each re-evaluated the
    # whole closure subtree (the two adjacency joins + array_intersect
    # ran 3×).  The exploded multiset is identical, so the per-part
    # counts are unchanged.
    corners = tri_e.select(
        F.explode(
            F.concat(
                F.col("apexes"),
                F.array_repeat(F.col("lo"), F.col("n_apex")),
                F.array_repeat(F.col("hi"), F.col("n_apex")),
            )
        ).alias("part")
    )
    return (
        corners.groupBy("part")
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), "part")
    )


ORACLE_TRIANGLE_COUNTS = """
WITH und AS (
    SELECT src, dst FROM (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
    ) WHERE src < dst
),
deg AS (
    SELECT node, count(*) AS deg FROM (
        SELECT src AS node FROM und UNION ALL SELECT dst FROM und
    ) GROUP BY node
),
e AS (
    SELECT
        CASE WHEN ks.okey < kd.okey THEN u.src ELSE u.dst END AS lo,
        CASE WHEN ks.okey < kd.okey THEN u.dst ELSE u.src END AS hi,
        least(ks.okey, kd.okey) AS k_lo,
        greatest(ks.okey, kd.okey) AS k_hi
    FROM und u
    JOIN (SELECT node, deg * 10000000 + node AS okey FROM deg) ks
      ON u.src = ks.node
    JOIN (SELECT node, deg * 10000000 + node AS okey FROM deg) kd
      ON u.dst = kd.node
),
tri AS (
    SELECT w.a, w.b, w.c
    FROM (
        SELECT e1.lo AS a, e1.hi AS b, e1.k_hi AS kb, e2.hi AS c, e2.k_hi AS kc
        FROM e e1 JOIN e e2 ON e1.lo = e2.lo
        WHERE e1.k_hi < e2.k_hi
    ) w
    JOIN e e3 ON w.b = e3.lo AND w.c = e3.hi
)
SELECT part, CAST(count(*) AS BIGINT) AS n_triangles
FROM (
    SELECT a AS part FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
)
GROUP BY part
ORDER BY n_triangles DESC, part
"""




# --------------------------------------------------------------------------
# k-core decomposition (bounded peeling)
# --------------------------------------------------------------------------

#: k-core threshold and peel-round cap.  Like dedup_clusters, the
#: iterative operator runs a FIXED number of rounds so the driver's
#: oracle can replay it as unrolled SQL; the output carries a
#: ``converged`` flag (no sub-k node left), and when it is true the
#: result IS the exact k-core.  On the synthetic co-purchase graph 3
#: rounds converge at every tested SF (pinned in
#: tests/test_round3_plans.py); at adversarial scale, raise the cap or
#: loop until the removed-count collect hits zero.
KCORE_K = 3
KCORE_ROUNDS = 3


def q_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nodes surviving ``KCORE_ROUNDS`` peels of degree < ``KCORE_K``.

    Classic distributed peeling: per round one map-side-combinable
    degree count plus two anti-joins dropping edges that touch peeled
    nodes (the peeled set is a degree-filtered aggregate — orders of
    magnitude smaller than the edge list, so Spark broadcasts it).
    Output: surviving node, its degree in the surviving subgraph, and
    whether peeling converged (= the survivors are the exact k-core).
    """
    # r12 optimization (guide §2.4/§5): peel by tracking the CUMULATIVE
    # peeled-NODE set instead of materializing a new edge frame per
    # round.  e_r = e0 minus edges touching peeled_r is inductively
    # identical to the round-by-round anti-join chain (peeling only
    # ever removes nodes), so each round is ONE degree aggregation
    # over the cached base edges filtered by two anti-joins against a
    # node-scale frame — the only per-round persist+materialize is the
    # cumulative peeled set (node-scale; the old shape wrote the full
    # edge-scale frame to cache every round and ran its anti-joins as
    # edge-shuffling sort-merge).  Persisting+counting `peeled` also
    # gives the planner its TRUE cached size, so the anti-joins
    # broadcast exactly when the peeled set is genuinely small and
    # degrade to a shuffle when a power-law graph peels wide — no
    # pinned broadcast hint (the kn_bigram ADVICE lesson).  Measured
    # at sf0.1: 2.39M edges, zero nodes peel, and the old shape still
    # paid ~2 s/round re-caching the identical frame.
    e0 = _copurchase_edges(spark, sf_dir).persist()

    def _minus_peeled(base: DataFrame, peeled_nodes: DataFrame) -> DataFrame:
        return base.join(
            peeled_nodes.withColumnRenamed("node", "src"), "src", "anti"
        ).join(peeled_nodes.withColumnRenamed("node", "dst"), "dst", "anti")

    # r13 optimization (guide §2.4): peeling is monotone, so the loop
    # reaches a FIXED POINT the moment a round peels nothing — low_r is
    # disjoint from the already-peeled set (peeled nodes have no edges
    # left, hence no degree row), so the cumulative count stalls exactly
    # when low_r is empty, and then e_{r+1} = e_r makes every remaining
    # round (and the final anti-join pass) the identity.  The count is
    # already collected per round to materialize the cache — branch on
    # it instead of replaying identity rounds.  The unrolled oracle
    # still replays all KCORE_ROUNDS; identity rounds cannot change its
    # values, so the outputs stay bit-identical.  Bonus at the fixed
    # point: this round's degree aggregate IS the final per-survivor
    # degree frame, so the closing _minus_peeled + re-aggregation pass
    # is skipped too (its cache was just filled by the same job).
    peeled: DataFrame | None = None
    prev_n = 0
    final_deg: DataFrame | None = None
    for _ in range(KCORE_ROUNDS):
        e = e0 if peeled is None else _minus_peeled(e0, peeled)
        deg = e.groupBy("src").agg(
            F.count("*").alias("core_degree")
        ).persist()
        low = deg.filter(F.col("core_degree") < KCORE_K).select(
            F.col("src").alias("node")
        )
        nxt = low if peeled is None else peeled.unionByName(low)
        nxt = nxt.persist()
        n = nxt.count()  # materialize: short lineage + true size stats
        if peeled is not None:
            peeled.unpersist()
        peeled = nxt
        if n == prev_n:  # nothing peeled: fixed point reached
            final_deg = deg
            break
        deg.unpersist()
        prev_n = n
    # Collapse the surviving subgraph into the (tiny) node-degree
    # aggregate before returning: persist+materialize final_deg — one
    # row per surviving node, ~0.1% of the edge frame — then release
    # the caches.  Nothing O(edges) outlives the call, and the two
    # consumers below (result + converged flag) read the small cache
    # instead of re-peeling.  Only needed when the peel never stalled:
    # at the fixed point the last round's degree frame was kept above.
    if final_deg is None:
        final_deg = (
            _minus_peeled(e0, peeled)
            .groupBy("src")
            .agg(F.count("*").alias("core_degree"))
            .persist()
        )
        final_deg.count()
    e0.unpersist()
    peeled.unpersist()
    conv = final_deg.agg(
        (F.min("core_degree") >= KCORE_K).alias("converged")
    )
    return final_deg.crossJoin(F.broadcast(conv)).select(
        F.col("src").alias("part"), "core_degree", "converged"
    )


def _kcore_oracle(k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> str:
    ctes = [
        """e0 AS (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
    JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
)"""
    ]
    for r in range(rounds):
        ctes.append(
            f"low{r} AS (\n    SELECT src AS node FROM e{r}"
            f" GROUP BY src HAVING count(*) < {k}\n)"
        )
        ctes.append(
            f"e{r + 1} AS (\n    SELECT e.src, e.dst FROM e{r} e\n"
            f"    WHERE NOT EXISTS (SELECT 1 FROM low{r} l WHERE l.node = e.src)\n"
            f"      AND NOT EXISTS (SELECT 1 FROM low{r} l WHERE l.node = e.dst)\n)"
        )
    ctes.append(
        f"fin AS (\n    SELECT src, CAST(count(*) AS BIGINT) AS core_degree"
        f" FROM e{rounds} GROUP BY src\n)"
    )
    ctes.append(
        f"conv AS (SELECT min(core_degree) >= {k} AS converged FROM fin)"
    )
    return (
        "WITH\n"
        + ",\n".join(ctes)
        + "\nSELECT src AS part, core_degree, converged FROM fin CROSS JOIN conv"
    )


#: BFS rounds — distances 0..BFS_ROUNDS from the hub are emitted.
BFS_ROUNDS = 4


def q_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance from the co-purchase hub (fixed 4 rounds).

    The graph-traversal primitive next to PageRank/LPA/k-core: seed at
    the highest-degree node (ties → min key, a TakeOrdered — never a
    collect), then 4 synchronous relaxation rounds of
    ``dist_r(v) = min(dist_{r-1}(v), min over in-neighbors + 1)``.
    Entirely integer arithmetic — no float anywhere — so the oracle
    (the same 4 rounds unrolled as CTEs) is exact by construction.

    Scale shape: per round ONE shuffle (the frontier⋈edges key) plus a
    min-agg; the frontier frame is persisted+materialized per round so
    the lazy subtree never multiplies (the k-core lesson —
    operators/components.py documents the 10× wall cliff).  At 100 TB
    the distance frame is node-scale (small side), the edge list is
    the big side and is read from its persisted form each round.
    """
    edges = _copurchase_edges(spark, sf_dir).persist()
    # r13: persist the degree aggregate the seed selection already
    # computes, so the node count comes off that cache for free — it
    # feeds the second early-exit test below (settled == |V|), which
    # fires one round EARLIER than the stall test (the stall is only
    # observable after paying a full identity round).
    deg = edges.groupBy("src").agg(F.count("*").alias("deg")).persist()
    n_nodes = deg.count()
    seed = (
        deg.orderBy(F.desc("deg"), F.asc("src"))
        .limit(1)
        .select(F.col("src").alias("node"), F.lit(0).cast("int").alias("dist"))
    )
    dist = seed.persist()
    dist.count()
    deg.unpersist()
    # r12 optimization (guide §2.3): expand only the FRONTIER — nodes
    # first reached in the previous round (dist == r) — instead of the
    # whole settled set.  A settled node u's offers (dist(u)+1 to every
    # out-neighbor) entered the min in the round after u settled, and
    # the union with the previous dist frame carries every settled
    # value forward, so re-offering them each round could never change
    # a min: the per-round dist tables are identical, while the join
    # fan-out and the min-agg shuffle shrink from Σ|settled-adjacent
    # edges| to |frontier-adjacent edges|.
    # r13 optimization (guide §2.4): stop relaxing once a round settles
    # no new node.  Unit-weight BFS never lowers an already-settled
    # distance (every offer is settled+1 ≥ the recorded min), so the
    # per-round count — already collected to materialize the cache —
    # stalls exactly when the next frontier (dist == r+1) is empty, and
    # then every remaining round is the identity (empty join unioned
    # with dist, min over one row per node).  Branch on the count
    # instead of replaying identity rounds; the unrolled oracle still
    # replays all BFS_ROUNDS, and identity rounds cannot change its
    # values, so the outputs stay bit-identical.
    prev_n = 1  # the seed frame has exactly one row
    for r in range(BFS_ROUNDS):
        frontier = dist.filter(F.col("dist") == r)
        relaxed = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
            .unionByName(dist.select("node", "dist"))
            .groupBy("node")
            .agg(F.min("dist").cast("int").alias("dist"))
        )
        prev = dist
        dist = relaxed.persist()
        n = dist.count()
        prev.unpersist()
        # Two fixed-point tests, both on already-collected counts:
        # stall (no new node settled — the frontier died out), and
        # exhaustion (every node settled: any further offer to a
        # settled v is dist(u)+1 ≥ dist(v), because exact unit-weight
        # BFS distances of adjacent nodes differ by at most 1 — so the
        # min never changes).  Exhaustion fires one round earlier than
        # stall whenever the graph is hub-reachable within the round
        # budget.
        if n == prev_n or n == n_nodes:
            break
        prev_n = n
    # The final dist frame is node-scale (tiny, stays cached for the
    # consumer); the edge frame is lineitem-scale — release it so a
    # 183-query sweep doesn't pin big caches across query boundaries
    # (same discipline as q_kcore_membership above).
    edges.unpersist()
    return dist.select(F.col("node").cast("bigint").alias("node"), "dist")


def _bfs_oracle(rounds: int = BFS_ROUNDS) -> str:
    ctes = [
        """edges AS (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
    JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
)""",
        "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
        "d0 AS (SELECT src AS node, 0 AS dist FROM deg"
        " ORDER BY deg DESC, src LIMIT 1)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""d{r} AS (
    SELECT node, min(dist) AS dist FROM (
        SELECT e.dst AS node, d.dist + 1 AS dist
        FROM d{r - 1} d JOIN edges e ON d.node = e.src
        UNION ALL
        SELECT node, dist FROM d{r - 1}
    ) GROUP BY node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT CAST(node AS BIGINT) AS node,"
        f" CAST(dist AS INT) AS dist FROM d{rounds}"
    )


#: Negative-sampling knobs: candidate pool (the most-popular nodes)
#: and negatives kept per node.
NEG_POOL = 64
NEG_PER_NODE = 5


def q_link_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Popularity-biased negative sampling for link prediction.

    The training-data op for edge-prediction models: for every node,
    emit NEG_PER_NODE deterministic non-edges drawn from the NEG_POOL
    most-popular nodes (the textbook popularity-biased scheme — easy
    negatives come from the head of the degree distribution).  The
    pick is md5-ranked so the sample is reproducible and
    oracle-checkable, not an RNG.

    Scale shape: the candidate frame is nodes × 64 (linear in nodes —
    never nodes², the all-pairs trap); the popular pool is a
    TakeOrdered + broadcast (64 rows), the true-edge removal is ONE
    left-anti shuffle on the pair key, and the per-node top-5 is a
    window over ≤64 rows per node.
    """
    # Three consumers (degree pass, node list, anti-join) — persist so
    # the order⋈order edge derivation runs once, not three times.
    edges = _copurchase_edges(spark, sf_dir).persist()
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    popular = (
        deg.orderBy(F.desc("deg"), F.asc("src"))
        .limit(NEG_POOL)
        .select(F.col("src").alias("cand"))
    )
    nodes = deg.select(F.col("src").alias("node"))
    cands = (
        nodes.crossJoin(F.broadcast(popular))
        .filter(F.col("node") != F.col("cand"))
    )
    negs = cands.join(
        edges.select(F.col("src").alias("node"), F.col("dst").alias("cand")),
        ["node", "cand"],
        "left_anti",
    )
    w = Window.partitionBy("node").orderBy(
        F.md5(
            F.concat_ws(":", F.col("node").cast("string"), F.col("cand").cast("string"))
        ),
        F.asc("cand"),
    )
    out = (
        negs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= NEG_PER_NODE)
        .select(
            F.col("node").cast("bigint").alias("node"),
            F.col("cand").cast("bigint").alias("negative"),
            F.col("rank").cast("int").alias("rank"),
        )
        .persist()
    )
    # Materialize the (nodes x 5)-row result, then release the
    # lineitem-scale edge cache — nothing O(edges) outlives the call
    # (same discipline as q_kcore_membership).
    out.count()
    edges.unpersist()
    return out


ORACLE_LINK_NEGATIVE_SAMPLING = f"""
WITH edges AS (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
    JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
popular AS (
    SELECT src AS cand FROM deg ORDER BY deg DESC, src LIMIT {NEG_POOL}
),
cands AS (
    SELECT d.src AS node, p.cand
    FROM deg d CROSS JOIN popular p
    WHERE d.src != p.cand
),
negs AS (
    SELECT c.node, c.cand
    FROM cands c
    ANTI JOIN edges e ON c.node = e.src AND c.cand = e.dst
),
ranked AS (
    SELECT node, cand,
           row_number() OVER (
               PARTITION BY node
               ORDER BY md5(CAST(node AS VARCHAR) || ':'
                            || CAST(cand AS VARCHAR)), cand
           ) AS rank
    FROM negs
)
SELECT CAST(node AS BIGINT) AS node,
       CAST(cand AS BIGINT) AS negative,
       CAST(rank AS INT) AS rank
FROM ranked
WHERE rank <= {NEG_PER_NODE}
"""


QUERIES = {
    "bfs_distances": q_bfs_distances,
    "link_negative_sampling": q_link_negative_sampling,
    "kcore_membership": q_kcore_membership,
    "triangle_counts": q_triangle_counts,
    "pagerank_copurchase": q_pagerank_copurchase,
    "exact_moments_suite": q_exact_moments_suite,
    "weekly_active_users": q_weekly_active_users,
    "copurchase_pairs": q_copurchase_pairs,
}

ORACLES = {
    "bfs_distances": _bfs_oracle(),
    "link_negative_sampling": ORACLE_LINK_NEGATIVE_SAMPLING,
    "kcore_membership": _kcore_oracle(),
    "triangle_counts": ORACLE_TRIANGLE_COUNTS,
    "pagerank_copurchase": _pagerank_oracle(),
    "exact_moments_suite": ORACLE_EXACT_MOMENTS_SUITE,
    "weekly_active_users": ORACLE_WEEKLY_ACTIVE_USERS,
    "copurchase_pairs": ORACLE_COPURCHASE_PAIRS,
}
