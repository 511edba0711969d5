"""Feed read path — the reference's one real query, re-expressed in Spark.

Reference semantics (main.py:136-189 + README): a user's feed is the
activities of the users they follow, newest-first, paginated. The
reference reads the follow-edge list from Postgres, then issues a
`user_id IN (...)` query against Cassandra whose clustering order
(activity_id TIMEUUID DESC, cassandra-init.cql:14-15) returns rows
newest-first per user.

Spark design: the edge list stays a DataFrame (never collected to the
driver — at 100 TB a celebrity user's edge list won't fit), the IN-list
becomes a broadcast/shuffle equi-join, and the implicit storage order
becomes an explicit window `row_number() over (partition by follower
order by ts desc)` — Spark's WindowGroupLimit pushes the k-limit below
the shuffle so each map task emits ≤k rows per key.

Testdata stand-ins: `events` plays the activity table
(user_id, ts, event_type ≈ user_id, event_timestamp, activity_type);
the follow-edge table is derived deterministically: every user follows
user_id+1 and user_id+2 (SQL-expressible so the DuckDB oracle can check
it end-to-end).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from user_feed_cdc_spark.functions.numeric import round_half_up as r2
from user_feed_cdc_spark.registry import registry
from user_feed_cdc_spark.sources.tables import load_table

QUERIES, ORACLES, _register = registry()


def derived_followers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic follow-edge table over the events user population:
    u follows u+1 and u+2 (when those users exist).

    Shaped as explode + left-semi EQUI-join: the candidate edges are
    generated row-locally (explode of a 2-element array — narrow, no
    shuffle) and the existence check is a hash-joinable equality. The
    naive OR-of-two-equalities join condition cannot hash-partition, so
    Catalyst plans BroadcastNestedLoopJoin — O(users²) at scale — on the
    flagship entry() path. This form plans a broadcast/shuffle hash join."""
    users = load_table(spark, sf_dir, "events").select("user_id").distinct()
    candidates = users.select(
        F.col("user_id").alias("follower_id"),
        F.explode(
            F.array(F.col("user_id") + 1, F.col("user_id") + 2)
        ).alias("following_id"),
    )
    return candidates.join(
        users.select(F.col("user_id").alias("following_id")),
        "following_id",
        "left_semi",
    )


_FOLLOWERS_CTE = """
    WITH users AS (SELECT DISTINCT user_id FROM events),
    followers AS (
        SELECT a.user_id AS follower_id, b.user_id AS following_id
        FROM users a JOIN users b
          ON b.user_id = a.user_id + 1 OR b.user_id = a.user_id + 2
    )
"""


@_register(
    "feed_topk_per_user",
    _FOLLOWERS_CTE
    + """
    SELECT follower_id, event_id, author_id, event_type, ts, rn
    FROM (
        SELECT f.follower_id, e.event_id, e.user_id AS author_id,
               e.event_type, e.ts,
               ROW_NUMBER() OVER (PARTITION BY f.follower_id
                                  ORDER BY e.ts DESC, e.event_id DESC) AS rn
        FROM followers f JOIN events e ON e.user_id = f.following_id
    )
    WHERE rn <= 10
    """,
)
def feed_topk_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every user's feed at once: newest 10 activities from the users they
    follow. This is the materialized-feed form of the reference's per-user
    endpoint (main.py:136-189) — at scale you compute all feeds in one job
    instead of one point query per user. event_id is the deterministic
    tiebreaker standing in for the reference's TIMEUUID ordering
    (SURVEY.md §7.3.1)."""
    events = load_table(spark, sf_dir, "events")
    followers = derived_followers(spark, sf_dir)
    joined = followers.join(
        events, events.user_id == followers.following_id
    )
    w = W.partitionBy("follower_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        joined.select(
            "follower_id",
            "event_id",
            F.col("user_id").alias("author_id"),
            "event_type",
            "ts",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
    )


@_register(
    "feed_single_user_page",
    _FOLLOWERS_CTE
    + """
    SELECT e.event_id, e.user_id AS author_id, e.event_type, e.ts,
           FLOOR(e.value * 100.0 + 0.5) / 100.0 AS value
    FROM events e
    WHERE e.user_id IN (SELECT following_id FROM followers WHERE follower_id = 3)
    ORDER BY e.ts DESC, e.event_id DESC
    LIMIT 100
    """,
)
def feed_single_user_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference endpoint verbatim: GET /cassandra/activities?user_id=3
    &limit=100 (main.py:136-168). Broadcast left-semi join against the tiny
    filtered edge list + global top-k (TakeOrderedAndProject)."""
    events = load_table(spark, sf_dir, "events")
    edges = (
        derived_followers(spark, sf_dir)
        .filter(F.col("follower_id") == 3)
        .select(F.col("following_id").alias("user_id"))
    )
    return (
        events.join(F.broadcast(edges), "user_id", "left_semi")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .select(
            "event_id",
            F.col("user_id").alias("author_id"),
            "event_type",
            "ts",
            r2(F.col("value")).alias("value"),
        )
        .limit(100)
    )


@_register(
    "feed_single_user_page_offset",
    _FOLLOWERS_CTE
    + """
    SELECT e.event_id, e.user_id AS author_id, e.event_type, e.ts,
           FLOOR(e.value * 100.0 + 0.5) / 100.0 AS value
    FROM events e
    WHERE e.user_id IN (SELECT following_id FROM followers WHERE follower_id = 3)
    ORDER BY e.ts DESC, e.event_id DESC
    LIMIT 100 OFFSET 100
    """,
)
def feed_single_user_page_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference endpoint's second page: limit=100 offset=100
    (main.py:137,164-166 — note CQL has no OFFSET, a reference bug
    SURVEY.md §7.3.4; this implements the documented intent). Plan shape:
    ONE TakeOrderedAndProject(limit=offset+limit, offset=offset) — per-task
    k-heaps of offset+limit rows, never a global sort, and no window or
    single-partition exchange above it."""
    limit, offset = 100, 100
    events = load_table(spark, sf_dir, "events")
    edges = (
        derived_followers(spark, sf_dir)
        .filter(F.col("follower_id") == 3)
        .select(F.col("following_id").alias("user_id"))
    )
    return (
        events.join(F.broadcast(edges), "user_id", "left_semi")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .select(
            "event_id",
            F.col("user_id").alias("author_id"),
            "event_type",
            "ts",
            r2(F.col("value")).alias("value"),
        )
        .limit(offset + limit)
        .offset(offset)
    )


@_register(
    "graph_two_hop_reach",
    _FOLLOWERS_CTE
    + """
    , reach AS (
        SELECT follower_id AS src, following_id AS dst FROM followers
        UNION
        SELECT a.follower_id AS src, b.following_id AS dst
        FROM followers a JOIN followers b ON a.following_id = b.follower_id
    )
    SELECT src AS user_id, COUNT(*) AS n_reachable
    FROM reach WHERE dst <> src
    GROUP BY src
    """,
)
def graph_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop reach over the follow graph (reference domain:
    followers table, postgres-init.sql:61-67): per user, how many
    distinct accounts are within <= 2 follow hops — the audience a
    repost reaches, and the fan-out bound a feed precompute must plan
    for. Edges ⨝ edges on the shared midpoint (hash equi-join), UNION
    dedups the 1-hop/2-hop overlap, then one count per source.

    At 100 TB this is the canonical hop-join: shuffle keyed by the
    midpoint, so a celebrity midpoint concentrates its neighborhood on
    one reducer — AQE skew-split handles moderate skew, and beyond
    that the standard fix is splitting high-degree vertices (salting
    the midpoint and re-aggregating), which composes here without
    changing the query shape."""
    e = derived_followers(spark, sf_dir)
    a = e.select(F.col("follower_id").alias("src"), F.col("following_id").alias("mid"))
    b = e.select(F.col("follower_id").alias("mid"), F.col("following_id").alias("dst"))
    two = a.join(b, "mid").select("src", "dst")
    one = e.select(F.col("follower_id").alias("src"), F.col("following_id").alias("dst"))
    reach = one.unionByName(two).distinct().filter(F.col("dst") != F.col("src"))
    return reach.groupBy(F.col("src").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_reachable")
    )


@_register(
    "graph_triangle_count",
    _FOLLOWERS_CTE
    + """
    , undirected AS (
        SELECT DISTINCT LEAST(follower_id, following_id) AS a,
               GREATEST(follower_id, following_id) AS b
        FROM followers
    )
    SELECT COUNT(*) AS n_triangles
    FROM undirected e1
    JOIN undirected e2 ON e2.a = e1.a AND e2.b > e1.b
    JOIN undirected e3 ON e3.a = e1.b AND e3.b = e2.b
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the undirected follow graph — the classic
    graph-analytics scale benchmark (clustering coefficient's
    numerator) — via DEGREE-ORIENTED wedge enumeration (the standard
    skew mitigation, applied r10 per the r09 verdict): each undirected
    edge is directed from its lower-(degree, id) endpoint to the
    higher, wedges are built only over a pivot's OUT-edges with the
    two endpoints rank-ordered, and the closing edge is an oriented
    equi-join. A triangle with ranks x < y < z carries oriented edges
    x→y, x→z, y→z, so exactly one wedge (pivot x, pair (y,z)) closes
    via y→z — every triangle counted once, no post-hoc dedup, and
    `test_triangle_orientation_equivalence` pins equality with the
    unoriented rank-ordered form.

    At 100 TB: all joins are hash equi-joins keyed on vertices, and
    orientation bounds per-pivot wedge fan-out by the SMALLER
    endpoint's degree (out-degree ≤ O(√m) on any graph) — a celebrity
    vertex with deg 10⁷ contributes ~zero wedges as a pivot because
    its edges all point toward it, instead of deg² ≈ 10¹⁴ with
    unoriented enumeration. The rank comparison still evaluates
    post-join (it references both sides), but the joined fan-out it
    halves is already orientation-bounded."""
    e = derived_followers(spark, sf_dir)
    und = e.select(
        F.least("follower_id", "following_id").alias("a"),
        F.greatest("follower_id", "following_id").alias("b"),
    ).distinct()
    adj = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    ranked = und.join(
        deg.select(F.col("u").alias("a"), F.col("deg").alias("deg_a")), "a"
    ).join(deg.select(F.col("u").alias("b"), F.col("deg").alias("deg_b")), "b")
    a_first = F.struct(F.col("deg_a"), F.col("a")) < F.struct(
        F.col("deg_b"), F.col("b")
    )
    out = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(
            a_first, F.struct(F.col("deg_b").alias("d"), F.col("b").alias("i"))
        )
        .otherwise(F.struct(F.col("deg_a").alias("d"), F.col("a").alias("i")))
        .alias("rdst"),
    )
    o1 = out.select("src", F.col("dst").alias("v"), F.col("rdst").alias("rv"))
    o2 = out.select("src", F.col("dst").alias("w"), F.col("rdst").alias("rw"))
    wedges = (
        o1.join(o2, "src").filter(F.col("rv") < F.col("rw")).select("v", "w")
    )
    close = out.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    return wedges.join(close, ["v", "w"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


@_register(
    "feed_ranked_personalized",
    _FOLLOWERS_CTE
    + """
    , author_counts AS (
        SELECT user_id, COUNT(*) AS author_n FROM events GROUP BY user_id
    ),
    scored AS (
        SELECT f.follower_id, e.event_id, e.user_id AS author_id,
               FLOOR(e.value * 100.0 + 0.5) / 100.0 + a.author_n / 100.0
                   AS raw_score
        FROM followers f
        JOIN events e ON e.user_id = f.following_id
        JOIN author_counts a ON a.user_id = e.user_id
    )
    SELECT follower_id, event_id, author_id,
           FLOOR(raw_score * 10000.0 + 0.5) / 10000.0 AS score
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY follower_id
                      ORDER BY raw_score DESC, event_id DESC) AS rn
        FROM scored
    )
    WHERE rn <= 5
    """,
)
def feed_ranked_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked personalized feed — the product query the reference's
    time-ordered read (main.py:136-168) grows into: per follower, the
    top-5 events of followed authors scored by engagement value PLUS an
    author-activity prior (author's corpus event count / 100), not by
    recency alone. Composition: follow-edge equi-join, author-frequency
    aggregate joined back author-side (it enriches the event BEFORE the
    per-follower fan-out, so the prior is computed once per author, not
    once per (follower, event)), then the per-key top-k window —
    WindowGroupLimit caps each follower's candidates before the final
    shuffle. Score arithmetic keeps one float operation order on both
    engines; ties break on event_id so the page is stable. At 100 TB:
    two author-keyed hash joins (AQE skew-splits celebrity authors) +
    one follower-keyed window — the same shapes the flagship and
    trending queries already scale on."""
    ev = load_table(spark, sf_dir, "events")
    edges = derived_followers(spark, sf_dir)
    author_counts = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("author_n")
    )
    scored = (
        ev.join(edges, ev["user_id"] == edges["following_id"])
        .join(author_counts, "user_id")
        .select(
            "follower_id",
            "event_id",
            F.col("user_id").alias("author_id"),
            (r2(F.col("value")) + F.col("author_n") / 100.0).alias("raw_score"),
        )
    )
    w = W.partitionBy("follower_id").orderBy(
        F.col("raw_score").desc(), F.col("event_id").desc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "follower_id",
            "event_id",
            "author_id",
            r2(F.col("raw_score"), 4).alias("score"),
        )
    )


_PAGERANK_ITERS = 3


def _pagerank_oracle(iters: int) -> str:
    """Unrolled PageRank iterations as chained CTEs (the k-means-oracle
    treatment for iterative algorithms): r_{k+1}(v) = 0.15/N + 0.85 *
    Σ_{u→v} r_k(u)/outdeg(u), dangling mass dropped identically on both
    engines."""
    steps = []
    for k in range(iters):
        steps.append(f"""
    r{k + 1} AS (
        SELECT u.user_id,
               0.15 / n.n + 0.85 * COALESCE(c.s, CAST(0 AS DOUBLE)) AS r
        FROM users u
        CROSS JOIN n
        LEFT JOIN (
            SELECT e.following_id AS user_id, SUM(p.r / d.d) AS s
            FROM followers e
            JOIN r{k} p ON p.user_id = e.follower_id
            JOIN deg d ON d.follower_id = e.follower_id
            GROUP BY e.following_id
        ) c ON c.user_id = u.user_id
    )""")
    return (
        _FOLLOWERS_CTE
        + """
    , deg AS (SELECT follower_id, COUNT(*) AS d FROM followers GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM users),
    r0 AS (SELECT user_id, 1.0 / n.n AS r FROM users CROSS JOIN n),"""
        + ",".join(steps)
        + f"""
    SELECT user_id, FLOOR(r * 1000000.0 + 0.5) / 1000000.0 AS rank
    FROM r{iters}
    """
    )


@_register("graph_pagerank", _pagerank_oracle(_PAGERANK_ITERS))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the follow graph, {3} deterministic power
    iterations (damping 0.85, dangling mass dropped) — the canonical
    iterative graph-analytics benchmark, certified against an oracle
    that UNROLLS the same iterations as chained CTEs (the k-means-
    quantizer treatment for iterative algorithms). Cross-engine float
    determinism holds because every per-node contribution SUM here has
    at most 2 addends (in-degree ≤ 2 in this graph) — IEEE addition of
    two terms is commutative, so accumulation order cannot move a bit;
    only the final rank is rounded.

    At 100 TB: each iteration is one equi-join of the rank vector with
    the edge list + one partial-agged groupBy on the destination — the
    classic Pregel-on-dataframes shape. The rank vector (|V| rows, 2
    fixed-width cols) is the only iterating state; edges are reused
    unchanged each round, so on a cluster you persist the edge frame
    partitioned by follower_id once and every iteration co-locates.
    High-in-degree celebrity vertices are AQE-skew-split; the
    convergence loop at scale adds the dedup_minhash_lsh treatment
    (per-round materialize + Σ-delta early exit)."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    edges = derived_followers(spark, sf_dir)
    deg = edges.groupBy("follower_id").agg(F.count(F.lit(1)).alias("d"))
    n = users.count()  # one scalar; the oracle's CROSS JOIN n twin
    rank = users.withColumn("r", F.lit(1.0) / F.lit(float(n)))
    for _ in range(_PAGERANK_ITERS):
        contrib = (
            edges.join(rank, edges["follower_id"] == rank["user_id"])
            .join(deg, "follower_id")
            .select(
                F.col("following_id").alias("user_id"),
                (F.col("r") / F.col("d")).alias("c"),
            )
            .groupBy("user_id")
            .agg(F.sum("c").alias("s"))
        )
        rank = users.join(contrib, "user_id", "left").select(
            "user_id",
            (
                F.lit(0.15) / F.lit(float(n))
                + F.lit(0.85) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("r"),
        )
    return rank.select("user_id", r2(F.col("r"), 6).alias("rank"))


_CC_BLOCK = 8  # per-shard follow subgraph: edges kept within id-blocks of 8


@_register(
    "graph_connected_components",
    # standalone WITH RECURSIVE (DuckDB requires the keyword for the
    # reach CTE; _FOLLOWERS_CTE is a plain WITH, so it can't be reused)
    f"""
    WITH RECURSIVE users AS (SELECT DISTINCT user_id FROM events),
    followers AS (
        SELECT a.user_id AS follower_id, b.user_id AS following_id
        FROM users a JOIN users b
          ON b.user_id = a.user_id + 1 OR b.user_id = a.user_id + 2
    ),
    edges AS (
        SELECT follower_id AS a, following_id AS b FROM followers
        WHERE follower_id // {_CC_BLOCK} = following_id // {_CC_BLOCK}
    ),
    und AS (
        SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges
    ),
    reach(u, r) AS (
        SELECT user_id, user_id FROM users
        UNION
        SELECT e.a, r.r FROM und e JOIN reach r ON r.u = e.b
    )
    SELECT u AS user_id, MIN(r) AS component_id FROM reach GROUP BY u
    """,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the per-shard follow subgraph: follow
    edges restricted to same id-block-of-8 (_CC_BLOCK) (the shard-local
    social graph — cross-shard edges dropped), each node labeled with
    the minimum user_id reachable from it. Components here are chains of
    up to 8 consecutive users (diameter ~7), so
    this entry exercises the pointer-jumping path for real: plain
    min-label propagation needs diameter rounds, path-halving converges
    in O(log diameter).

    Implementation IS the certified dedup clustering core
    (_cluster_by_bands — skew guard, hyperedge min-label step, pointer
    jump, Σ-convergence exit): each undirected edge becomes a 2-member
    bucket, which makes edge-contraction CC and same-bucket dedup CC the
    one algorithm. The oracle re-derives components via recursive-CTE
    transitive closure — the third iterative-algorithm certification
    (after k-means IVF and PageRank) where Spark iteration is held to
    unrolled/recursive SQL. At 100 TB: label frames shuffle on doc_id
    (uniform), every round materializes before the next (no lineage
    blowup), and only a scalar convergence sum reaches the driver."""
    from user_feed_cdc_spark.operators.dedup import _cluster_by_bands

    e = derived_followers(spark, sf_dir).filter(
        F.expr(f"follower_id div {_CC_BLOCK} = following_id div {_CC_BLOCK}")
    )
    # every edge is a 2-member bucket: (band_idx=0, band_hash=edge key)
    edge_key = F.col("follower_id") * 4 + (
        F.col("following_id") - F.col("follower_id")
    )
    bands = (
        e.select(
            F.col("follower_id").alias("doc_id"),
            F.lit(0).alias("band_idx"),
            edge_key.alias("band_hash"),
        )
        .unionByName(
            e.select(
                F.col("following_id").alias("doc_id"),
                F.lit(0).alias("band_idx"),
                edge_key.alias("band_hash"),
            )
        )
    )
    nodes = (
        load_table(spark, sf_dir, "events").select("user_id").distinct()
    )
    cc = _cluster_by_bands(bands, nodes.withColumnRenamed("user_id", "doc_id"))
    return cc.select(
        F.col("doc_id").alias("user_id"), F.col("rep_id").alias("component_id")
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """entry() target: the all-users feed top-k."""
    return feed_topk_per_user(spark, sf_dir)


_REACH_MAX_HOPS = 8


@_register(
    "graph_reachability_recursive",
    f"""
    WITH RECURSIVE users AS (SELECT DISTINCT user_id FROM events),
    followers AS (
        SELECT a.user_id AS f, b.user_id AS t
        FROM users a JOIN users b
          ON b.user_id = a.user_id + 1 OR b.user_id = a.user_id + 2
    ),
    reach(u, d) AS (
        SELECT MIN(f), 0 FROM followers
        UNION ALL
        SELECT fo.t, r.d + 1
        FROM reach r JOIN followers fo ON fo.f = r.u
        WHERE r.d < {_REACH_MAX_HOPS}
    )
    SELECT u AS user_id, MIN(d) AS hops
    FROM reach GROUP BY u
    """,
)
def graph_reachability_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS reachability through Spark's NATIVE recursive CTE (WITH
    RECURSIVE landed in Spark 4): minimum hop count from the
    smallest following user (both engines seed from MIN over the SAME
    edge table, so the seed rule cannot diverge on sparse ids) to every
    account within _REACH_MAX_HOPS (= 8) follow hops,
    certified against DuckDB running the IDENTICAL recursive SQL —
    the one entry where both engines execute the same iterative
    construct natively, rather than Spark iteration vs unrolled/
    recursive oracle (the PageRank / k-means / CC treatment).

    The follow graph is a DAG (edges only increase user_id), so the
    recursion terminates structurally; the depth bound caps the
    UNION ALL path expansion (<= Fibonacci(hop bound) path
    copies per node before the final MIN collapses them). At 100 TB
    the same recursion runs as hop-bound-many chained hash
    equi-joins with the frontier re-partitioned each step — the
    BFS-frontier shape — and a production variant would dedupe the
    frontier per level (the pointer-jump CC core here) to kill the
    path multiplicity UNION ALL carries."""
    # materialize the edge table ONCE: non-recursive CTEs referenced
    # inside the recursion re-evaluate at every level, which turns the
    # 9-level loop into 9 distinct-scans of events (measured 12.5 s
    # -> 2.7 s at sf0.1, before the hop bound came down from 12)
    followers = derived_followers(spark, sf_dir).localCheckpoint(eager=True)
    return spark.sql(
        f"""
        WITH RECURSIVE reach(u, d) AS (
            SELECT MIN(follower_id), 0 FROM {{fo}}
            UNION ALL
            SELECT fo.following_id, r.d + 1
            FROM reach r JOIN {{fo}} fo ON fo.follower_id = r.u
            WHERE r.d < {_REACH_MAX_HOPS}
        )
        SELECT u AS user_id, MIN(d) AS hops
        FROM reach GROUP BY u
        """,
        fo=followers,
    )


@_register(
    "feed_page_parameterized",
    _FOLLOWERS_CTE
    + """
    SELECT e.event_id, e.user_id AS author_id, e.event_type, e.ts,
           FLOOR(e.value * 100.0 + 0.5) / 100.0 AS value
    FROM events e
    WHERE e.user_id IN (SELECT following_id FROM followers WHERE follower_id = 3)
    ORDER BY e.ts DESC, e.event_id DESC
    LIMIT 100
    """,
)
def feed_page_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feed page through PARAMETERIZED SQL — named parameter
    markers for every user-supplied value and an IDENTIFIER() clause
    for the table reference. This is the engine-level fix for the
    reference's injectable f-string queries (main.py:151 interpolates
    the user id straight into SQL; :260,:278,:291,:304 likewise):
    parameters bind AFTER parsing, so a malicious uid can only ever be
    a value, and IDENTIFIER() escapes the name-position hole that
    string-building reintroduces. Certified against the SAME oracle as
    feed_single_user_page — binding must not change a single row — and
    the plan is identical too: Catalyst folds the bound literals before
    optimization, so the broadcast semi-join + TakeOrderedAndProject
    shape survives (pinned by test_plans). At 100 TB parameterized
    plans also cache better: one parse per query SHAPE, not per uid."""
    events = load_table(spark, sf_dir, "events")
    edges = derived_followers(spark, sf_dir)
    events.createOrReplaceTempView("feed_param_events")
    edges.createOrReplaceTempView("feed_param_followers")
    return spark.sql(
        """
        SELECT e.event_id, e.user_id AS author_id, e.event_type, e.ts,
               FLOOR(e.value * 100.0D + 0.5D) / 100.0D AS value
        FROM IDENTIFIER(:events_tbl) e
        WHERE e.user_id IN (
            SELECT following_id FROM IDENTIFIER(:edges_tbl)
            WHERE follower_id = :uid
        )
        ORDER BY e.ts DESC, e.event_id DESC
        LIMIT :page
        """,
        args={
            "events_tbl": "feed_param_events",
            "edges_tbl": "feed_param_followers",
            "uid": 3,
            "page": 100,
        },
    )


# ---------------------------------------------------------------------------
# Personalized PageRank (seed-restart random walk) — recommendation scores
# ---------------------------------------------------------------------------

_PPR_ITERS = 3
_PPR_SEED_MOD = 17  # seed set: user_id % 17 == 0


def _ppr_oracle(iters: int) -> str:
    """Unrolled personalized-PageRank iterations (same chained-CTE
    treatment as _pagerank_oracle): the teleport term returns mass to
    the SEED SET instead of uniformly, r0 concentrates there, so the
    fixpoint scores proximity to the seeds."""
    steps = []
    for k in range(iters):
        steps.append(f"""
    r{k + 1} AS (
        SELECT u.user_id,
               0.15 * (CASE WHEN u.user_id % {_PPR_SEED_MOD} = 0
                            THEN 1.0 / ns.ns ELSE CAST(0 AS DOUBLE) END)
               + 0.85 * COALESCE(c.s, CAST(0 AS DOUBLE)) AS r
        FROM users u
        CROSS JOIN ns
        LEFT JOIN (
            SELECT e.following_id AS user_id, SUM(p.r / d.d) AS s
            FROM followers e
            JOIN r{k} p ON p.user_id = e.follower_id
            JOIN deg d ON d.follower_id = e.follower_id
            GROUP BY e.following_id
        ) c ON c.user_id = u.user_id
    )""")
    return (
        _FOLLOWERS_CTE
        + f"""
    , deg AS (SELECT follower_id, COUNT(*) AS d FROM followers GROUP BY 1),
    ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ns FROM users
           WHERE user_id % {_PPR_SEED_MOD} = 0),
    r0 AS (SELECT user_id,
                  CASE WHEN user_id % {_PPR_SEED_MOD} = 0
                       THEN 1.0 / ns.ns ELSE CAST(0 AS DOUBLE) END AS r
           FROM users CROSS JOIN ns),"""
        + ",".join(steps)
        + f"""
    SELECT user_id, FLOOR(r * 1000000.0 + 0.5) / 1000000.0 AS ppr
    FROM r{iters}
    """
    )


@_register("graph_personalized_pagerank", _ppr_oracle(_PPR_ITERS))
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank — the random walk restarts at a SEED SET
    (user_id % {17} == 0) instead of uniformly, so the fixpoint scores
    every user's graph proximity TO THE SEEDS: the classic
    who-to-follow / feed-candidate-source signal (Twitter's WTF
    system), and the one PageRank variant a feed engine actually
    serves per-cohort. Same deterministic 3-iteration power loop and
    unrolled-CTE oracle as graph_pagerank; the only changes are the
    restart vector (mass 1/|S| on seeds, 0 elsewhere) and the teleport
    term (0.15 to seeds only) — per-node SUMs still have ≤ 2 addends
    (in-degree ≤ 2 here), so IEEE addition order cannot move a bit and
    only the final score is micro-rounded. At 100 TB the scale shape
    is graph_pagerank's (rank vector iterates, edges persist
    partitioned by follower_id) with one PPR-specific win: scores
    decay geometrically from the seeds, so after k hops the non-zero
    frontier — not the whole vertex set — is the working state, and a
    per-cohort batch of PPR runs shares the one edge frame. Ref
    parity: the reference's feed is exactly 'activities of users I
    follow' (/root/reference/main.py:136-190); PPR is its ranking
    extension over the same derived follow graph."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    edges = derived_followers(spark, sf_dir)
    deg = edges.groupBy("follower_id").agg(F.count(F.lit(1)).alias("d"))
    seeds = users.filter(F.col("user_id") % _PPR_SEED_MOD == 0)
    ns = float(seeds.count())  # one scalar, mirrored by the oracle's ns CTE
    teleport = F.when(
        F.col("user_id") % _PPR_SEED_MOD == 0, F.lit(1.0) / F.lit(ns)
    ).otherwise(F.lit(0.0))
    rank = users.withColumn("r", teleport)
    for _ in range(_PPR_ITERS):
        contrib = (
            edges.join(rank, edges["follower_id"] == rank["user_id"])
            .join(deg, "follower_id")
            .select(
                F.col("following_id").alias("user_id"),
                (F.col("r") / F.col("d")).alias("c"),
            )
            .groupBy("user_id")
            .agg(F.sum("c").alias("s"))
        )
        rank = users.join(contrib, "user_id", "left").select(
            "user_id",
            (
                F.lit(0.15) * teleport
                + F.lit(0.85) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("r"),
        )
    return rank.select("user_id", r2(F.col("r"), 6).alias("ppr"))


# ---------------------------------------------------------------------------
# Link prediction: common-neighbor / Jaccard scores for non-edges
# ---------------------------------------------------------------------------


@_register(
    "graph_link_prediction",
    _FOLLOWERS_CTE
    + """
    , und AS (
        SELECT DISTINCT LEAST(follower_id, following_id) AS a,
               GREATEST(follower_id, following_id) AS b
        FROM followers
    ),
    adj AS (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
    deg AS (SELECT u, COUNT(*) AS deg FROM adj GROUP BY u),
    wedges AS (
        SELECT w1.u AS u, w2.v AS v
        FROM adj w1 JOIN adj w2 ON w2.u = w1.v AND w1.u < w2.v
    ),
    cand AS (
        SELECT u, v, CAST(COUNT(*) AS BIGINT) AS common_neighbors
        FROM wedges GROUP BY u, v
    ),
    nonedge AS (
        SELECT c.* FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM und e
                          WHERE e.a = c.u AND e.b = c.v)
    )
    SELECT n.u, n.v, n.common_neighbors,
           FLOOR(CAST(n.common_neighbors AS DOUBLE)
                 / CAST(du.deg + dv.deg - n.common_neighbors AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS jaccard
    FROM nonedge n
    JOIN deg du ON du.u = n.u
    JOIN deg dv ON dv.u = n.v
    """,
)
def graph_link_prediction(
    spark: SparkSession, sf_dir: str, max_pivot_degree: int | None = None
) -> DataFrame:
    """Link prediction over the follow graph — common-neighbor count
    and neighbor-set Jaccard for every NON-adjacent pair at distance 2
    (the candidate set a 'people you may know' / graph-completion pass
    scores): wedges u–w–v enumerated once per common neighbor via the
    rank-ordered (u < v) adjacency self-join, aggregated to
    |common(u,v)|, existing edges anti-joined out, and Jaccard =
    cn / (deg_u + deg_v − cn) from a degree rollup joined back.

    Scale shape — all hash equi-joins. Unlike graph_triangle_count,
    degree ORIENTATION cannot apply here: every wedge is
    output-bearing (all C(deg_w, 2) neighbor pairs of a pivot ARE the
    distance-2 candidate set), so dropping a wedge drops a candidate
    — the deg² fan-out is inherent to the query, not to the plan. The
    operative mitigations are therefore (a) AQE skew-join split on
    the pivot key (enabled session-wide), and (b) the explicit
    `max_pivot_degree` cap — the production knob recommender systems
    use (a 10⁷-degree celebrity's neighbor pairs are uninformative
    'you both follow X' candidates): when set, pivots above the cap
    are anti-joined out BEFORE the self-join, bounding work at
    Σ min(deg_w, cap)²; when None (the registry default) results are
    exact and hash-stable. The u < v halving filter references both
    join sides, so it evaluates post-join — the join materializes
    both wedge orientations before halving (the cap bounds what that
    doubling costs). Jaccard divides two small exact integers in fp64
    with the integer subtraction BEFORE the cast in both engines,
    then micro-rounds — hash-stable."""
    from user_feed_cdc_spark.functions.numeric import round_half_up as r2

    e = derived_followers(spark, sf_dir)
    und = e.select(
        F.least("follower_id", "following_id").alias("a"),
        F.greatest("follower_id", "following_id").alias("b"),
    ).distinct()
    adj = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    by_pivot = adj.select(F.col("v").alias("w"), F.col("u").alias("x"))
    if max_pivot_degree is not None:
        hot = deg.filter(F.col("deg") > max_pivot_degree).select(
            F.col("u").alias("w")
        )
        by_pivot = by_pivot.join(F.broadcast(hot), "w", "left_anti")
    wedges = (
        by_pivot.select(F.col("x").alias("u"), "w")
        .join(by_pivot.select("w", F.col("x").alias("v")), "w")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
    )
    cand = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("common_neighbors")
    )
    nonedge = cand.join(
        und,
        (cand["u"] == und["a"]) & (cand["v"] == und["b"]),
        "left_anti",
    )
    du = deg.select(F.col("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("u").alias("v"), F.col("deg").alias("deg_v"))
    return (
        nonedge.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common_neighbors",
            r2(
                F.col("common_neighbors").cast("double")
                / (
                    F.col("deg_u") + F.col("deg_v") - F.col("common_neighbors")
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
