"""Similarity search over the `embeddings` table (SURVEY.md §2.3 E3 +
north-star ANN).

- Brute-force cosine top-k: the correctness baseline. Dot/norm via
  higher-order functions (zip_with + aggregate) — JVM-side, no UDF.
- LSH-bucketed ANN: random-hyperplane signature buckets; queries only
  compare against same-bucket candidates. At 100 TB the bucket id is the
  shuffle/partition key, so each comparison task sees a small slice —
  this is the scale path (IVF-style coarse quantization has the same
  plan shape: replace the hyperplane bucket with a centroid id).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from user_feed_cdc_spark.functions.numeric import py_round_half_up
from user_feed_cdc_spark.functions.numeric import round_half_up as r2
from user_feed_cdc_spark.registry import registry
from user_feed_cdc_spark.sources.tables import load_table

QUERIES, ORACLES, _register = registry()


def dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a, b) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


@_register(
    "similarity_cosine_topk",
    """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           FLOOR(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe) /
                 (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
                  sqrt(list_dot_product(q.qe, q.qe))) * 10000.0 + 0.5) / 10000.0 AS cos_sim
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for query vector vec_id=0. The query
    vector is a broadcast 1-row join; top-k is TakeOrderedAndProject.
    Ordering is on the ROUNDED score (+vec_id tiebreak) so ranking is
    stable across engines/float summation orders."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            r2(cosine(F.col("embedding"), F.col("qe")), 4).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.col("cos_sim").desc(), "vec_id").limit(10)


def label_centroids(emb: DataFrame) -> DataFrame:
    """Per-label centroid = element-wise AVG via posexplode + groupBy —
    the distributed way to average vectors (shuffle key (label, pos),
    never a collect). Returns (label, centroid array<double>)."""
    dims = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v")
    )
    return (
        dims.groupBy("label", "pos")
        .agg(F.avg("v").alias("cv"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pcs"))
        .select("label", F.transform("pcs", lambda s: s.cv).alias("centroid"))
    )


@_register(
    "similarity_label_centroid_dist",
    """
    WITH dims AS (
        SELECT label, generate_subscripts(embedding, 1) AS pos,
               CAST(UNNEST(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    cent AS (
        SELECT label, list(cv ORDER BY pos) AS centroid
        FROM (SELECT label, pos, AVG(v) AS cv FROM dims GROUP BY label, pos)
        GROUP BY label
    )
    SELECT label, n_members, ROUND(avg_cos_to_centroid, 4) AS avg_cos_to_centroid
    FROM (
        SELECT e.label, COUNT(*) AS n_members,
               AVG(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.centroid) /
                   (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[]))) *
                    sqrt(list_dot_product(c.centroid, c.centroid)))) AS avg_cos_to_centroid
        FROM embeddings e JOIN cent c ON e.label = c.label
        GROUP BY e.label
    )
    """,
)
def similarity_label_centroid_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF building block: per-label centroid (the 'coarse quantizer'),
    then mean member-to-centroid cosine."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = label_centroids(emb)
    joined = emb.join(F.broadcast(cent), "label").select(
        "label", cosine(F.col("embedding"), F.col("centroid")).alias("cs")
    )
    return (
        joined.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg("cs"), 4).alias("avg_cos_to_centroid"),
        )
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH ANN (scale path; rows-only check)
# ---------------------------------------------------------------------------

N_PLANES = 8  # 8 sign bits → 256 buckets


def _plane_component(plane: int, dim_col) -> Column:
    """Deterministic pseudo-random hyperplane component uniform in [-1, 1):
    hash-derived, stable across runs/engines — no RNG state to ship.
    pmod (not %) because xxhash64 is signed and Spark's % keeps the
    dividend's sign — plain % would skew components into (-3, 1) and
    concentrate sign bits at 0, bloating LSH buckets."""
    h = F.xxhash64(F.lit(plane), dim_col)
    return F.pmod(h, F.lit(1000)).cast("double") / 500.0 - 1.0


def lsh_bucket(emb_col) -> Column:
    """Sign-bit signature over N_PLANES hyperplanes packed into an int."""
    bucket = F.lit(0)
    for p in range(N_PLANES):
        proj = F.aggregate(
            F.zip_with(
                emb_col,
                F.sequence(F.lit(0), F.size(emb_col) - 1),
                lambda v, i: v.cast("double") * _plane_component(p, i),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj > 0, F.lit(2**p)).otherwise(F.lit(0))
    return bucket


_IVF_ORACLE = """
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cent AS (
        SELECT label AS cid, list(cv ORDER BY pos) AS centroid
        FROM (
            SELECT label, pos, AVG(vv) AS cv
            FROM (SELECT label, generate_subscripts(embedding, 1) AS pos,
                         CAST(UNNEST(embedding) AS DOUBLE) AS vv
                  FROM embeddings)
            GROUP BY label, pos
        )
        GROUP BY label
    ),
    assigned AS (
        SELECT vec_id, cid FROM (
            SELECT v.vec_id, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY list_dot_product(v.v, c.centroid) /
                                (sqrt(list_dot_product(v.v, v.v)) *
                                 sqrt(list_dot_product(c.centroid, c.centroid))) DESC,
                                c.cid
                   ) AS rn
            FROM v CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    probe AS (
        SELECT a.cid FROM assigned a WHERE a.vec_id = 0
    ),
    q AS (SELECT v AS qv FROM v WHERE vec_id = 0)
    SELECT e.vec_id,
           FLOOR(list_dot_product(e.v, q.qv) /
                 (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)))
                 * 10000.0 + 0.5) / 10000.0 AS cos_sim
    FROM v e
    JOIN assigned a ON e.vec_id = a.vec_id
    JOIN probe p ON a.cid = p.cid
    CROSS JOIN q
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
"""


@_register("similarity_ivf_topk", _IVF_ORACLE)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize every vector to its nearest
    centroid (the inverted lists), then search ONLY the query's probed
    list with exact cosine. Same plan shape as production IVF: the
    centroid id is the partition/join key, candidate volume is the list
    size, never n. Centroids here are the label centroids (deterministic
    stand-in for k-means — the quantizer is pluggable); assignment is by
    geometry, not by the label column. nprobe=1; raise it (probe top-k
    centroids) to trade compute for recall at 100 TB."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = F.broadcast(
        label_centroids(emb).select(
            F.col("label").alias("cid"),
            "centroid",
            norm(F.col("centroid")).alias("cnorm"),
        )
    )
    vecs = emb.select("vec_id", "embedding", norm(F.col("embedding")).alias("vnorm"))
    # assignment: argmax cosine over the (broadcast) centroid set
    w = W.partitionBy("vec_id").orderBy(
        (dot(F.col("embedding"), F.col("centroid")) / (F.col("vnorm") * F.col("cnorm"))).desc(),
        "cid",
    )
    assigned = (
        vecs.join(cents)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "vnorm", "cid")
    )
    probe = assigned.filter(F.col("vec_id") == 0).select(
        F.col("cid").alias("pcid"),
        F.col("embedding").alias("qe"),
        F.col("vnorm").alias("qnorm"),
    )
    cos = dot(F.col("embedding"), F.col("qe")) / (F.col("vnorm") * F.col("qnorm"))
    return (
        assigned.join(F.broadcast(probe), F.col("cid") == F.col("pcid"))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", r2(cos, 4).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Quantized similarity (storage-compression scale paths)
# ---------------------------------------------------------------------------

_QUANT_SCALE = 64.0  # fixed-point scale; |x| ≲ 2 → q fits in int8 range


def _quantize(emb_col) -> Column:
    """Fixed-point quantization q_i = floor(x_i · 64): the int8 storage
    form (4× smaller than float32, 32 TB saved per 100 TB of fp32
    vectors). floor of a double product is bit-deterministic across
    engines — no round-to-nearest ties, no RNG — so the integer scores
    downstream are exactly reproducible by the oracle."""
    return F.transform(
        emb_col, lambda x: F.floor(x.cast("double") * F.lit(_QUANT_SCALE)).cast("long")
    )


def _int_dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


@_register(
    "similarity_quantized_topk",
    """
    WITH q AS (
        SELECT list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(FLOOR(x * 64.0) AS BIGINT)) AS qq
        FROM embeddings WHERE vec_id = 0
    )
    SELECT e.vec_id, e.label,
           CAST(list_dot_product(
               list_transform(CAST(e.embedding AS DOUBLE[]),
                              x -> CAST(FLOOR(x * 64.0) AS BIGINT)),
               q.qq) AS BIGINT) AS iscore
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY iscore DESC, e.vec_id
    LIMIT 10
    """,
)
def similarity_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-style quantized top-k: score candidates with an INTEGER dot
    product over fixed-point codes instead of float cosine. The
    production pattern for 100 TB vector stores: store the 4×-smaller
    codes, rank by integer dot (exact — products ≤ 2^14·dim, far under
    2^53; no float summation-order sensitivity at all), optionally
    re-rank a top-k' slice with full-precision vectors. Same physical
    shape as the brute-force path: broadcast 1-row query, scan + map,
    TakeOrderedAndProject top-k — no shuffle of the vector column."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        _quantize(F.col("embedding")).alias("qq")
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            _int_dot(_quantize(F.col("embedding")), F.col("qq")).alias("iscore"),
        )
        .orderBy(F.col("iscore").desc(), "vec_id")
        .limit(10)
    )


@_register(
    "similarity_binary_hamming_topk",
    """
    WITH b AS (
        SELECT vec_id, label,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CASE WHEN x > 0 THEN 1 ELSE 0 END) AS bits
        FROM embeddings
    ),
    q AS (SELECT bits AS qbits FROM b WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           CAST(list_sum(list_transform(range(1, len(e.bits) + 1),
               i -> CASE WHEN e.bits[i] <> q.qbits[i] THEN 1 ELSE 0 END))
               AS BIGINT) AS hamming
    FROM b e, q
    WHERE e.vec_id <> 0
    ORDER BY hamming ASC, e.vec_id
    LIMIT 10
    """,
)
def similarity_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit (sign) quantization + Hamming top-k: the 32×-compression
    extreme of the quantization ladder (binary embeddings). Sign bits of
    identical float inputs are engine-exact, and the distance is a pure
    integer popcount-style sum — oracle-checkable bit for bit. At scale
    the bits pack into 2-4 longs per vector and Hamming becomes a few
    xor+popcounts; the plan is the same broadcast-query scan with
    TakeOrderedAndProject, so ranking cost is I/O-bound on 1/32 of the
    bytes."""
    emb = load_table(spark, sf_dir, "embeddings")
    bits = emb.select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding"),
            lambda x: F.when(x.cast("double") > 0, F.lit(1)).otherwise(F.lit(0)),
        ).alias("bits"),
    )
    q = bits.filter(F.col("vec_id") == 0).select(F.col("bits").alias("qbits"))
    ham = F.aggregate(
        F.zip_with(F.col("bits"), F.col("qbits"), lambda a, b: (a != b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        bits.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select("vec_id", "label", ham.alias("hamming"))
        .orderBy(F.col("hamming").asc(), "vec_id")
        .limit(10)
    )


_RERANK_POOL = 50  # quantized-prefilter candidate pool before exact re-rank


@_register(
    "similarity_rerank_topk",
    f"""
    WITH q AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qv,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(FLOOR(x * 64.0) AS BIGINT)) AS qq
        FROM embeddings WHERE vec_id = 0
    ),
    pool AS (
        SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, q.qv
        FROM embeddings e, q
        WHERE e.vec_id <> 0
        ORDER BY list_dot_product(
                     list_transform(CAST(e.embedding AS DOUBLE[]),
                                    x -> CAST(FLOOR(x * 64.0) AS BIGINT)),
                     q.qq) DESC, e.vec_id
        LIMIT {_RERANK_POOL}
    )
    SELECT vec_id,
           FLOOR(list_dot_product(v, qv) /
                 (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))
                 * 10000.0 + 0.5) / 10000.0 AS cos_sim
    FROM pool
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def similarity_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval — THE production ANN serving pattern: stage 1
    scores every candidate with the cheap int8-quantized dot product
    (4× less I/O, integer-exact) and keeps a top-{50} pool; stage 2
    re-ranks only that pool with full-precision cosine. Both stages are
    deterministic (integer scores, rounded cosine, vec_id tiebreaks) so
    the oracle mirrors the exact pool membership. Plan shape: two
    TakeOrderedAndProject passes — the full-precision vectors of only
    {50} rows are touched after the scan, nothing shuffles wide."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qv"),
        _quantize(F.col("embedding")).alias("qq"),
    )
    pool = (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
            "qv",
            _int_dot(_quantize(F.col("embedding")), F.col("qq")).alias("iscore"),
        )
        .orderBy(F.col("iscore").desc(), "vec_id")
        .limit(_RERANK_POOL)
    )
    cos = dot(F.col("v"), F.col("qv")) / (norm(F.col("v")) * norm(F.col("qv")))
    return (
        pool.select("vec_id", r2(cos, 4).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# k-means IVF: a REAL coarse quantizer (deterministic Lloyd iterations)
# ---------------------------------------------------------------------------

K_CLUSTERS = 8
KMEANS_ITERS = 3
IVF_NPROBE = 2
_CENT_SCALE = 6  # centroids stored rounded at 1e-6 → cross-engine-stable


def _pydot(a: list[float], b: list[float]) -> float:
    """Driver-side twin of dot(): the SAME left fold from 0.0 that
    F.aggregate performs, so driver-computed norms/cosines are
    bit-identical to executor-computed ones (IEEE doubles, identical
    operation order)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _dlit(x: float) -> str:
    """Exact SQL double literal: repr() is the shortest round-trip
    decimal, and Spark's lexer parses <digits>D / <exp>D as DOUBLE."""
    return repr(float(x)) + "D"


def _sql_dot(vec_col: str, cvals: list[float]) -> str:
    """SQL twin of dot() against a literal vector: identical zip_with
    multiply + left fold from 0.0, so results are bit-identical."""
    arr = ", ".join(_dlit(x) for x in cvals)
    return (
        f"aggregate(zip_with({vec_col}, array({arr}), (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _sql_r2(expr: str, scale: int) -> str:
    """SQL twin of round_half_up (same op order as numeric.round_half_up)."""
    factor = float(10**scale)
    return f"FLOOR(({expr}) * {factor}D + 0.5D) / {factor}D"


def _assign_cid(cents: list[tuple[int, list[float]]]) -> Column:
    """Lloyd assignment as a PURE PROJECTION: the K centroids ride into
    the task as array literals (they are K×dim doubles — the same
    payload a broadcast would ship, minus the join machinery), each row
    computes its K rounded cosines, and a greatest-of-structs picks the
    argmax with the min-cid tiebreak. No join, no groupBy(vec_id)
    shuffle — the whole assignment stays inside one codegen stage, so
    at 100 TB it is embarrassingly parallel over the vector scan.

    Scores are rounded at 1e-6 before comparison (struct fields: score
    desc, then -cid) so the argmax matches the oracle's CTE exactly.
    Built as ONE SQL string -> one parse call: constructing the same
    tree Column-by-Column costs ~0.8 s of py4j round trips per
    iteration, which dominates the whole query at small scale."""
    structs = []
    for cid, c in cents:
        cnorm = _dlit(math.sqrt(_pydot(c, c)))
        s = _sql_r2(f"{_sql_dot('v', c)} / (vnorm * {cnorm})", _CENT_SCALE)
        structs.append(f"named_struct('s', {s}, 'nc', {-cid}, 'cid', {cid})")
    return F.expr(f"greatest({', '.join(structs)}).cid")


def _kmeans_centroids(
    spark: SparkSession, vecs: DataFrame, iters: int = KMEANS_ITERS
) -> tuple[list[tuple[int, list[float]]], list[tuple[int, list[float]]]]:
    """Deterministic Lloyd k-means over the embedding column.

    - init: the K_CLUSTERS vectors with the smallest vec_ids (seeded,
      no RNG; cid = 1..K in vec_id order);
    - assignment: argmax of the cosine ROUNDED at 1e-6 with min-cid
      tiebreak, so the argmax is identical across engines;
    - update: per-dimension AVG, re-rounded at 1e-6 — rounding after
      every update step stops 1-ulp summation-order drift from ever
      compounding across iterations.

    Per iteration: one narrow projection (assignment, see _assign_cid)
    feeding one map-side-combinable (cid, pos) aggregate whose output
    is exactly K×dim cells — the only data that ever reaches the
    driver. The vectors themselves never shuffle at any scale.

    Returns (prev, final): `final` is the post-update centroid set
    (cent_iters, what the query probes), `prev` the set the LAST
    in-loop assignment used (cent_{iters-1}) — the search reuses that
    assignment rather than re-scoring against `final`, which both
    saves a full pass and mirrors the oracle's final assign<i> CTE
    exactly instead of relying on convergence."""
    seed_rows = (
        vecs.orderBy("vec_id")
        .limit(K_CLUSTERS)
        .select(F.transform("v", lambda x: r2(x, _CENT_SCALE)).alias("centroid"))
        .collect()
    )
    cents = [(i + 1, list(r.centroid)) for i, r in enumerate(seed_rows)]
    prev = cents
    for _ in range(iters):
        prev = cents
        # Update = explode to (cid, pos, vv) and average per cell. The
        # (cid, pos) agg is map-side combined down to K×dim cells before
        # the shuffle, and its generated code is literal-free, so the
        # compiled stage is reused across iterations (only the
        # assignment literals change, and those live in the codegen
        # references array, not the source).
        new_rows = (
            vecs.select(_assign_cid(prev).alias("cid"), "v")
            .select("cid", F.posexplode("v").alias("pos", "vv"))
            .groupBy("cid", "pos")
            .agg(r2(F.avg("vv"), _CENT_SCALE).alias("cv"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pcs"))
            .select("cid", F.transform("pcs", lambda s: s.cv).alias("centroid"))
            .collect()
        )
        cents = sorted((r.cid, list(r.centroid)) for r in new_rows)
    return prev, cents


def _ivf_kmeans_search(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """IVF search against the k-means quantizer: reuse the final Lloyd
    assignment as the inverted lists, probe the query's top `nprobe`
    centroid lists, rank candidates by EXACT cosine. The probe is K
    driver-side cosines (centroids already live there after the Lloyd
    loop) and the search is one narrow scan: assign → isin(probed
    cids) → exact cosine → top-10. Candidate volume is the probed
    lists' size, never n; nothing shuffles."""
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        norm(F.col("embedding")).alias("vnorm"),
    ).persist()  # scanned by every Lloyd iteration
    prev, final = _kmeans_centroids(spark, vecs)
    qv = list(
        vecs.filter(F.col("vec_id") == 0).select("v").collect()[0].v
    )
    qnorm = math.sqrt(_pydot(qv, qv))
    scored = []
    for cid, c in final:
        s = _pydot(c, qv) / (math.sqrt(_pydot(c, c)) * qnorm)
        scored.append((py_round_half_up(s, _CENT_SCALE), cid))
    probe_cids = [
        cid for s, cid in sorted(scored, key=lambda t: (-t[0], t[1]))[:nprobe]
    ]
    cos = F.expr(
        _sql_r2(f"{_sql_dot('v', qv)} / (vnorm * {_dlit(qnorm)})", 4)
    )
    result = (
        vecs.withColumn("cid", _assign_cid(prev))
        .filter(F.col("cid").isin(probe_cids) & (F.col("vec_id") != 0))
        .select("vec_id", cos.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )
    # The cache only serves the eager Lloyd jobs above; the lazy result
    # recomputes from the parquet scan (one narrow pass). Unpersisting
    # here keeps cached blocks from outliving the query (ADVICE r03).
    vecs.unpersist(blocking=False)
    return result


_ORACLE_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


def kmeans_oracle_parts(
    suffix: str = "",
    vec_sql: str = "CAST(embedding AS DOUBLE[])",
    with_prefix: bool = True,
) -> tuple[list[str], int]:
    """Shared unrolled-CTE DuckDB prefix of the deterministic Lloyd
    loop: `v` (cast vectors), `cent0` (seeded init), and
    assign1..N / cent1..N for the N iterations. Every oracle that
    certifies a k-means-derived operator (IVF search, semantic dedup,
    product quantization) builds on this prefix so the certified
    trajectory is ONE shared definition, not two that could drift.
    `suffix` namespaces the CTEs (v{suffix}, assign{suffix}{i}, ...)
    and `vec_sql` picks the embedding expression, so a PQ oracle can
    unroll one Lloyd loop PER SUBSPACE slice in a single statement.
    Returns (parts, last_iter)."""
    rnd = lambda e: f"FLOOR(({e}) * 1000000.0 + 0.5) / 1000000.0"  # noqa: E731
    s = suffix
    head = "WITH " if with_prefix else ""
    parts = [
        f"{head}v{s} AS (SELECT vec_id, {vec_sql} AS v FROM embeddings)",
        f"""cent{s}0 AS (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cid,
                   list_transform(v, x -> {rnd('x')}) AS centroid
            FROM (SELECT vec_id, v FROM v{s} ORDER BY vec_id LIMIT {K_CLUSTERS})
        )""",
    ]
    for i in range(1, KMEANS_ITERS + 1):
        c = _ORACLE_COS.format(a="e.v", b="c.centroid")
        parts.append(f"""assign{s}{i} AS (
            SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                          ORDER BY {rnd(c)} DESC, c.cid) AS rn
                FROM v{s} e CROSS JOIN cent{s}{i - 1} c
            ) WHERE rn = 1
        )""")
        parts.append(f"""cent{s}{i} AS (
            SELECT cid, list(cv ORDER BY pos) AS centroid FROM (
                SELECT a.cid, d.pos, {rnd('AVG(d.vv)')} AS cv
                FROM (SELECT vec_id, generate_subscripts(v, 1) AS pos,
                             UNNEST(v) AS vv FROM v{s}) d
                JOIN assign{s}{i} a USING (vec_id)
                GROUP BY a.cid, d.pos
            ) GROUP BY cid
        )""")
    return parts, KMEANS_ITERS


def _ivf_kmeans_oracle() -> str:
    """Unrolled-CTE DuckDB twin of the deterministic Lloyd loop."""
    rnd = lambda e: f"FLOOR(({e}) * 1000000.0 + 0.5) / 1000000.0"  # noqa: E731
    cos = _ORACLE_COS
    parts, last = kmeans_oracle_parts()
    qc = cos.format(a="c.centroid", b="q.qv")
    fc = cos.format(a="e.v", b="q.qv")
    parts.append(f"""q AS (SELECT v AS qv FROM v WHERE vec_id = 0)""")
    parts.append(f"""probe AS (
        SELECT cid FROM (
            SELECT c.cid, ROW_NUMBER() OVER (ORDER BY {rnd(qc)} DESC, c.cid) AS rn
            FROM cent{last} c CROSS JOIN q
        ) WHERE rn <= {IVF_NPROBE}
    )""")
    return (
        ",\n".join(parts)
        + f"""
    SELECT e.vec_id,
           FLOOR(({fc}) * 10000.0 + 0.5) / 10000.0 AS cos_sim
    FROM v e
    JOIN assign{last} a USING (vec_id)
    JOIN probe p ON a.cid = p.cid
    CROSS JOIN q
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """
    )


@_register("similarity_ivf_kmeans_topk", _ivf_kmeans_oracle())
def similarity_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a REAL k-means coarse quantizer and nprobe=2
    (vs similarity_ivf_topk's label-centroid stand-in at nprobe=1):
    3 deterministic Lloyd iterations seeded from the K smallest
    vec_ids — no labels, no RNG — then probe the query's top-2 lists
    and rank candidates by exact cosine. Every float the two engines
    must agree on is rounded at 1e-6 before any comparison, so the
    entire iteration trajectory is engine-exact and the oracle mirrors
    it CTE-for-iteration."""
    return _ivf_kmeans_search(spark, sf_dir, IVF_NPROBE)


@_register("similarity_ann_lsh", None)  # composition not SQL-expressible → rows-only
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via hyperplane-LSH buckets: for query vectors vec_id < 5,
    top-3 same-bucket neighbors by exact cosine. The join key is the
    bucket id — candidate comparisons are n·(bucket size), never n²."""
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", lsh_bucket(F.col("embedding"))
    )
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"), "bucket"
    )
    cands = emb.join(F.broadcast(queries_df), "bucket").filter(
        F.col("vec_id") != F.col("q_id")
    )
    scored = cands.select(
        "q_id",
        "vec_id",
        F.round(cosine(F.col("embedding"), F.col("qe")), 4).alias("cos_sim"),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


@_register(
    "similarity_knn_join",
    """
    WITH q AS (
        SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
        FROM embeddings WHERE vec_id < 20
    ),
    scored AS (
        SELECT q.q_id, e.vec_id AS neighbor_id, e.label,
               FLOOR(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe) /
                     (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                            CAST(e.embedding AS DOUBLE[]))) *
                      sqrt(list_dot_product(q.qe, q.qe))) * 10000.0 + 0.5)
                   / 10000.0 AS cos_sim
        FROM embeddings e, q
        WHERE e.vec_id <> q.q_id
    )
    SELECT q_id, neighbor_id, label, cos_sim, rn FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= 3
    """,
)
def similarity_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN JOIN: every query in a bounded query set (vec_id < 20)
    gets its top-3 cosine neighbors from the full corpus — the batch
    retrieval/cluster-assignment shape (eval-set retrieval, embedding
    dedup seeding) that single-query topk doesn't cover. The query set
    broadcasts (Q x dim doubles) and the corpus streams past it
    map-side — the production plan for small-Q retrieval at any corpus
    size; larger Q swaps in the LSH/IVF bucketed paths (ann_lsh,
    ivf_kmeans). Per-query top-3 is a window on the ROUNDED score
    (+neighbor tiebreak), WindowGroupLimit-capped before the exchange so
    the shuffle sees k rows per (query, input partition), never Q x n."""
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    scored = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            "label",
            r2(cosine(F.col("embedding"), F.col("qe")), 4).alias("cos_sim"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


_LSH_MD5_ORACLE = f"""
    WITH qv AS (
        SELECT vec_id, label,
               list_transform(CAST(embedding AS DOUBLE[]),
                   v -> CAST(FLOOR(v * 1000.0 + 0.5) AS BIGINT)) AS q
        FROM embeddings
    ),
    buck AS (
        SELECT vec_id, label,
               CAST(list_sum(list_transform(range(0, {N_PLANES}), p ->
                   CASE WHEN list_sum(list_transform(range(1, len(q) + 1), i ->
                            q[i] * (CAST('0x' || substr(md5(CAST(p AS VARCHAR) || ':'
                                        || CAST(i - 1 AS VARCHAR)), 1, 4) AS BIGINT)
                                    % 1001 - 500))) > 0
                        THEN 1 << p ELSE 0 END)) AS BIGINT) AS bucket
        FROM qv
    )
    SELECT bucket, COUNT(*) AS n_vecs, COUNT(DISTINCT label) AS n_labels
    FROM buck GROUP BY bucket
"""


@_register("similarity_lsh_md5_buckets", _LSH_MD5_ORACLE)
def similarity_lsh_md5_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked hyperplane-LSH bucketing: embeddings quantized to
    integers (round(v*1000) — the int8-style fixed-point treatment),
    projected onto 8 md5-derived INTEGER hyperplanes, sign bits packed
    into a bucket id; output is the bucket histogram (size + distinct
    labels). All-integer projections make the sign — the one thing LSH
    depends on — bit-identical across engines, so the value-hash gate
    certifies the exact bucket assignment the rows-only production paths
    (similarity_ann_lsh, dedup_embedding_lsh: float planes from
    xxhash64, no SQL twin) are built on. One scan, projections fused
    into it, one groupBy on the bucket id — scan-shaped at 100 TB."""
    from user_feed_cdc_spark.sources.tables import fan_out

    # one SQL expr: quantize once, fold each plane's integer dot
    plane_terms = " + ".join(
        f"""CASE WHEN aggregate(
                zip_with(q, sequence(0, size(q) - 1),
                    (v, i) -> v * (CAST(conv(substr(md5(concat('{p}:', CAST(i AS STRING))), 1, 4), 16, 10) AS BIGINT) % 1001 - 500)),
                0L, (acc, x) -> acc + x) > 0
             THEN {1 << p}L ELSE 0L END"""
        for p in range(N_PLANES)
    )
    emb = fan_out(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "label",
        F.expr(
            "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))"
        ).alias("q"),
    )
    bucketed = emb.select("label", F.expr(plane_terms).alias("bucket"))
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.countDistinct("label").alias("n_labels"),
    )


_MATRYOSHKA_DIMS = 16  # stage-1 prefix length (full dim = 64 → 4× cheaper)
_MATRYOSHKA_POOL = 50


@_register(
    "similarity_matryoshka_topk",
    f"""
    WITH q AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id = 0
    ),
    pool AS (
        SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, q.qv
        FROM embeddings e, q
        WHERE e.vec_id <> 0
        ORDER BY list_dot_product(
                     (CAST(e.embedding AS DOUBLE[]))[1:{_MATRYOSHKA_DIMS}],
                     q.qv[1:{_MATRYOSHKA_DIMS}]) DESC, e.vec_id
        LIMIT {_MATRYOSHKA_POOL}
    )
    SELECT vec_id,
           FLOOR(list_dot_product(v, qv) /
                 (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))
                 * 10000.0 + 0.5) / 10000.0 AS cos_sim
    FROM pool
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def similarity_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) two-stage retrieval: stage 1 ranks on the dot
    product of the FIRST {16} dimensions only — the truncation trick of
    Matryoshka Representation Learning, where nested prefixes of a
    trained embedding are themselves usable embeddings — and keeps a
    top-{50} pool; stage 2 re-ranks the pool with full-dimension cosine.
    The dimension-sliced sibling of similarity_rerank_topk's int8
    ladder: 4× fewer multiply-adds AND 4× less vector I/O in stage 1 if
    the prefix is stored as its own column/file at scale. Both stages
    deterministic (same left-fold dot both engines, vec_id tiebreaks),
    so pool membership itself is under the hash gate."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qv")
    )
    mdot = dot(
        F.slice(F.col("v"), 1, _MATRYOSHKA_DIMS),
        F.slice(F.col("qv"), 1, _MATRYOSHKA_DIMS),
    )
    pool = (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
            "qv",
        )
        .withColumn("_m", mdot)
        .orderBy(F.col("_m").desc(), "vec_id")
        .limit(_MATRYOSHKA_POOL)
    )
    cos = dot(F.col("v"), F.col("qv")) / (norm(F.col("v")) * norm(F.col("qv")))
    return (
        pool.select("vec_id", r2(cos, 4).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


@_register(
    "similarity_pandas_udf_normalize",
    """
    SELECT vec_id,
           array_to_string(list_transform(embedding, x ->
               CAST(CAST(FLOOR(CAST(x AS DOUBLE)
                     / sqrt(list_sum(list_transform(embedding,
                           y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))
                     * 1000000.0 + 0.5) AS BIGINT) AS VARCHAR)), ',')
               AS unit_vec_csv
    FROM embeddings
    WHERE vec_id < 200
    """,
)
def similarity_pandas_udf_normalize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """L2 normalization through a SCALAR Arrow `@pandas_udf` — the
    vectorized-UDF surface the mapInPandas featurizer doesn't cover:
    embeddings arrive as a pandas Series of numpy arrays per Arrow
    batch, numpy does the math batch-wise, and the result is certified
    VALUE-EXACT against the SQL oracle. Cross-engine float contract:
    the squared-norm accumulates with np.cumsum (strictly sequential
    fp64 adds — numpy's default pairwise-tree sum would differ from
    DuckDB's sequential list_sum in ULPs), np.sqrt/np.floor are
    correctly-rounded like both engines' sqrt/floor, and each element
    is frozen half-up to integer MICRO-UNITS inside the UDF. The
    certified output is the CSV join of those micro-units — scalar
    STRING, never ARRAY: the driver's canonicalizer sorts on raw
    column values and cannot hash list cells (r07 failure), so every
    oracle-backed entry keeps scalar-only output columns. Bounded to
    vec_id<200 by contract only to keep the oracle cheap — the UDF
    itself is the per-row O(dim) scan-stage pass that runs at any
    scale.

    When to use this tier at 100 TB: built-in higher-order fns
    (`F.aggregate`/`zip_with`, the cosine family here) stay JVM-side
    and win when expressible; the scalar pandas_udf is the next rung —
    one Arrow round-trip per batch, numpy inside — for math that
    outgrows SQL expressions (model scoring, learned tokenizers)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no annotations on the inner fn: PEP-563 lazy annotations (active
    # module-wide) stringify them, which pandas_udf can't introspect;
    # the explicit returnType carries the schema
    @pandas_udf("array<long>")
    def l2_normalize_micro(vecs):
        out = []
        for v in vecs:
            e = np.asarray(v, dtype=np.float64)
            # cumsum = sequential adds; [-1] is the full squared norm
            norm = np.sqrt(np.cumsum(e * e)[-1])
            unit = e / norm
            out.append(np.floor(unit * 1e6 + 0.5).astype(np.int64))
        return pd.Series(out)

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    micro = l2_normalize_micro(F.col("embedding"))
    return emb.select(
        "vec_id",
        F.array_join(
            F.transform(micro, lambda x: x.cast("string")), ","
        ).alias("unit_vec_csv"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) ADC top-k
# ---------------------------------------------------------------------------

_PQ_SUB_DIM = 32  # 64-dim embeddings → 2 subspaces of 32


def _pq_oracle() -> str:
    """Unrolled twin of the per-subspace Lloyd loops + ADC scoring:
    two kmeans_oracle_parts expansions (suffixes a/b over the two
    32-dim slices) in one statement, lookup tables as centroid·query
    dots rounded at 1e-6, final score the rounded sum."""
    rnd = lambda e: f"FLOOR(({e}) * 1000000.0 + 0.5) / 1000000.0"  # noqa: E731
    parts_a, last = kmeans_oracle_parts(
        "a", f"CAST(embedding[1:{_PQ_SUB_DIM}] AS DOUBLE[])"
    )
    parts_b, _ = kmeans_oracle_parts(
        "b",
        f"CAST(embedding[{_PQ_SUB_DIM + 1}:{2 * _PQ_SUB_DIM}] AS DOUBLE[])",
        with_prefix=False,
    )
    tbl = last - 1  # codes assign against cent_{N-1}; tables must match
    parts = parts_a + parts_b + [
        "qa AS (SELECT v AS qv FROM va WHERE vec_id = 0)",
        "qb AS (SELECT v AS qv FROM vb WHERE vec_id = 0)",
        f"""ta AS (
            SELECT c.cid,
                   {rnd('list_dot_product(c.centroid, q.qv)')} AS t
            FROM centa{tbl} c CROSS JOIN qa q
        )""",
        f"""tb AS (
            SELECT c.cid,
                   {rnd('list_dot_product(c.centroid, q.qv)')} AS t
            FROM centb{tbl} c CROSS JOIN qb q
        )""",
    ]
    return (
        ",\n".join(parts)
        + f"""
    SELECT a.vec_id, a.cid AS code_a, b.cid AS code_b,
           {rnd('ta.t + tb.t')} AS approx_dot
    FROM assigna{last} a
    JOIN assignb{last} b USING (vec_id)
    JOIN ta ON ta.cid = a.cid
    JOIN tb ON tb.cid = b.cid
    WHERE a.vec_id <> 0
    ORDER BY approx_dot DESC, a.vec_id
    LIMIT 10
    """
    )


@_register("similarity_pq_topk", _pq_oracle())
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT QUANTIZATION ANN (Jégou et al. 2011, the memory-bound
    regime's workhorse): each 64-dim vector compresses to TWO 3-bit
    codes — one per 32-dim subspace, each learned by the SAME
    deterministic Lloyd quantizer the IVF entry certifies — and query
    scoring is ASYMMETRIC DISTANCE COMPUTATION: dot(q, x) decomposes
    exactly over subspaces, so dot(q, x) ≈ t_a[code_a(x)] +
    t_b[code_b(x)] where each lookup table holds the 8 centroid·query
    sub-dots. Per candidate that is two table lookups and one add —
    no vector arithmetic at all, which is the entire point: at 100 TB
    the codes (6 bits/vector here; 64-128 bits in production) fit in
    memory where raw vectors cannot, vectors are touched only at
    build time, and the scan stage scores from broadcast tables.
    Completes the ANN taxonomy beside brute/LSH/IVF/int8/Hamming/
    Matryoshka: PQ is the CODEBOOK-compression axis.

    Cross-engine exactness rides the shared Lloyd machinery: both
    subspace codebooks come from kmeans_oracle_parts' unrolled CTEs
    (suffixed a/b in ONE statement), codes assign against cent_{N-1}
    exactly like the in-loop assignment, lookup-table dots and the
    final sum are rounded at 1e-6. Plan: two Lloyd loops over sliced
    vectors (K×subdim centroids to the driver per iteration — vectors
    never shuffle), then one narrow projection computes both codes +
    the CASE-literal table lookups, TakeOrderedAndProject closes.

    Honesty note on retrieval quality: 2×3 bits is a TOY code budget —
    measured recall@10 vs exact MIPS is ~0.2 on the driver corpus;
    production PQ spends 64-128 bits (8-16 subspaces × 8-bit
    codebooks) and recovers recall, at identical plan shape. What this
    entry certifies is the exact code-assignment + ADC mechanics; the
    better-than-random selection property is pinned by pytest."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("full")
    )

    def subspace(lo: int) -> DataFrame:
        v = F.slice("full", lo, _PQ_SUB_DIM)
        return emb.select("vec_id", v.alias("v"), norm(v).alias("vnorm"))

    sub_a = subspace(1).persist()
    sub_b = subspace(_PQ_SUB_DIM + 1).persist()
    # The two subspace Lloyd loops are INDEPENDENT driver-blocking
    # iteration chains (tiny per-iteration jobs, driver round-trip
    # bound) — overlap them from a 2-thread pool so each loop's next
    # iteration back-fills the executor idle time of the other's
    # collect (guide §2.6 "overlap independent jobs"); per-loop
    # determinism is untouched, the loops share nothing.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_a = pool.submit(_kmeans_centroids, spark, sub_a)
        fut_b = pool.submit(_kmeans_centroids, spark, sub_b)
        prev_a, _ = fut_a.result()
        prev_b, _ = fut_b.result()
    q_row = (
        emb.filter(F.col("vec_id") == 0)
        .select(
            F.slice("full", 1, _PQ_SUB_DIM).alias("qa"),
            F.slice("full", _PQ_SUB_DIM + 1, _PQ_SUB_DIM).alias("qb"),
        )
        .collect()[0]
    )
    from user_feed_cdc_spark.functions.numeric import py_round_half_up

    t_a = {cid: py_round_half_up(_pydot(c, list(q_row.qa)), 6) for cid, c in prev_a}
    t_b = {cid: py_round_half_up(_pydot(c, list(q_row.qb)), 6) for cid, c in prev_b}

    def lookup(code_col: str, table: dict) -> Column:
        cases = " ".join(
            f"WHEN {cid} THEN {_dlit(t)}" for cid, t in sorted(table.items())
        )
        return F.expr(f"CASE {code_col} {cases} END")

    coded = (
        sub_a.select("vec_id", _assign_cid(prev_a).alias("code_a"))
        .join(
            sub_b.select("vec_id", _assign_cid(prev_b).alias("code_b")),
            "vec_id",
        )
        .filter(F.col("vec_id") != 0)
    )
    score = r2(lookup("code_a", t_a) + lookup("code_b", t_b), 6)
    out = (
        coded.select("vec_id", "code_a", "code_b", score.alias("approx_dot"))
        .orderBy(F.col("approx_dot").desc(), "vec_id")
        .limit(10)
    )
    sub_a.unpersist(blocking=False)
    sub_b.unpersist(blocking=False)
    return out


# ---------------------------------------------------------------------------
# ANN recall certification: LSH-bucketed top-k measured against exact top-k
# ---------------------------------------------------------------------------

_RECALL_K = 10
_RECALL_QUERIES = 8
_RECALL_TABLES = 2   # L independent hash tables, candidates = OR over tables
_RECALL_PLANES = 4   # planes per table (fewer planes -> wider buckets)


def _recall_plane_terms(col: str, table: int) -> str:
    """Spark SQL expr: pack _RECALL_PLANES sign bits of md5-derived
    INTEGER hyperplane projections of quantized vector column ``col``
    into a bucket id, planes salted by hash-table index (same integer
    construction as similarity_lsh_md5_buckets, so signs are
    bit-identical across engines)."""
    return " + ".join(
        f"""CASE WHEN aggregate(
                zip_with({col}, sequence(0, size({col}) - 1),
                    (v, i) -> v * (CAST(conv(substr(md5(concat('{table}:{p}:', CAST(i AS STRING))), 1, 4), 16, 10) AS BIGINT) % 1001 - 500)),
                0L, (acc, x) -> acc + x) > 0
             THEN {1 << p}L ELSE 0L END"""
        for p in range(_RECALL_PLANES)
    )


_IDOT_SQL = (
    "CAST(list_sum(list_transform(range(1, len(b.q) + 1),"
    " i -> b.q[i] * s.qq[i])) AS BIGINT)"
)

_LSH_RECALL_ORACLE = f"""
    WITH qv AS (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                   v -> CAST(FLOOR(v * 1000.0 + 0.5) AS BIGINT)) AS q
        FROM embeddings
    ),
    buck AS (
        SELECT t.tbl, v.vec_id, v.q,
               CAST(list_sum(list_transform(range(0, {_RECALL_PLANES}), p ->
                   CASE WHEN list_sum(list_transform(range(1, len(v.q) + 1), i ->
                            v.q[i] * (CAST('0x' || substr(md5(
                                CAST(t.tbl AS VARCHAR) || ':' ||
                                CAST(p AS VARCHAR) || ':' ||
                                CAST(i - 1 AS VARCHAR)), 1, 4) AS BIGINT)
                                    % 1001 - 500))) > 0
                        THEN 1 << p ELSE 0 END)) AS BIGINT) AS bucket
        FROM qv v CROSS JOIN (
            SELECT UNNEST(range(0, {_RECALL_TABLES})) AS tbl) t
    ),
    exact_q AS (
        SELECT vec_id AS query_id, q AS qq FROM qv
        WHERE vec_id < {_RECALL_QUERIES}
    ),
    exact_top AS (
        SELECT query_id, vec_id FROM (
            SELECT s.query_id, b.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY s.query_id
                       ORDER BY {_IDOT_SQL} DESC, b.vec_id) AS rn
            FROM qv b, exact_q s WHERE b.vec_id <> s.query_id
        ) WHERE rn <= {_RECALL_K}
    ),
    lsh_q AS (
        SELECT tbl, vec_id AS query_id, q AS qq, bucket AS qbucket
        FROM buck WHERE vec_id < {_RECALL_QUERIES}
    ),
    cand AS (
        SELECT DISTINCT s.query_id, b.vec_id, {_IDOT_SQL} AS idot
        FROM buck b JOIN lsh_q s
          ON b.tbl = s.tbl AND b.bucket = s.qbucket
         AND b.vec_id <> s.query_id
    ),
    cand_top AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY idot DESC, vec_id) AS rn
            FROM cand
        ) WHERE rn <= {_RECALL_K}
    ),
    ncand AS (
        SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_candidates
        FROM cand GROUP BY query_id
    ),
    hits AS (
        SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS hits_at_k
        FROM exact_top e JOIN cand_top c
          ON e.query_id = c.query_id AND e.vec_id = c.vec_id
        GROUP BY e.query_id
    )
    SELECT q.query_id,
           CAST(COALESCE(n.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(h.hits_at_k, 0) AS BIGINT) AS hits_at_k
    FROM exact_q q
    LEFT JOIN ncand n ON q.query_id = n.query_id
    LEFT JOIN hits h ON q.query_id = h.query_id
"""


@_register("similarity_lsh_recall", _LSH_RECALL_ORACLE)
def similarity_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality MEASURED, not guessed: recall@k of multi-table
    hyperplane-LSH search against the exact ranking, certified
    end-to-end under the value-hash gate. For each of 8 query vectors:
    the exact top-10 by dot product over ALL vectors; the top-10
    restricted to the union of the query's buckets across L=2
    independent 4-plane hash tables (the standard OR-amplification —
    more tables raise recall, more planes shrink candidate sets; the
    same trade MinHash banding makes); and hits_at_k = |intersection|,
    the recall numerator every ANN benchmark (ann-benchmarks,
    DiskANN/ScaNN papers) reports, with n_candidates as the measured
    probe cost. Both rankings order by the INTEGER dot product of
    1e-3-quantized vectors with vec_id tiebreaks, so rank edges are
    bit-identical across engines and the recall counts are exact —
    this is the harness a 100 TB deployment runs to tune
    (tables, planes) before trusting the bucketed path
    (similarity_ann_lsh stays the rows-only production twin). Scale
    shape: each table's candidate fetch is a plain hash join on
    (table, bucket) — the union of L tables is a union of L hash
    joins, never an OR-join; the exact arm is the certification
    fixture (8-row broadcast query set — whitelisted bounded nested
    loop, same contract as similarity_knn_join), and the production
    measurement at 100 TB samples queries against the bucket-join arm
    only."""
    from functools import reduce

    from user_feed_cdc_spark.sources.tables import fan_out

    emb = fan_out(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.expr(
            "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))"
        ).alias("q"),
    )
    idot = F.aggregate(
        F.zip_with("q", "qq", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    rank = W.partitionBy("query_id").orderBy(F.col("idot").desc(), F.col("vec_id"))

    # exact arm: 8-row broadcast query set against every vector
    exact_q = emb.filter(F.col("vec_id") < _RECALL_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    exact_top = (
        emb.crossJoin(F.broadcast(exact_q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", idot.alias("idot"))
        .withColumn("rn", F.row_number().over(rank))
        .filter(F.col("rn") <= _RECALL_K)
        .select("query_id", "vec_id")
    )

    # LSH arm: L stacked hash tables, one equi-join on (tbl, bucket)
    stacked = reduce(
        DataFrame.unionByName,
        (
            emb.select(
                "vec_id",
                "q",
                F.lit(t).alias("tbl"),
                F.expr(_recall_plane_terms("q", t)).alias("bucket"),
            )
            for t in range(_RECALL_TABLES)
        ),
    )
    lsh_q = stacked.filter(F.col("vec_id") < _RECALL_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("tbl").alias("qtbl"),
        F.col("bucket").alias("qbucket"),
    )
    cand = (
        stacked.join(
            F.broadcast(lsh_q),
            (F.col("tbl") == F.col("qtbl"))
            & (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id", idot.alias("idot"))
        .distinct()  # a pair found by both tables counts once
    )
    cand_top = (
        cand.withColumn("rn", F.row_number().over(rank))
        .filter(F.col("rn") <= _RECALL_K)
        .select("query_id", "vec_id")
    )

    ncand = cand.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_candidates"))
    hits = (
        exact_top.join(cand_top, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits_at_k"))
    )
    spine = exact_q.select("query_id")
    return (
        spine.join(ncand, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
            F.coalesce("hits_at_k", F.lit(0)).cast("long").alias("hits_at_k"),
        )
    )


# ---------------------------------------------------------------------------
# Hard-negative mining for contrastive training data
# ---------------------------------------------------------------------------

_HARDNEG_QUERIES = 8
_HARDNEG_K = 3


_HARD_NEGATIVES_ORACLE = f"""
    WITH qv AS (
        SELECT vec_id, label,
               list_transform(CAST(embedding AS DOUBLE[]),
                   v -> CAST(FLOOR(v * 1000.0 + 0.5) AS BIGINT)) AS q
        FROM embeddings
    ),
    anchors AS (
        SELECT vec_id AS query_id, label AS query_label, q AS qq
        FROM qv WHERE vec_id < {_HARDNEG_QUERIES}
    )
    SELECT query_id, rank, vec_id AS neg_id, label AS neg_label, idot
    FROM (
        SELECT s.query_id, b.vec_id, b.label,
               CAST(list_sum(list_transform(range(1, len(b.q) + 1),
                    i -> b.q[i] * s.qq[i])) AS BIGINT) AS idot,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                   ORDER BY CAST(list_sum(list_transform(range(1, len(b.q) + 1),
                        i -> b.q[i] * s.qq[i])) AS BIGINT) DESC, b.vec_id)
                   AS rank
        FROM qv b, anchors s
        WHERE b.vec_id <> s.query_id AND b.label <> s.query_label
    )
    WHERE rank <= {_HARDNEG_K}
"""


@_register("similarity_hard_negatives", _HARD_NEGATIVES_ORACLE)
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING — the contrastive-training data-prep step
    (DPR/SimCSE/SBERT recipes): for each anchor vector, the top-3 most
    similar vectors carrying a DIFFERENT label. These near-miss
    negatives are what make a contrastive loss learn a boundary; easy
    (random) negatives teach nothing. Ranking is the integer dot
    product of 1e-3-quantized vectors with vec_id tiebreaks — rank
    edges bit-identical across engines, so the mined triples are
    hash-certified exactly. Scale shape: the anchor set is the bounded
    broadcast fixture (8 rows, whitelisted — same contract as
    similarity_knn_join); at 100 TB anchors batch through the SAME
    plan in bounded slices (mining is embarrassingly parallel in the
    anchor dimension), and the label-mismatch predicate rides the scan
    — no extra join. The full-corpus variant swaps the exact arm for
    the IVF/LSH candidate arm and re-ranks, exactly the
    similarity_rerank_topk composition."""
    from user_feed_cdc_spark.sources.tables import fan_out

    emb = fan_out(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "label",
        F.expr(
            "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))"
        ).alias("q"),
    )
    anchors = emb.filter(F.col("vec_id") < _HARDNEG_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("q").alias("qq"),
    )
    idot = F.aggregate(
        F.zip_with("q", "qq", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    rank = W.partitionBy("query_id").orderBy(F.col("idot").desc(), F.col("vec_id"))
    return (
        emb.crossJoin(F.broadcast(anchors))
        .filter(
            (F.col("vec_id") != F.col("query_id"))
            & (F.col("label") != F.col("query_label"))
        )
        .select("query_id", "vec_id", "label", idot.alias("idot"))
        .withColumn("rank", F.row_number().over(rank))
        .filter(F.col("rank") <= _HARDNEG_K)
        .select(
            "query_id",
            "rank",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            "idot",
        )
    )


# ---------------------------------------------------------------------------
# MMR — maximal marginal relevance diversified top-k (Carbonell & Goldstein
# 1998), the retrieval-diversity selector training-data pipelines use to
# avoid filling a context/batch with near-duplicate passages
# ---------------------------------------------------------------------------

_MMR_POOL = 12  # relevance-ranked candidate pool the greedy solve runs on
_MMR_K = 5      # diversified picks


@_register(
    "similarity_mmr_topk",
    f"""
    WITH RECURSIVE
    emb AS (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(FLOOR(x * 64.0) AS BIGINT)) AS qe
        FROM embeddings
    ),
    q AS (SELECT qe AS qv FROM emb WHERE vec_id = 0),
    rel AS (
        SELECT e.vec_id,
               CAST(list_sum(list_transform(range(1, 65),
                             i -> e.qe[i] * q.qv[i])) AS BIGINT) AS rel_iscore
        FROM emb e, q
        WHERE e.vec_id <> 0
    ),
    cand AS (
        SELECT vec_id, rel_iscore FROM rel
        ORDER BY rel_iscore DESC, vec_id LIMIT {_MMR_POOL}
    ),
    pairs AS (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               CAST(list_sum(list_transform(range(1, 65),
                             i -> ea.qe[i] * eb.qe[i])) AS BIGINT) AS sim
        FROM cand a JOIN emb ea ON ea.vec_id = a.vec_id,
             cand b JOIN emb eb ON eb.vec_id = b.vec_id
        WHERE a.vec_id <> b.vec_id
    ),
    sel(step, picked, redundancy, sel_ids) AS (
        SELECT 1,
               (SELECT vec_id FROM cand
                ORDER BY rel_iscore DESC, vec_id LIMIT 1),
               CAST(NULL AS BIGINT),
               [(SELECT vec_id FROM cand
                 ORDER BY rel_iscore DESC, vec_id LIMIT 1)]
        UNION ALL
        SELECT s.step + 1, nxt.vec_id, nxt.redundancy,
               list_append(s.sel_ids, nxt.vec_id)
        FROM sel s, LATERAL (
            SELECT c.vec_id,
                   (SELECT MAX(p.sim) FROM pairs p
                    WHERE p.va = c.vec_id
                      AND list_contains(s.sel_ids, p.vb)) AS redundancy
            FROM cand c
            WHERE NOT list_contains(s.sel_ids, c.vec_id)
            ORDER BY c.rel_iscore
                     - (SELECT MAX(p.sim) FROM pairs p
                        WHERE p.va = c.vec_id
                          AND list_contains(s.sel_ids, p.vb)) DESC,
                     c.vec_id
            LIMIT 1) nxt
        WHERE s.step < {_MMR_K}
    )
    SELECT CAST(s.step AS BIGINT) AS rank, s.picked AS vec_id,
           c.rel_iscore, s.redundancy,
           CAST(c.rel_iscore - COALESCE(s.redundancy, 0) AS BIGINT)
               AS mmr_iscore
    FROM sel s JOIN cand c ON c.vec_id = s.picked
    """,
)
def similarity_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein 1998) for query vec_id=0: greedily pick {_MMR_K} of the
    {_MMR_POOL} most query-relevant vectors, each round maximizing
    relevance MINUS max-similarity-to-already-picked (lambda = 1/2,
    folded into integer scores: mmr = rel - max_sim, both int8-style
    quantized dots, so the argmax edge is exact in both engines; ties
    break on vec_id). This is the selector that keeps a RAG context or
    a curated training batch from being {_MMR_K} copies of the same
    passage — redundancy is measured against what is already chosen,
    not the query. Execution shape: the DISTRIBUTED work is the
    relevance top-{_MMR_POOL} over the corpus (TakeOrderedAndProject,
    query broadcast — the certified similarity_cosine_topk plan) plus
    one {_MMR_POOL}x{_MMR_POOL} pairwise-dot frame; both are cached
    tiny frames, and the greedy solve is {_MMR_K - 1} rounds of
    anti-join + max + 1-row TakeOrdered over them — pure DataFrame
    composition, nothing collected, no Python in the loop. At 100 TB
    only the pool retrieval grows (and swaps to the IVF/LSH arm);
    greedy MMR stays O(K·POOL) regardless of corpus size. Oracle: the
    same greedy unrolled as a DuckDB recursive CTE carrying the
    selected-id list."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _quantize(F.col("embedding")).alias("qe")
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("qe").alias("qv"))
    cand = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id", "qe",
            _int_dot(F.col("qe"), F.col("qv")).alias("rel_iscore"),
        )
        .orderBy(F.col("rel_iscore").desc(), "vec_id")
        .limit(_MMR_POOL)
        .cache()
    )
    a = cand.select(F.col("vec_id").alias("va"), F.col("qe").alias("ea"))
    b = cand.select(F.col("vec_id").alias("vb"), F.col("qe").alias("eb"))
    pairs = (
        a.join(b, F.col("va") != F.col("vb"))
        .select("va", "vb", _int_dot(F.col("ea"), F.col("eb")).alias("sim"))
        .cache()
    )
    pool = cand.select("vec_id", "rel_iscore")
    selected = (
        pool.orderBy(F.col("rel_iscore").desc(), "vec_id")
        .limit(1)
        .select(
            F.lit(1).cast("long").alias("rank"),
            "vec_id",
            "rel_iscore",
            F.lit(None).cast("long").alias("redundancy"),
        )
    )
    for step in range(2, _MMR_K + 1):
        chosen = selected.select(F.col("vec_id").alias("sel_id"))
        red = (
            pairs.join(
                F.broadcast(chosen), F.col("vb") == F.col("sel_id"), "left_semi"
            )
            .groupBy("va")
            .agg(F.max("sim").alias("redundancy"))
        )
        pick = (
            pool.join(F.broadcast(chosen), pool.vec_id == F.col("sel_id"), "left_anti")
            .join(red, pool.vec_id == F.col("va"))
            .orderBy(
                (F.col("rel_iscore") - F.col("redundancy")).desc(), "vec_id"
            )
            .limit(1)
            .select(
                F.lit(step).cast("long").alias("rank"),
                "vec_id",
                "rel_iscore",
                "redundancy",
            )
        )
        # Truncate lineage each round: without this, round r's pick
        # subplan embeds the UNION of every earlier round's pick plan
        # (the selected frame feeds both the anti-join and the
        # redundancy probe), so Catalyst re-plans an O(K²)-deep tree
        # and the 5-pick solve costs seconds in planning alone.
        # Checkpointing the ≤K-row frame pins each round's plan to the
        # two cached pool frames (measured at sf0.1: 14.2→8.9 s cold,
        # 5.8→2.1 s warm).
        selected = selected.unionByName(pick).localCheckpoint(eager=True)
    # The final-round localCheckpoint above is eager, so every pick is
    # already materialized and the two cached pool frames can be
    # released now — otherwise each invocation leaks two cached frames
    # for the session lifetime.
    cand.unpersist(blocking=False)
    pairs.unpersist(blocking=False)
    return selected.withColumn(
        "mmr_iscore",
        (F.col("rel_iscore") - F.coalesce(F.col("redundancy"), F.lit(0))).cast(
            "long"
        ),
    )


# ---------------------------------------------------------------------------
# Range search: ALL neighbors above a similarity threshold (not top-k)
# ---------------------------------------------------------------------------

_RANGE_N_PROBES = 4
_RANGE_THRESHOLD = 1000  # quantized-dot units (~cos 0.24 at |q| ≈ 64)


@_register(
    "similarity_range_search",
    f"""
    WITH p AS (
        SELECT vec_id AS probe_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(FLOOR(x * 64.0) AS BIGINT)) AS qp
        FROM embeddings WHERE vec_id < {_RANGE_N_PROBES}
    ),
    c AS (
        SELECT vec_id, label,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(FLOOR(x * 64.0) AS BIGINT)) AS qc
        FROM embeddings
    )
    SELECT probe_id, vec_id, label, iscore
    FROM (
        SELECT p.probe_id, c.vec_id, c.label,
               CAST(list_sum(list_transform(range(1, len(qp) + 1),
                             i -> qp[i] * qc[i])) AS BIGINT) AS iscore
        FROM p, c
        WHERE c.vec_id <> p.probe_id
    )
    WHERE iscore >= {_RANGE_THRESHOLD}
    """,
)
def similarity_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE search — every corpus vector whose similarity to a probe
    clears a threshold, however many there are — the retrieval mode
    dedup thresholds, radius joins, and recall-first RAG filters need
    where top-k is wrong (k truncates dense neighborhoods and pads
    sparse ones). {_RANGE_N_PROBES} probe vectors broadcast into ONE
    corpus scan; the score is the exact int8-style quantized dot
    (floor(x*64) per coordinate — bit-deterministic, so the >= edge
    cannot ULP-flip between engines) and the predicate filters scan-
    side: no sort, no TakeOrdered, no state — the cheapest possible
    plan shape for the semantics. Output size is data-dependent by
    design.

    At 100 TB: the broadcast-probe scan IS the production
    shape for small probe batches (the corpus never shuffles and the
    filter pushes into the scan stage); for large probe sets, swap the
    crossJoin for the IVF/LSH bucket-join arms certified beside this
    entry (same threshold predicate over candidate buckets, same
    integer score) — range semantics compose with every pruning index
    in the family because the final filter is a pure per-row
    predicate. Threshold {_RANGE_THRESHOLD} sits at the ~99th
    percentile of the probe-score distribution, so matches stay sparse
    exactly as a dedup-radius query's do."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < _RANGE_N_PROBES).select(
        F.col("vec_id").alias("probe_id"), _quantize(F.col("embedding")).alias("qp")
    )
    return (
        emb.select("vec_id", "label", _quantize(F.col("embedding")).alias("qc"))
        .join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            "label",
            _int_dot(F.col("qp"), F.col("qc")).alias("iscore"),
        )
        .filter(F.col("iscore") >= _RANGE_THRESHOLD)
    )
