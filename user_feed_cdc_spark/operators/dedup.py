"""Deduplication operators (SURVEY.md §2.3 E1/E2 + north-star dedup).

- Exact dedup: hash-groupBy / window row_number==1 — one shuffle on the
  dedup key, scales linearly.
- N-gram Jaccard near-dup: exact pairwise similarity within a bounded
  candidate set (the correctness baseline the LSH path approximates).
- MinHash+LSH near-dup: shingle → k minhashes → b bands → bucket-join.
  This is the 100 TB path: candidate generation is a groupBy on band
  hashes (no cross join anywhere); only same-bucket pairs are verified.

Everything is built-in column expressions (xxhash64, higher-order array
functions) — no Python UDFs, no pyspark.ml dependency, fully
whole-stage-codegen'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from user_feed_cdc_spark.functions.numeric import round_half_up as r2
from user_feed_cdc_spark.registry import registry
from user_feed_cdc_spark.session import input_width, with_conf
from user_feed_cdc_spark.sources.tables import fan_out, load_table

QUERIES, ORACLES, _register = registry()


@_register(
    "dedup_exact_latest_event",
    """
    SELECT event_id, user_id, event_type, ts, FLOOR(value * 100.0 + 0.5) / 100.0 AS value
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
)
def dedup_exact_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest exact dedup on (user_id, event_type): the canonical
    CDC-compaction shape (latest row image per key). WindowGroupLimit
    pushes the rn=1 limit below the shuffle."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "ts", r2(F.col("value")).alias("value"))
    )


@_register(
    "dedup_exact_docs",
    """
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: group by content hash, keep min doc_id as the
    representative. Hashing first means the shuffle key is a fixed-width
    digest, not the document body — at 100 TB you shuffle 16 bytes/doc,
    not the text."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("doc_id", "n_copies")
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard (exact near-dup baseline, bounded candidate set)
# ---------------------------------------------------------------------------

_JACCARD_ORACLE = """
    WITH toks AS (
        SELECT doc_id,
               list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS ts
        FROM documents WHERE doc_id < 200
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           FLOOR((len(list_intersect(a.ts, b.ts)) * 1.0 /
                  len(list_distinct(list_concat(a.ts, b.ts)))) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
    FROM toks a JOIN toks b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.ts, b.ts)) * 1.0 /
          len(list_distinct(list_concat(a.ts, b.ts))) >= 0.6
"""


@_register("dedup_ngram_jaccard", _JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard over a bounded window (doc_id < 200) — the
    ground-truth oracle for the LSH path. The deliberately bounded input
    makes the O(n²) verify safe; unbounded near-dup goes through
    minhash_lsh_candidates below."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.array_distinct(F.filter(F.split("text", " "), lambda t: t != "")).alias("ts"),
        )
    )
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("ts").alias("ts_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("ts").alias("ts_b"))
    jac = F.size(F.array_intersect("ts_a", "ts_b")) / F.size(
        F.array_distinct(F.concat("ts_a", "ts_b"))
    )
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .filter(jac >= 0.6)
        .select("doc_a", "doc_b", r2(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (the scale path)
# ---------------------------------------------------------------------------

N_MINHASH = 32  # signature length
N_BANDS = 16  # 16 bands × 2 rows: P(candidate | j=0.8) ≈ 1 - (1-0.64)^16 ≈ 1-1e-7
ROWS_PER_BAND = N_MINHASH // N_BANDS


def shingles(text_col, n: int = 3):
    """Word n-gram shingles as an array column (distinct)."""
    toks = F.filter(F.split(text_col, " "), lambda t: t != "")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    )


_MASK32 = 4294967295  # low 32 bits
N_HASH_GROUPS = 4  # independent affine families; breaks cross-band correlation


def minhash_signature(shingle_col, k: int = N_MINHASH, groups: int = N_HASH_GROUPS):
    """k minhashes from `groups` independent two-hash affine families
    (Kirsch-Mitzenmacher / Broder): within group g,
    h_{g,i}(s) = a_g(s) + i·b_g(s), a/b = low 32 bits of seeded
    xxhash64s (b odd; 32-bit halves keep the sum < 2^38 —
    overflow-free under ANSI). 2·groups hash evaluations per shingle
    instead of k — ~3× faster than the k-seed version at sf0.1. A
    SINGLE affine family correlates all bands and measurably loses
    recall (2/4457 jaccard≥0.8 pairs missed at sf0.001); four
    independent families restore 100% recall on that ground-truth set
    while keeping the speedup.

    Single-pass formulation: shingle_col appears ONCE in the expression
    tree (inside one transform), then an elementwise-min fold — any
    form referencing the shingle expression k× gets the whole shingle
    construction re-inlined per seed by CollapseProject (a 32× CPU
    blowup measured in round 1)."""
    if groups < 1 or k % groups != 0:
        # a non-dividing k would silently leave trailing signature slots
        # at the init sentinel (out-of-bounds element_at → null → dropped
        # by least) — fail loudly instead of corrupting signatures
        raise ValueError(f"k ({k}) must be a positive multiple of groups ({groups})")
    per = k // groups
    per_shingle = F.transform(
        shingle_col,
        lambda s: F.struct(
            F.array(
                *[
                    F.xxhash64(s, F.lit(2 * g + 1)).bitwiseAND(F.lit(_MASK32))
                    for g in range(groups)
                ]
            ).alias("a"),
            F.array(
                *[
                    F.xxhash64(s, F.lit(2 * g + 2))
                    .bitwiseAND(F.lit(_MASK32))
                    .bitwiseOR(F.lit(1))
                    for g in range(groups)
                ]
            ).alias("b"),
        ),
    )
    return F.aggregate(
        per_shingle,
        F.array_repeat(F.lit(2**63 - 1).cast("long"), k),
        lambda acc, h: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda m, i: F.least(
                m,
                F.element_at(h["a"], (i / per).cast("int") + 1)
                + (i % per) * F.element_at(h["b"], (i / per).cast("int") + 1),
            ),
        ),
    )


def lsh_candidate_pairs(
    docs: DataFrame, id_col: str = "doc_id", n_shingle: int = 1
) -> DataFrame:
    """doc_id pairs sharing ≥1 LSH band bucket. Shuffle key = (band_idx,
    band_hash): bounded-size buckets, no cross join. At 100 TB add a
    bucket-size cap (skew guard) before the self-join.

    n_shingle picks the similarity space the minhash approximates:
    1 → token-set Jaccard (matches the verify metric used here);
    3-5 → trigram+ shingles for order-sensitive near-dup."""
    # the ONE certified band construction (lsh_band_rows) — a local copy
    # here would silently diverge from what dedup_minhash_lsh certifies
    bands = lsh_band_rows(docs, id_col, n_shingle)
    a = bands.select(
        F.col(id_col).alias("id_a"), "band_idx", "band_hash"
    )
    b = bands.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
    return (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def lsh_band_rows(docs: DataFrame, id_col: str = "doc_id", n_shingle: int = 1) -> DataFrame:
    """(id, band_idx, band_hash) — one row per doc per band. fan_out
    spreads the signature computation (the CPU-dominant step) across all
    cores when the scan under-partitions."""
    docs = fan_out(docs)
    sig = docs.select(
        F.col(id_col),
        minhash_signature(shingles(F.col("text"), n_shingle)).alias("sig"),
    )
    return sig.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band_idx"),
                    F.xxhash64(
                        F.array_join(
                            F.transform(
                                F.slice(F.col("sig"), b * ROWS_PER_BAND + 1, ROWS_PER_BAND),
                                lambda v: v.cast("string"),
                            ),
                            ",",
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select(id_col, "band.band_idx", "band.band_hash")


MAX_BUCKET = 256  # LSH skew guard: buckets larger than this are degenerate


@_register("dedup_minhash_lsh", None)  # not SQL-expressible → rows-only check
def dedup_minhash_lsh(
    spark: SparkSession,
    sf_dir: str,
    max_bucket: int = MAX_BUCKET,
    max_rounds: int = 8,
) -> DataFrame:
    """MinHash+LSH near-dup as CLUSTER assignment (the production shape for
    LLM-corpus dedup, cf. SlimPajama/Gopher pipelines): LSH band buckets →
    connected components via min-label propagation → (doc_id, rep_id).
    Keep rep_id == doc_id rows, drop the rest, and you've deduped.

    Why not all-pairs verify: on near-templated corpora the ≥0.6 pair set is
    itself O(n²) (57% of ALL pairs at sf0.01) — any pair-enumerating plan is
    quadratic in output alone. Cluster assignment is O(n·bands) edges: each
    bucket contributes one (doc → bucket-min) star edge, never m² pairs, so
    the shuffle volume at 100 TB is bands×n fixed-width rows.

    Scale hardening:
    - Skew guard: buckets larger than ``max_bucket`` are dropped from
      propagation (a hash bucket that big is a degenerate/templated
      shingle set, not a dedup cluster; at 100 TB one hot bucket would
      otherwise serialize a whole executor). Docs only seen in dropped
      buckets keep themselves as rep.
    - Convergence early-exit: labels only ever DECREASE under min-label
      propagation, so Σ rep_id is strictly decreasing until fixpoint —
      one cheap scalar agg per round detects convergence exactly, no
      join-diff needed. Rounds = bucket-graph cluster diameter (2-3
      typical); ``max_rounds`` bounds pathological chains.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bands = lsh_band_rows(docs, n_shingle=3)
    return _cluster_by_bands(bands, docs.select("doc_id"), max_bucket, max_rounds)


def _cluster_by_bands(
    bands: DataFrame,
    all_docs: DataFrame,
    max_bucket: int = MAX_BUCKET,
    max_rounds: int = 8,
    loop_partitions: int | None = None,
) -> DataFrame:
    """Shared clustering core: (doc_id, band_idx, band_hash) rows →
    (doc_id, rep_id) connected components over same-bucket
    co-membership, with the skew guard, min-label propagation,
    pointer-jumping, and Σ-convergence exit described in
    dedup_minhash_lsh. Used by both the production xxhash path and the
    oracle-certified md5 twin (dedup_minhash_md5_clusters).

    The loop's exchanges run at an INPUT-DERIVED shuffle width
    (session.input_width over ``bands``'s file sources, or the
    ``loop_partitions`` override for checkpoint-backed callers): the
    per-round frames are |docs|x|bands| fixed-width rows, so the
    session's batch shuffle width schedules near-empty tasks plus an
    AQE replan per round (measured at sf0.1: 3 exchanges x 2-3 rounds
    x 32 tasks; width 4 cuts the clustering construction ~20%, guide
    §2.2 "fewer, larger partitions"). min-label propagation is
    partition-count independent, so results are identical at any
    width. The width is set on a scoped session the loop's frames are
    bound to; the RETURNED frame joins from ``all_docs`` and so
    executes later, under the caller's session and conf. Rounds cut
    lineage with localCheckpoint: fast, but not fault-tolerant on a
    real cluster (executor loss kills the job), where a reliable
    checkpoint dir would take its place."""
    if loop_partitions is None:
        files = bands.inputFiles()
        if files:
            loop_partitions = input_width(*files)
    if loop_partitions is not None:
        bands = with_conf(
            bands, {"spark.sql.shuffle.partitions": str(loop_partitions)}
        )
    # skew guard + round-0 bucket minima in ONE window pass: the first
    # hyperedge round's bucket min is min(doc_id) over the bucket —
    # labels are the identity at round 0 — so it rides the exact
    # (band_idx, band_hash) partition the guard already shuffles into,
    # deleting round 0's bands⋈labels join, its second window shuffle,
    # and the labels-init distinct (3 exchanges; guide §2.4 "two
    # operations keyed the same way share one exchange")
    w_bucket = W.partitionBy("band_idx", "band_hash")
    bands = (
        bands.withColumn("_bsz", F.count(F.lit(1)).over(w_bucket))
        .withColumn("_bm0", F.min("doc_id").over(w_bucket))
        .filter(F.col("_bsz") <= max_bucket)
        .drop("_bsz")
    )
    # materialize once: the minhash computation must not rerun per round
    bands = bands.localCheckpoint(eager=False)
    loop_bands = bands.drop("_bm0")

    # round 0 (identity labels) from the precomputed bucket minima
    stepped = bands.groupBy("doc_id").agg(F.min("_bm0").alias("rep_id"))
    reps0 = stepped.select(
        F.col("doc_id").alias("rep_id"), F.col("rep_id").alias("_rr")
    )
    labels = stepped.join(reps0, "rep_id", "left").select(
        "doc_id", F.coalesce("_rr", F.col("rep_id")).alias("rep_id")
    ).localCheckpoint(eager=False)
    prev_sum = labels.agg(F.sum("rep_id")).collect()[0][0]
    for _ in range(1, max_rounds):
        # hyperedge step: every bucket's min label spreads to its members
        stepped = (
            loop_bands.join(labels, "doc_id")
            .withColumn("bm", F.min("rep_id").over(w_bucket))
            .groupBy("doc_id")
            .agg(F.min("bm").alias("rep_id"))
        )
        # pointer-jump (path halving): rep ← rep(rep). The hyperedge step
        # alone moves labels ONE hop per round, so a chain of templated
        # near-dups of diameter d needs d rounds (measured: >8 at sf0.1 —
        # the sum-convergence exit never fired). Composing with the jump
        # squares the propagation distance per round → O(log d) rounds.
        reps = stepped.select(
            F.col("doc_id").alias("rep_id"), F.col("rep_id").alias("_rr")
        )
        labels = stepped.join(reps, "rep_id", "left").select(
            "doc_id", F.coalesce("_rr", F.col("rep_id")).alias("rep_id")
        ).localCheckpoint(eager=False)
        # labels only ever decrease → Σ rep_id strictly decreases until
        # fixpoint; one scalar agg per round detects convergence exactly
        cur_sum = labels.agg(F.sum("rep_id")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    # docs whose every bucket was skew-dropped (or with no shingles) are
    # their own singleton cluster
    return all_docs.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("rep_id", "doc_id").alias("rep_id")
    )


# ---------------------------------------------------------------------------
# SimHash (bit-vote fingerprint; hamming-distance near-dup)
# ---------------------------------------------------------------------------

SIMHASH_BANDS = 4  # 4 × 16-bit bands: hamming ≤ 3 pairs share ≥1 band for sure


SIMHASH_MAX_TOKENS = 256  # fingerprint the doc head: bounds per-row cost


def simhash64(col_name: str, max_tokens: int = SIMHASH_MAX_TOKENS):
    """64-bit SimHash over the named string column: per-token xxhash64,
    each bit votes ±1, sign of the vote total sets the output bit. One
    pass via SQL higher-order functions — JVM-side, no UDF. The vote
    accumulator zip_withs directly against the constant bit-index
    sequence (no per-token bit-array materialization), and the signature
    covers the first ``max_tokens`` tokens — the standard head-fingerprint
    bound that caps per-document cost regardless of length. Near-identical
    token multisets differ in few votes → small hamming distance."""
    expr = """
    aggregate(
      zip_with(
        aggregate(
          transform(slice(filter(split({c}, ' '), t -> t != ''), 1, {mt}),
                    t -> xxhash64(t)),
          array_repeat(0L, 64),
          (acc, h) -> zip_with(acc, sequence(0, 63),
                               (a, i) -> a + CASE WHEN (h >> i) & 1 = 1
                                              THEN 1L ELSE -1L END)
        ),
        sequence(0, 63),
        (v, i) -> CASE WHEN v > 0 THEN shiftleft(1L, i) ELSE 0L END
      ),
      0L, (a, b) -> a | b
    )
    """
    return F.expr(expr.format(c=col_name, mt=max_tokens))


@_register("dedup_simhash", None)  # xxhash64 has no DuckDB twin → rows-only
def dedup_simhash(
    spark: SparkSession, sf_dir: str, max_hamming: int = SIMHASH_BANDS - 1
) -> DataFrame:
    """SimHash near-dup pairs: 64-bit fingerprints, candidates via 4×16-bit
    band buckets, verified by exact popcount of the XOR. The candidate
    join keys on a 16-bit band value — bounded buckets, never all-pairs.

    Pigeonhole guarantee: with B bands, hamming ≤ B-1 implies at least
    one band is identical, so the default radius is SIMHASH_BANDS-1 = 3
    — the returned set is then EXACTLY 'all pairs with hamming ≤ 3'. A
    wider radius than bands-1 would silently miss pairs whose differing
    bits spread across every band (the round-2 default of 6 did), so it
    is rejected rather than under-delivered. Property-tested: identical
    texts ⇒ identical simhash (tests/test_operators.py)."""
    if max_hamming > SIMHASH_BANDS - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole guarantee of "
            f"{SIMHASH_BANDS} bands (≤ {SIMHASH_BANDS - 1}); raise SIMHASH_BANDS "
            "to widen the radius instead of silently losing recall"
        )
    # localCheckpoint: the signature frame feeds BOTH legs of the band
    # self-join, and without a materialization barrier each leg re-plans
    # the scan + simhash aggregate — worse, the join's inferred
    # IsNotNull(band_val) pushes below the projection and evaluates the
    # full 64-lane vote aggregate a second time inside the Filter, so
    # the executed plan computed the signature 4x per run (r16 profile).
    # The checkpointed frame is |docs| x 16 bytes — planning-scale.
    docs = (
        fan_out(load_table(spark, sf_dir, "documents"))
        .select("doc_id", simhash64("text").alias("sig"))
        .localCheckpoint(eager=False)
    )
    bands = docs.select(
        "doc_id",
        "sig",
        F.explode(
            F.expr(
                f"transform(sequence(0, {SIMHASH_BANDS - 1}), "
                f"b -> named_struct('band_idx', b, 'band_val', (sig >> (b * 16)) & 65535))"
            )
        ).alias("band"),
    ).select("doc_id", "sig", "band.band_idx", "band.band_val")
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"), "band_idx", "band_val"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"), "band_idx", "band_val"
    )
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.expr("bit_count(sig_a ^ sig_b)").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


_SIMHASH32_ORACLE = """
    SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 32), i ->
               CASE WHEN 2 * len(list_filter(th, h -> (h >> i) & 1 = 1)) > len(th)
                    THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT)
               AS simhash32
    FROM (
        SELECT doc_id,
               list_transform(list_filter(string_split(text, ' '), t -> t <> ''),
                              t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)) AS th
        FROM documents
    )
"""


@_register("dedup_simhash_md5", _SIMHASH32_ORACLE)
def dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked SimHash: 32-bit signature over md5-derived token
    hashes — bit-for-bit reproducible in DuckDB (md5 exists in both
    engines; xxhash64, used by the fast dedup_simhash path, does not),
    so the value-hash gate certifies the bit-vote construction itself.
    Tie votes (exactly half the tokens set a bit) resolve to 0 in both
    formulations (strict majority sets the bit)."""
    expr = """
    aggregate(
      zip_with(
        aggregate(
          transform(filter(split(text, ' '), t -> t != ''),
                    t -> cast(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT)),
          array_repeat(0L, 32),
          (acc, h) -> zip_with(acc, sequence(0, 31),
                               (a, i) -> a + CASE WHEN (h >> i) & 1 = 1
                                              THEN 1L ELSE -1L END)
        ),
        sequence(0, 31),
        (v, i) -> CASE WHEN v > 0 THEN shiftleft(1L, i) ELSE 0L END
      ),
      0L, (a, b) -> a | b
    )
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", F.expr(expr).alias("simhash32"))


# md5-twin banding: 8 minhashes × 4 bands × 2 rows — small k so the
# DuckDB oracle stays tractable; the production path (N_MINHASH=32)
# uses the same construction with xxhash64 affine families.
_MD5_K = 8
_MD5_BANDS = 4
_MD5_ROWS = _MD5_K // _MD5_BANDS

# Shared WITH-clause bodies — the oracle twins of md5_band_rows below.
# MD5_SIG_CTES yields sig(doc_id, sig LIST<BIGINT>[k]); md5_band_ctes(r)
# appends a bands(doc_id, band_idx, band_val) CTE with r rows per band.
# Reused by the candidate-pair oracle here and the fuzzy-decontamination
# oracle in operators/pipeline.py.
def md5_sig_ctes(src: str = "documents") -> str:
    """The toks/sh/sig CTE chain over an arbitrary source CTE/table —
    parameterized so compositions (pipeline_training_funnel) can run
    the signature build over a survivor set instead of raw documents."""
    return f"""
    toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS tk
        FROM {src}
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(0, greatest(len(tk) - 3, 0) + 1),
                   i -> array_to_string(list_slice(tk, i + 1, i + 3), ' ')
               )) AS shs
        FROM toks
    ),
    sig AS (
        SELECT doc_id,
               list_transform(range(0, {_MD5_K}), i ->
                   list_min(list_transform(shs, s ->
                       CAST('0x' || substr(md5(s || '#' || CAST(i AS VARCHAR)), 1, 15)
                            AS BIGINT)))) AS sig
        FROM sh
    )
"""


MD5_SIG_CTES = md5_sig_ctes()


def md5_band_ctes(rows_per_band: int = _MD5_ROWS) -> str:
    n_bands = _MD5_K // rows_per_band
    slices = " || ',' || ".join(
        f"CAST(sig[{rows_per_band} * b + {i + 1}] AS VARCHAR)"
        for i in range(rows_per_band)
    )
    return f"""{MD5_SIG_CTES},
    bands AS (
        SELECT doc_id, b AS band_idx, {slices} AS band_val
        FROM sig, range(0, {n_bands}) AS t(b)
    )
"""


_MINHASH_MD5_ORACLE = f"""
    WITH {md5_band_ctes()}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b USING (band_idx, band_val)
    WHERE a.doc_id < b.doc_id
"""


def md5_band_rows(docs: DataFrame, rows_per_band: int = _MD5_ROWS) -> DataFrame:
    """(doc_id, band_idx, band_val) md5-minhash LSH band rows over a
    documents frame — the DuckDB-reproducible twin of lsh_band_rows
    (word-3-gram shingles, 8 md5 hashes, k/rows_per_band bands).
    rows_per_band tunes precision: 2 (default) for candidate pairs,
    1 for the high-recall single-hash collision probe fuzzy
    decontamination uses. Single-pass: the shingle array appears once;
    each shingle fans out to its k hashes inside one transform, then an
    elementwise-min fold (re-referencing the shingle expression k times
    would re-inline its construction per hash — the round-1 32x CPU
    blowup)."""
    n_bands = _MD5_K // rows_per_band
    sh = shingles(F.col("text"), 3)
    per_shingle = F.transform(
        sh,
        lambda s: F.transform(
            F.sequence(F.lit(0), F.lit(_MD5_K - 1)),
            lambda i: F.conv(
                F.substring(F.md5(F.concat(s, F.lit("#"), i.cast("string"))), 1, 15),
                16,
                10,
            ).cast("long"),
        ),
    )
    sig = F.aggregate(
        per_shingle,
        F.array_repeat(F.lit(None).cast("long"), _MD5_K),
        lambda acc, h: F.zip_with(acc, h, lambda m, v: F.least(m, v)),
    )
    return (
        fan_out(docs)
        .select("doc_id", sig.alias("sig"))
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_bands - 1)),
                    lambda b: F.struct(
                        b.alias("band_idx"),
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(
                                    F.col("sig"), b * rows_per_band + 1, rows_per_band
                                ),
                                lambda v: v.cast("string"),
                            ),
                        ).alias("band_val"),
                    ),
                )
            ).alias("band"),
        )
        .select("doc_id", "band.band_idx", "band.band_val")
    )


@_register("dedup_minhash_md5_pairs", _MINHASH_MD5_ORACLE)
def dedup_minhash_md5_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked MinHash+LSH candidate generation: word-3-gram
    shingles → 8 md5-derived minhashes → 4 bands × 2 rows → bucket-join
    → distinct candidate pairs. md5 exists bit-identically in DuckDB, so
    the value-hash gate certifies the shingle construction, the
    elementwise-min signature fold, the banding slice, AND the
    same-bucket self-join — the full candidate pipeline the rows-only
    dedup_minhash_lsh clustering builds on (that path swaps in xxhash64
    affine families and connected components, neither SQL-expressible).
    Plan shape is identical to the production path: the join keys on
    (band_idx, band_val) — bounded buckets, never all-pairs."""
    bands = md5_band_rows(load_table(spark, sf_dir, "documents"))
    a = bands.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_val")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_val")
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


_MINHASH_MD5_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE {md5_band_ctes()},
    sized AS (
        SELECT doc_id, band_idx, band_val,
               COUNT(*) OVER (PARTITION BY band_idx, band_val) AS bsz
        FROM bands
    ),
    kept AS (
        SELECT doc_id, band_idx, band_val FROM sized WHERE bsz <= {MAX_BUCKET}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM kept a JOIN kept b USING (band_idx, band_val)
        WHERE a.doc_id <> b.doc_id
    ),
    reach(doc_id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT p.id_a, r.r FROM pairs p JOIN reach r ON r.doc_id = p.id_b
    )
    SELECT doc_id, MIN(r) AS rep_id FROM reach GROUP BY doc_id
"""


@_register("dedup_minhash_md5_clusters", _MINHASH_MD5_CLUSTERS_ORACLE)
def dedup_minhash_md5_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL MinHash dedup pipeline under the hash gate — including
    the clustering step the candidate-pair twin stops short of:
    md5-minhash band rows → skew guard → min-label propagation with
    pointer jumping (_cluster_by_bands, the SAME code the production
    xxhash path runs) → (doc_id, rep_id) cluster assignment. The oracle
    re-derives the identical components with a recursive CTE (min
    reachable doc over the same-bucket co-membership graph, transitive
    closure) — iterative Spark clustering certified against recursive
    SQL. With this twin, every stage of the production rows-only path
    (dedup_minhash_lsh) has an oracle-checked counterpart: shingles,
    signature fold, banding, bucket join (dedup_minhash_md5_pairs), and
    now the connected-components contraction itself."""
    docs = load_table(spark, sf_dir, "documents")
    bands = md5_band_rows(docs).withColumnRenamed("band_val", "band_hash")
    return _cluster_by_bands(bands, docs.select("doc_id"))


_INCREMENTAL_ORACLE = """
    WITH seen AS (
        SELECT DISTINCT md5(text) AS digest FROM documents WHERE doc_id % 2 = 0
    ),
    batch AS (
        SELECT doc_id, md5(text) AS digest FROM documents WHERE doc_id % 2 = 1
    )
    SELECT digest, MIN(doc_id) AS doc_id
    FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.digest = b.digest)
    GROUP BY digest
"""


@_register("dedup_incremental_new_docs", _INCREMENTAL_ORACLE)
def dedup_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-run) dedup: admit only batch documents whose
    content digest has never been seen in the accumulated corpus, then
    collapse within-batch duplicates to the smallest doc_id. This is the
    crawl-ingestion shape: each new dump is anti-joined against the
    running digest ledger rather than re-deduping the whole corpus.
    Even/odd doc_id splits stand in for ledger/batch so the query is
    sf-independent.

    Scale: both sides reduce to 16-byte md5 digests BEFORE any shuffle
    (text never moves), the batch pre-aggregates to one row per digest
    (map-side partial MIN), and the anti join is a digest-keyed hash
    join — broadcastable while the ledger is small, shuffle-on-digest
    (uniform key, no skew possible) once it isn't. At 100 TB the ledger
    is a bucketed table on digest and the join is co-located."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("digest")
    )
    seen = docs.filter(F.col("doc_id") % 2 == 0).select("digest").distinct()
    batch = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .groupBy("digest")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return batch.join(seen, "digest", "left_anti")


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

_EMB_NEAR_ORACLE = """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id < 400
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           FLOOR(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                 * 10000.0 + 0.5) / 10000.0 AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) /
          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
"""


@_register("dedup_embedding_cosine", _EMB_NEAR_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, exact baseline over a bounded window
    (vec_id < 400 — same role as dedup_ngram_jaccard's bound: the ground
    truth a bucketed path approximates). All pairs above the similarity
    threshold. The unbounded scale path is dedup_embedding_lsh below."""
    from user_feed_cdc_spark.operators.similarity import dot, norm

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 400)
        .select("vec_id", "embedding", norm(F.col("embedding")).alias("nrm"))
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    # norms precomputed per vector (n, not n² evaluations); cosine is
    # evaluated ONCE per pair (filter on the projected column, not a
    # second evaluation of the expression)
    cos = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("_cos"))
        .filter(F.col("_cos") >= 0.4)
        .select("vec_a", "vec_b", r2(F.col("_cos"), 4).alias("cos_sim"))
    )


@_register("dedup_embedding_lsh", None)  # bucketed composition → rows-only
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup at scale: hyperplane-LSH bucket as the join key
    (reusing similarity.lsh_bucket), exact cosine only within buckets —
    candidate volume is Σ bucket², never n². Emits same-bucket pairs
    above the threshold; union more hyperplane seeds for recall at 100 TB."""
    from user_feed_cdc_spark.operators.similarity import dot, lsh_bucket, norm

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        lsh_bucket(F.col("embedding")).alias("bucket"),
        norm(F.col("embedding")).alias("nrm"),
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"), "bucket",
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"), "bucket",
    )
    cos = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("_cos"))
        .filter(F.col("_cos") >= 0.4)
        .select("vec_a", "vec_b", r2(F.col("_cos"), 4).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# Exact-substring (windowed rolling-hash) dedup
# ---------------------------------------------------------------------------

_SUBSTR_WIN = 8  # tokens per window; the "shared verbatim span" threshold

_SUBSTRING_ORACLE = """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
        FROM documents
    ),
    wins AS (
        SELECT DISTINCT doc_id,
               md5(array_to_string(tk[i:i+7], ' ')) AS wh
        FROM toks, UNNEST(generate_series(1, len(tk) - 7)) AS g(i)
    ),
    firsts AS (SELECT wh, MIN(doc_id) AS first_doc FROM wins GROUP BY wh),
    per_doc AS (
        SELECT w.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_windows,
               CAST(SUM(CASE WHEN f.first_doc < w.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_shared
        FROM wins w JOIN firsts f USING (wh)
        GROUP BY w.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_windows, 0) AS BIGINT) AS n_windows,
           CAST(COALESCE(p.n_shared, 0) AS BIGINT) AS n_shared,
           COALESCE(p.n_shared, 0) > 0 AS is_dup
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


@_register("dedup_substring_windows", _SUBSTRING_ORACLE)
def dedup_substring_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup, windowed: a doc is a duplicate if any
    8-token contiguous window of it appears verbatim in a lower-id doc —
    the rolling-hash form of suffix-array ExactSubstr dedup (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"),
    the span-level family MinHash/SimHash (whole-doc similarity) and
    n-gram Jaccard (bag-of-shingles) don't cover: one copied paragraph
    inside an otherwise-novel doc trips this and nothing else.

    Every window is md5-hashed (oracle-exact, like the minhash md5
    twins); per-window first-owner is min(doc_id) computed as a window
    MIN over the hash partition — the same shuffle then feeds the
    per-doc rollup, no second join. Emits per-doc window/shared counts
    plus the is_dup verdict, one row per document including window-less
    short docs.

    At 100 TB: only (doc_id, 16-byte window hash) pairs shuffle — text
    never leaves the scan stage; distinct-before-count collapses
    within-doc repeats; cardinality is ~tokens-per-doc rows per doc,
    the same explode volume the certified decontamination gram join
    already carries. Production ExactSubstr removes the span, not the
    doc — the verdict column is the doc-level summary both need."""
    k = _SUBSTR_WIN
    # fan_out: the per-window md5 derivation is the CPU-dominant stage
    # and evaluates per element interpreted — a single small scan file
    # otherwise pins it to one task (no-op at real scale; guide §2.5)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    n_win = F.size(toks) - (k - 1)
    wins = F.when(
        n_win >= 1,
        F.transform(
            F.sequence(F.lit(1), n_win),
            lambda i: F.md5(F.array_join(F.slice(toks, i, k), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # (doc_id, wh) duplicates can ONLY come from repeats within one doc,
    # so dedupe row-locally with array_distinct — this removes the whole
    # distributed DISTINCT exchange the naive form pays (one of four
    # shuffles gone; measured 3.1 s -> fewer exchanges at sf0.1)
    exploded = (
        docs.select("doc_id", F.explode(F.array_distinct(wins)).alias("wh"))
        .withColumn("first_doc", F.min("doc_id").over(W.partitionBy("wh")))
    )
    per_doc = exploded.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(
            F.when(F.col("first_doc") < F.col("doc_id"), 1).otherwise(0)
        ).alias("n_shared"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) > 0).alias("is_dup"),
        )
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup: embedding k-means + within-cluster cosine)
# ---------------------------------------------------------------------------

_SEMANTIC_THRESH = 0.4  # cosine-to-representative above this = semantic dup


def _semantic_oracle() -> str:
    """Unrolled-CTE twin: the SHARED certified Lloyd prefix
    (similarity.kmeans_oracle_parts) + min-id representative per
    cluster + cosine-to-representative verdicts."""
    from user_feed_cdc_spark.operators.similarity import (
        _ORACLE_COS,
        kmeans_oracle_parts,
    )

    parts, last = kmeans_oracle_parts()
    cos = _ORACLE_COS.format(a="e.v", b="rv.rv")
    return (
        ",\n".join(parts)
        + f""",
    reps AS (SELECT cid, MIN(vec_id) AS rep_id FROM assign{last} GROUP BY cid),
    repv AS (
        SELECT r.cid, r.rep_id, v.v AS rv
        FROM reps r JOIN v ON v.vec_id = r.rep_id
    )
    SELECT e.vec_id, CAST(a.cid AS BIGINT) AS cid, rv.rep_id,
           FLOOR(({cos}) * 10000.0 + 0.5) / 10000.0 AS cos_to_rep,
           (e.vec_id <> rv.rep_id
            AND FLOOR(({cos}) * 10000.0 + 0.5) / 10000.0 >= {_SEMANTIC_THRESH})
               AS is_dup
    FROM v e
    JOIN assign{last} a USING (vec_id)
    JOIN repv rv ON a.cid = rv.cid
    """
    )


@_register("dedup_semantic", _semantic_oracle())
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster embeddings
    with k-means, then WITHIN each cluster mark members too
    cosine-close to the cluster representative as semantic duplicates
    — paraphrases and near-copies that share no literal n-grams, the
    redundancy tier MinHash/SimHash (lexical) and exact-cosine pair
    dedup (O(cluster²) verify) sit below. The paper keeps one exemplar
    per tight semantic neighborhood; the min-vec_id representative here
    is that deterministic exemplar.

    Reuses the CERTIFIED deterministic Lloyd quantizer from the IVF
    entry — same seeded init, same 1e-6-rounded assignment, and the
    oracle builds on the SAME shared CTE prefix
    (similarity.kmeans_oracle_parts), so the k-means trajectory is
    hash-certified once and consumed twice. Per-vector cost after the
    Lloyd loop: one projection (assignment), one K-row broadcast join
    (representative vectors), one cosine — candidate volume is n, not
    n²/K: the representative acts as each cluster's pivot, which is
    what lets SemDeDup scale where pairwise within-cluster cosine
    explodes at 100 TB."""
    from user_feed_cdc_spark.operators.similarity import (
        _assign_cid,
        _kmeans_centroids,
        dot,
        norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        norm(F.col("embedding").cast("array<double>")).alias("vnorm"),
    ).persist()  # scanned by every Lloyd iteration + the final pass
    prev, _final = _kmeans_centroids(spark, vecs)
    assigned = vecs.select(
        "vec_id", "v", _assign_cid(prev).cast("long").alias("cid")
    )
    reps = assigned.groupBy("cid").agg(F.min("vec_id").alias("rep_id"))
    repv = (
        reps.join(
            assigned.select(
                F.col("vec_id").alias("rep_id"), F.col("v").alias("rv")
            ),
            "rep_id",
        )
    )
    cos = r2(dot(F.col("v"), F.col("rv")) / (
        F.sqrt(dot(F.col("v"), F.col("v")))
        * F.sqrt(dot(F.col("rv"), F.col("rv")))
    ), 4)
    out = (
        assigned.join(F.broadcast(repv), "cid")
        .select(
            "vec_id",
            "cid",
            "rep_id",
            cos.alias("cos_to_rep"),
            (
                (F.col("vec_id") != F.col("rep_id"))
                & (cos >= _SEMANTIC_THRESH)
            ).alias("is_dup"),
        )
    )
    # NOTE: no vecs.unpersist() here — the returned frame is lazy, so an
    # eager release would evict the cache before the caller's final pass
    # ever reads it (round-7 ADVICE); the persist expires with the
    # session, which is the right lifetime for a registry entry.
    return out


# ---------------------------------------------------------------------------
# MinHash LSH quality measurement: banded candidates vs exact shingle Jaccard
# ---------------------------------------------------------------------------

_QUALITY_BOUND = 200      # same bounded ground-truth window as dedup_ngram_jaccard
_QUALITY_TAU_PPM = 500000  # near-dup threshold: shingle Jaccard >= 0.5


def _quality_band_slices() -> str:
    return " || ',' || ".join(
        f"CAST(sig[{_MD5_ROWS} * b + {i + 1}] AS VARCHAR)" for i in range(_MD5_ROWS)
    )


_MINHASH_QUALITY_ORACLE = f"""
    WITH slice AS (
        SELECT doc_id, text FROM documents WHERE doc_id < {_QUALITY_BOUND}
    ),
    {md5_sig_ctes('slice')},
    bands AS (
        SELECT doc_id, b AS band_idx, {_quality_band_slices()} AS band_val
        FROM sig, range(0, {_MD5_K // _MD5_ROWS}) AS t(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b USING (band_idx, band_val)
        WHERE a.doc_id < b.doc_id
    ),
    truth AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_distinct(list_concat(a.shs, b.shs))) > 0
          AND CAST(len(list_intersect(a.shs, b.shs)) AS BIGINT) * 1000000
              >= {_QUALITY_TAU_PPM}
                 * CAST(len(list_distinct(list_concat(a.shs, b.shs))) AS BIGINT)
    ),
    tp AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM cand c JOIN truth t
          ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    ),
    counts AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS truth_pairs,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS candidate_pairs,
               (SELECT n FROM tp) AS true_positives
    )
    SELECT truth_pairs, candidate_pairs, true_positives,
           CAST(CASE WHEN candidate_pairs > 0
                     THEN true_positives * 1000000 // candidate_pairs
                     ELSE 0 END AS BIGINT) AS precision_ppm,
           CAST(CASE WHEN truth_pairs > 0
                     THEN true_positives * 1000000 // truth_pairs
                     ELSE 0 END AS BIGINT) AS recall_ppm
    FROM counts
"""


@_register("dedup_minhash_quality", _MINHASH_QUALITY_ORACLE)
def dedup_minhash_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH quality MEASURED, not assumed — the text-side
    companion of similarity_lsh_recall: on the bounded ground-truth
    window (doc_id < 200, the same slice dedup_ngram_jaccard uses),
    count the exact shingle-Jaccard >= 0.5 pairs, the banded-minhash
    candidate pairs (the SAME md5_band_rows construction
    dedup_minhash_md5_pairs certifies), their intersection, and the
    resulting precision/recall in exact ppm. The threshold comparison
    is pure integers (|∩|·1e6 >= τ·|∪| — no float Jaccard on the
    boundary), so every count hashes identically across engines. This
    is the harness that justifies the (bands, rows) S-curve before the
    clustering path collapses a 100 TB corpus with it: 4 bands × 2
    rows puts the candidate knee near j≈0.5 (P = 1-(1-j²)⁴), and the
    measured recall/precision tell you where your corpus actually
    sits on that curve. Scale shape: the truth arm is the bounded
    certification fixture (whitelisted nested loop, like
    dedup_ngram_jaccard); the candidate arm joins on (band_idx,
    band_val) — the production plan; at 100 TB the measurement runs on
    a sampled slice exactly like this one while the candidate join
    runs corpus-wide."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _QUALITY_BOUND
    )
    bands = md5_band_rows(docs)
    a = bands.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_val")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_val")
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )

    sh = docs.select("doc_id", shingles(F.col("text"), 3).alias("shs"))
    ta = sh.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("sh_a"))
    tb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    union = F.size(F.array_distinct(F.concat("sh_a", "sh_b"))).cast("long")
    truth = (
        ta.join(tb, F.col("doc_a") < F.col("doc_b"))
        .filter(
            (union > 0) & (inter * 1000000 >= F.lit(_QUALITY_TAU_PPM) * union)
        )
        .select("doc_a", "doc_b")
    )

    tp = truth.join(cand, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("true_positives")
    )
    counts = (
        truth.agg(F.count(F.lit(1)).alias("truth_pairs"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("candidate_pairs")))
        .crossJoin(tp)
    )
    ppm = lambda num, den: F.when(  # noqa: E731
        F.col(den) > 0,
        F.expr(f"CAST({num} * 1000000 DIV {den} AS BIGINT)"),
    ).otherwise(F.lit(0)).cast("long")
    return counts.select(
        "truth_pairs",
        "candidate_pairs",
        "true_positives",
        ppm("true_positives", "candidate_pairs").alias("precision_ppm"),
        ppm("true_positives", "truth_pairs").alias("recall_ppm"),
    )


# ---------------------------------------------------------------------------
# SimHash banding quality: hamming-band candidates vs exact hamming radius
# ---------------------------------------------------------------------------

_SH_QUALITY_BOUND = 300
_SH_BANDS = 4       # 32-bit fingerprint split into 4 × 8-bit bands
_SH_RADIUS = 4      # truth = hamming <= 4 (one past the pigeonhole guarantee)

_SIMHASH32_EXPR_SQL = """CAST(list_sum(list_transform(range(0, 32), i ->
    CASE WHEN 2 * len(list_filter(th, h -> (h >> i) & 1 = 1)) > len(th)
         THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT)"""

_SIMHASH_QUALITY_ORACLE = f"""
    WITH sl AS (
        SELECT doc_id,
               list_transform(list_filter(string_split(text, ' '), t -> t <> ''),
                              t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)) AS th
        FROM documents WHERE doc_id < {_SH_QUALITY_BOUND}
    ),
    s AS (
        SELECT doc_id, {_SIMHASH32_EXPR_SQL} AS sh FROM sl
    ),
    bands AS (
        SELECT doc_id, b AS band_idx, (sh >> (8 * b)) & 255 AS band_val
        FROM s, range(0, {_SH_BANDS}) AS t(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b USING (band_idx, band_val)
        WHERE a.doc_id < b.doc_id
    ),
    truth AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sh, b.sh)) <= {_SH_RADIUS}
    ),
    tp AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM cand c JOIN truth t
          ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    ),
    counts AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS truth_pairs,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS candidate_pairs,
               (SELECT n FROM tp) AS true_positives
    )
    SELECT truth_pairs, candidate_pairs, true_positives,
           CAST(CASE WHEN candidate_pairs > 0
                     THEN true_positives * 1000000 // candidate_pairs
                     ELSE 0 END AS BIGINT) AS precision_ppm,
           CAST(CASE WHEN truth_pairs > 0
                     THEN true_positives * 1000000 // truth_pairs
                     ELSE 0 END AS BIGINT) AS recall_ppm
    FROM counts
"""

_SIMHASH32_EXPR_SPARK = """
    aggregate(
      zip_with(
        aggregate(
          transform(filter(split(text, ' '), t -> t != ''),
                    t -> cast(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT)),
          array_repeat(0L, 32),
          (acc, h) -> zip_with(acc, sequence(0, 31),
                               (a, i) -> a + CASE WHEN (h >> i) & 1 = 1
                                              THEN 1L ELSE -1L END)
        ),
        sequence(0, 31),
        (v, i) -> CASE WHEN v > 0 THEN shiftleft(1L, i) ELSE 0L END
      ),
      0L, (a, b) -> a | b
    )
"""


def simhash_band_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_val) rows: the 32-bit md5 simhash split
    into _SH_BANDS byte bands — the hamming-radius analogue of
    md5_band_rows (pigeonhole: <= _SH_BANDS-1 differing bits leave at
    least one band identical, so band-join recall at that radius is
    EXACTLY 1 — pinned by pytest)."""
    return (
        fan_out(docs)
        .select("doc_id", F.expr(_SIMHASH32_EXPR_SPARK).alias("sh"))
        .select(
            "doc_id",
            F.expr(
                f"explode(transform(sequence(0, {_SH_BANDS - 1}),"
                " b -> struct(b AS band_idx,"
                " shiftright(sh, 8 * b) & 255 AS band_val)))"
            ).alias("band"),
        )
        .select("doc_id", "band.band_idx", "band.band_val")
    )


@_register("dedup_simhash_quality", _SIMHASH_QUALITY_ORACLE)
def dedup_simhash_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-band quality MEASURED — third leg of the
    quality-harness trio (similarity_lsh_recall for embeddings,
    dedup_minhash_quality for Jaccard banding): on the bounded window
    (doc_id < 300), exact hamming <= 4 pairs over the certified 32-bit
    md5 simhash vs the byte-band candidate pairs, intersection, and
    precision/recall in exact ppm. Radius 4 is ONE PAST the pigeonhole
    guarantee (<= 3 differing bits over 4 byte-bands leave some band
    identical ⇒ recall 1, pinned as a theorem by pytest) — so the
    measured recall here quantifies exactly the guarantee's edge, and
    precision the band collision waste. Hamming distance is
    bit_count(xor) — pure integer, identical in both engines. Scale
    shape: the candidate arm joins on (band_idx, band_val), the
    production plan at any size; the truth arm is the bounded fixture
    (whitelisted); tuning (bands, radius) at 100 TB reruns this on a
    sampled slice."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _SH_QUALITY_BOUND
    )
    bands = simhash_band_rows(docs)
    a = bands.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_val")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_val")
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )

    s = fan_out(docs).select("doc_id", F.expr(_SIMHASH32_EXPR_SPARK).alias("sh"))
    sa = s.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = s.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    truth = (
        sa.join(sb, F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))) <= _SH_RADIUS
        )
        .select("doc_a", "doc_b")
    )

    tp = truth.join(cand, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("true_positives")
    )
    counts = (
        truth.agg(F.count(F.lit(1)).alias("truth_pairs"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("candidate_pairs")))
        .crossJoin(tp)
    )
    ppm = lambda num, den: F.when(  # noqa: E731
        F.col(den) > 0,
        F.expr(f"CAST({num} * 1000000 DIV {den} AS BIGINT)"),
    ).otherwise(F.lit(0)).cast("long")
    return counts.select(
        "truth_pairs",
        "candidate_pairs",
        "true_positives",
        ppm("true_positives", "candidate_pairs").alias("precision_ppm"),
        ppm("true_positives", "truth_pairs").alias("recall_ppm"),
    )


# ---------------------------------------------------------------------------
# Asymmetric containment: subset-duplication the symmetric Jaccard misses
# ---------------------------------------------------------------------------

_CONT_BOUND = 250
_CONT_NUM = 4   # containment threshold 4/5 = 0.8, compared exactly
_CONT_DEN = 5


@_register(
    "dedup_containment_pairs",
    f"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, GREATEST(len(toks) - 2, 1) + 1),
                   i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
                   AS ss
        FROM (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM documents WHERE doc_id < {_CONT_BOUND}
        )
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.ss, b.ss)) AS BIGINT) AS inter,
           CAST(len(a.ss) AS BIGINT) AS n_a,
           CAST(len(b.ss) AS BIGINT) AS n_b,
           CASE WHEN len(list_intersect(a.ss, b.ss)) * {_CONT_DEN}
                     >= {_CONT_NUM} * len(a.ss) THEN 1 ELSE 0 END
               AS a_in_b,
           CASE WHEN len(list_intersect(a.ss, b.ss)) * {_CONT_DEN}
                     >= {_CONT_NUM} * len(b.ss) THEN 1 ELSE 0 END
               AS b_in_a
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.ss, b.ss)) * {_CONT_DEN}
          >= {_CONT_NUM} * LEAST(len(a.ss), len(b.ss))
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC shingle CONTAINMENT C(A→B) = |A∩B| / |A| over the
    bounded window — the subset-duplication detector the symmetric
    Jaccard entry structurally misses: a short doc quoted whole inside
    a long one has high containment but LOW Jaccard (the union is
    dominated by the long side), and real pipelines (CCNet,
    RefinedWeb, Broder's original resemblance-vs-containment split)
    test BOTH. 3-token shingle sets, threshold 0.8 compared as exact
    integer cross-multiplication (inter*5 >= 4*|A|), both directions
    emitted per surviving pair so the asymmetry is visible in the
    output. Bounded O(n²) by contract like dedup_ngram_jaccard (the
    ground-truth arm); the scale path reuses the SAME MinHash banding
    machinery — E[minhash match] estimates Jaccard, and containment
    derives from it via |A∩B| = j/(1+j)·(|A|+|B|) with exact set
    sizes, so no new corpus-scale operator is needed, just this exact
    twin to certify against. Ref parity: SURVEY §2.3 E2 (near-dup
    family)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _CONT_BOUND)
        .select("doc_id", shingles(F.col("text"), 3).alias("ss"))
    )
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("ss_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("ss_b"))
    inter = F.size(F.array_intersect("ss_a", "ss_b"))
    na, nb = F.size("ss_a"), F.size("ss_b")
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .filter(inter * _CONT_DEN >= _CONT_NUM * F.least(na, nb))
        .select(
            "doc_a", "doc_b",
            inter.cast("long").alias("inter"),
            na.cast("long").alias("n_a"),
            nb.cast("long").alias("n_b"),
            F.when(inter * _CONT_DEN >= _CONT_NUM * na, 1).otherwise(0).alias(
                "a_in_b"
            ),
            F.when(inter * _CONT_DEN >= _CONT_NUM * nb, 1).otherwise(0).alias(
                "b_in_a"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Dataset-level dedup: mergeable per-source MinHash signatures
# ---------------------------------------------------------------------------

_SRC_SIG_HASHES = 16


@_register(
    "dedup_source_signatures",
    f"""
    WITH tok AS (
        SELECT DISTINCT source, t AS token
        FROM documents,
             UNNEST(list_filter(string_split(text, ' '), x -> x <> ''))
                 AS u(t)
    ),
    sig AS (
        SELECT source, h,
               MIN(CAST('0x' || substr(md5(CAST(h AS VARCHAR) || ':'
                                            || token), 1, 8) AS BIGINT))
                   AS mh
        FROM tok, range(0, {_SRC_SIG_HASHES}) AS r(h)
        GROUP BY source, h
    ),
    psig AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT)
                   AS sig_matches
        FROM sig a JOIN sig b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2
    ),
    ex AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS inter
        FROM tok a JOIN tok b
          ON a.token = b.token AND a.source < b.source
        GROUP BY 1, 2
    ),
    sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1)
    SELECT p.src_a, p.src_b, p.sig_matches,
           CAST(p.sig_matches * 1000000 // {_SRC_SIG_HASHES} AS BIGINT)
               AS est_jaccard_ppm,
           CAST(COALESCE(e.inter, 0) AS BIGINT) AS inter,
           CAST(na.n + nb.n - COALESCE(e.inter, 0) AS BIGINT) AS un,
           CAST(COALESCE(e.inter, 0) * 1000000
                // (na.n + nb.n - COALESCE(e.inter, 0)) AS BIGINT)
               AS exact_jaccard_ppm
    FROM psig p
    LEFT JOIN ex e ON e.src_a = p.src_a AND e.src_b = p.src_b
    JOIN sz na ON na.source = p.src_a
    JOIN sz nb ON nb.source = p.src_b
    """,
)
def dedup_source_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET-level dedup — duplicated DUMPS, not duplicated docs: each
    source's whole token set collapses to a {_SRC_SIG_HASHES}-hash
    MinHash signature, and every source pair is scored by signature
    agreement (E[matches/k] = Jaccard) beside the EXACT token-set
    Jaccard, both in integer ppm under one hash gate. This is the
    curation step that catches a re-crawled or re-labeled copy of an
    entire dump before doc-level dedup ever runs — CommonCrawl snapshot
    overlap, dataset-collection double-inclusion — and the signature is
    the reason it scales: MIN is associative/commutative, so per-shard
    signatures MERGE like the HLL/bitmap family (min of mins), the
    full corpus never co-locates, and comparing S sources costs
    S·k integers, not S token sets. The exact arm here is the bounded
    certification twin (|sources|² pairs over this fixture); at 10^4
    sources the estimate IS the product and the exact arm runs on
    flagged pairs only. All hashing is md5-derived 32-bit integers —
    bit-identical cross-engine, like every certified MinHash twin in
    this family (SURVEY §2.3 E2). Fixture note: this generator draws
    every source from ONE shared vocabulary, so all 190 pairs score as
    near-duplicate dumps (exact Jaccard 0.97-1.0) — a legitimately
    pathological all-duplicates corpus that saturates the harness;
    DISCRIMINATION (dup pair → 16/16 matches, disjoint pair → ~0) is
    pinned by pytest on constructed disjoint/identical sources."""
    tok = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(
                F.filter(F.split("text", " "), lambda t: t != "")
            ).alias("token"),
        )
        .distinct()
    )
    sig = (
        tok.select(
            "source", "token",
            F.explode(
                F.sequence(F.lit(0), F.lit(_SRC_SIG_HASHES - 1))
            ).alias("h"),
        )
        .groupBy("source", "h")
        .agg(
            F.min(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("h").cast("string"),
                                F.lit(":"),
                                F.col("token"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
            ).alias("mh")
        )
    )
    a = sig.select(
        F.col("source").alias("src_a"), "h", F.col("mh").alias("mh_a")
    )
    b = sig.select(
        F.col("source").alias("src_b"), "h", F.col("mh").alias("mh_b")
    )
    psig = (
        a.join(b, "h")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(
                F.when(F.col("mh_a") == F.col("mh_b"), 1).otherwise(0)
            ).cast("long").alias("sig_matches")
        )
    )
    ta = tok.select(F.col("source").alias("src_a"), "token")
    tb = tok.select(F.col("source").alias("src_b"), "token")
    ex = (
        ta.join(tb, "token")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    sz = tok.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    na = sz.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    nb = sz.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    un = F.col("n_a") + F.col("n_b") - F.coalesce(F.col("inter"), F.lit(0))
    return (
        psig.join(ex, ["src_a", "src_b"], "left_outer")
        .join(na, "src_a")
        .join(nb, "src_b")
        .select(
            "src_a", "src_b", "sig_matches",
            F.expr(
                f"CAST(sig_matches * 1000000 DIV {_SRC_SIG_HASHES} AS BIGINT)"
            ).alias("est_jaccard_ppm"),
            F.coalesce(F.col("inter"), F.lit(0)).cast("long").alias("inter"),
            un.cast("long").alias("un"),
            (
                F.coalesce(F.col("inter"), F.lit(0)) * 1000000
            ).cast("long").alias("_num"),
        )
        .withColumn(
            "exact_jaccard_ppm",
            F.expr("CAST(_num DIV un AS BIGINT)"),
        )
        .drop("_num")
    )


_SUBSTR_REWRITE_ORACLE = """
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS w
        FROM documents
    ), dims AS (
        SELECT doc_id, w,
               CAST(floor(len(w) / 8) AS BIGINT) AS nfull,
               CAST(len(w) AS BIGINT) AS nw
        FROM base
    ), chunks AS (
        SELECT doc_id, CAST(u.i AS BIGINT) AS idx,
               array_to_string(
                   list_slice(w, 8 * u.i + 1, 8 * u.i + 8), ' ') AS chunk
        FROM dims, UNNEST(range(0, nfull)) AS u(i)
    ), keyed AS (
        SELECT doc_id, idx, chunk,
               doc_id * 1000000 + idx AS k,
               MIN(doc_id * 1000000 + idx)
                   OVER (PARTITION BY chunk) AS first_k
        FROM chunks
    ), rebuilt AS (
        SELECT doc_id,
               string_agg(chunk, ' ' ORDER BY idx) AS body,
               COUNT(*) AS n_kept
        FROM keyed WHERE k = first_k GROUP BY doc_id
    ), tails AS (
        SELECT doc_id, nfull,
               -- list_slice past the end yields NULL in DuckDB (not []):
               -- an exactly-tiled doc has an EMPTY tail, never a NULL one
               COALESCE(array_to_string(
                   list_slice(w, 8 * nfull + 1, nw), ' '), '') AS tailp
        FROM dims
    ), clean AS (
        SELECT t.doc_id, t.nfull,
               t.nfull - COALESCE(r.n_kept, 0) AS n_dropped,
               CASE
                 WHEN r.body IS NOT NULL AND t.tailp <> ''
                     THEN r.body || ' ' || t.tailp
                 WHEN r.body IS NOT NULL THEN r.body
                 ELSE t.tailp
               END AS clean_text
        FROM tails t LEFT JOIN rebuilt r USING (doc_id)
    )
    SELECT doc_id,
           CAST(nfull AS BIGINT) AS n_full_chunks,
           CAST(n_dropped AS BIGINT) AS n_dropped,
           CAST(length(clean_text) AS BIGINT) AS clean_len,
           md5(clean_text) AS clean_md5
    FROM clean
"""


@_register("dedup_substring_rewrite", _SUBSTR_REWRITE_ORACLE)
def dedup_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup as a REWRITE — the production half
    dedup_substring_windows' docstring defers ('ExactSubstr removes
    the span, not the doc', Lee et al. 2022): the corpus is re-tiled
    into non-overlapping 8-token chunks, every chunk's GLOBAL first
    occurrence (min (doc_id, position), within-doc repeats included)
    is kept, later verbatim copies are DROPPED, and each document is
    REBUILT from its surviving chunks plus its sub-chunk tail — the
    C4/RefinedWeb-style duplicate-passage scrub that preserves the
    novel remainder of a partially-copied document instead of deleting
    or keeping it whole. The certification is as strong as it gets:
    the md5 of every rebuilt document must match DuckDB rebuilding the
    same corpus, so one chunk kept/dropped/reordered anywhere moves a
    hash. Contract: rebuilt text is the space-normalized token
    sequence (both engines tokenize identically).

    At 100 TB: chunks shuffle as (md5, doc_id*1e6+idx) pairs — the
    16-byte-key posture of the whole dedup family, text itself riding
    only into the kept-chunk rollup (one hash exchange + one per-doc
    rollup, no self-join anywhere); tiling is 1/8th the explode volume
    of the sliding-window detector. First-occurrence-wins gives the
    deterministic output a training pipeline needs for reproducible
    corpus builds."""
    k = _SUBSTR_WIN
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    base = docs.select(
        "doc_id",
        toks.alias("w"),
        F.floor(F.size(toks) / k).cast("long").alias("nfull"),
        F.size(toks).cast("long").alias("nw"),
    )
    base = base.withColumn(
        "tailp",
        F.array_join(
            F.slice(
                F.col("w"),
                (F.col("nfull") * k + 1).cast("int"),
                (F.col("nw") - F.col("nfull") * k).cast("int"),
            ),
            " ",
        ),
    ).localCheckpoint(eager=False)
    chunks = base.filter(F.col("nfull") >= 1).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), (F.col("nfull") - 1).cast("int")),
                lambda i: F.array_join(
                    F.slice(F.col("w"), i * k + 1, k), " "
                ),
            )
        ).alias("idx", "chunk"),
    )
    keyed = chunks.withColumn(
        "k", F.col("doc_id") * 1000000 + F.col("idx")
    ).withColumn(
        "first_k",
        F.min("k").over(W.partitionBy(F.md5("chunk"))),
    )
    rebuilt = (
        keyed.filter(F.col("k") == F.col("first_k"))
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("idx", "chunk"))
                    ),
                    lambda s: s.chunk,
                ),
                " ",
            ).alias("body"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    out = base.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.col("nfull").alias("n_full_chunks"),
        (F.col("nfull") - F.coalesce("n_kept", F.lit(0))).alias("n_dropped"),
        F.when(
            F.col("body").isNotNull() & (F.col("tailp") != ""),
            F.concat_ws(" ", "body", "tailp"),
        )
        .when(F.col("body").isNotNull(), F.col("body"))
        .otherwise(F.col("tailp"))
        .alias("clean_text"),
    )
    return out.select(
        "doc_id",
        "n_full_chunks",
        "n_dropped",
        F.length("clean_text").cast("long").alias("clean_len"),
        F.md5("clean_text").alias("clean_md5"),
    )
