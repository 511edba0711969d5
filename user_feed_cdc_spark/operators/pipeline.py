"""Corpus-preparation pipeline compositions (north-star LLM-data ops):
stratified train/holdout splitting and an end-to-end clean step
(quality-filter → exact-dedup → accounting). These are the shapes a
pre-training data pipeline runs nightly at 100 TB; each is a pure
composition of operators certified elsewhere in this package.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from user_feed_cdc_spark.operators.dedup import shingles
from user_feed_cdc_spark.operators.textanalysis import EN_STOPWORDS
from user_feed_cdc_spark.registry import registry
from user_feed_cdc_spark.sources.tables import fan_out, load_table

QUERIES, ORACLES, _register = registry()


# train split keeps ceil(9/10 · n) docs per stratum (see the entry's
# integer-threshold note)
@_register(
    "split_stratified_train",
    f"""
    SELECT lang, source, split, COUNT(*) AS n_docs
    FROM (
        SELECT lang, source,
               CASE WHEN ROW_NUMBER() OVER (
                        PARTITION BY lang, source
                        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                    <= FLOOR(((9 * COUNT(*) OVER (PARTITION BY lang, source)
                               + 9) * 1.0) / 10)
                    THEN 'train' ELSE 'holdout' END AS split
        FROM documents
    )
    GROUP BY lang, source, split
    """,
)
def split_stratified_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified train/holdout split: within every (lang, source)
    stratum, rank docs by a content-independent deterministic hash of
    their id and take the first ceil(90%) as train — exact per-stratum
    fractions (a global random split skews small strata), reproducible
    across engines and runs (md5 of the id, not RNG state). One window
    shuffle on the stratum key; the split column would be written back as
    a partition column in production. Output: per-stratum split sizes.

    The ceil(0.9·n) threshold is computed as floor((9n+9)/10) over
    exact integers on BOTH engines rather than ceil(double(0.9)·n):
    the float form happens to be safe for this constant (a parsed
    decimal literal sits within half an ulp, so the product rounds
    back onto exact integers), but that safety is a proof about
    literal error bounds Spark doubles vs DuckDB DECIMALs — the
    integer form needs no proof and survives any future fraction."""
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang", "source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    n_in_stratum = F.count(F.lit(1)).over(W.partitionBy("lang", "source"))
    train_cap = F.floor(
        ((F.lit(9) * n_in_stratum + F.lit(9)) * F.lit(1.0)) / F.lit(10)
    )
    split = F.when(
        F.row_number().over(w) <= train_cap,
        "train",
    ).otherwise("holdout")
    return (
        docs.select("lang", "source", split.alias("split"))
        .groupBy("lang", "source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _sql_list(words) -> str:
    return ", ".join(f"'{w}'" for w in words)


@_register(
    "pipeline_corpus_clean",
    f"""
    WITH scored AS (
        SELECT doc_id, text, lang,
               len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
               len(list_filter(string_split(text, ' '),
                               t -> t IN ({_sql_list(EN_STOPWORDS)}))) AS stop_hits
        FROM documents
    ),
    kept AS (
        SELECT doc_id, text, lang FROM scored
        WHERE n_tokens >= 20 AND stop_hits * 1.0 / n_tokens < 0.5
    ),
    deduped AS (
        SELECT MIN(doc_id) AS doc_id, MIN(lang) AS lang
        FROM kept GROUP BY md5(text)
    )
    SELECT lang, COUNT(*) AS n_clean_docs
    FROM deduped GROUP BY lang
    """,
)
def pipeline_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end clean step: quality gate (length + stopword ratio,
    the text_quality_scores filters) → exact content dedup (min-doc_id
    representative per md5, the dedup_exact_docs shape) → per-language
    accounting. Composition of two certified operators in one plan:
    the quality filter is a narrow scan predicate, the dedup is one
    shuffle on the 16-byte digest — nothing quadratic, nothing collected.
    MIN(lang) (not ANY_VALUE) keeps the representative deterministic
    even if identical texts ever carried different labels."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = F.filter(F.split("text", " "), lambda t: t != "")
    stop_hits = F.size(F.filter(tokens, lambda t: t.isin(*EN_STOPWORDS)))
    scored = docs.select(
        "doc_id",
        "text",
        "lang",
        F.size(tokens).alias("n_tokens"),
        stop_hits.alias("stop_hits"),
    )
    kept = scored.filter(
        (F.col("n_tokens") >= 20)
        & (F.col("stop_hits") / F.col("n_tokens") < 0.5)
    )
    deduped = kept.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id"), F.min("lang").alias("lang")
    )
    return deduped.groupBy("lang").agg(F.count(F.lit(1)).alias("n_clean_docs"))


_DECON_NGRAM = 5  # n-gram width for train/eval overlap detection
_EVAL_MOD = 97  # doc_id % 97 == 0 → the held-out "benchmark" stand-in


@_register(
    "pipeline_decontaminate",
    f"""
    WITH toks AS (
        SELECT doc_id, lang, source,
               list_filter(string_split(text, ' '), t -> t <> '') AS toks
        FROM documents
    ),
    grams AS (
        SELECT doc_id, lang, source,
               list_distinct(list_transform(
                   range(1, greatest(len(toks) - {_DECON_NGRAM} + 2, 2)),
                   i -> array_to_string(toks[i:i + {_DECON_NGRAM} - 1], ' ')
               )) AS grams
        FROM toks
    ),
    eval_grams AS (
        SELECT DISTINCT UNNEST(grams) AS g FROM grams
        WHERE doc_id % {_EVAL_MOD} = 0
    ),
    train AS (SELECT * FROM grams WHERE doc_id % {_EVAL_MOD} <> 0),
    contaminated AS (
        SELECT DISTINCT t.doc_id
        FROM (SELECT doc_id, UNNEST(grams) AS g FROM train) t
        JOIN eval_grams e ON t.g = e.g
    )
    SELECT t.lang, t.source,
           COUNT(*) AS n_train,
           COUNT(c.doc_id) AS n_contaminated,
           COUNT(*) - COUNT(c.doc_id) AS n_clean
    FROM train t LEFT JOIN contaminated c ON t.doc_id = c.doc_id
    GROUP BY t.lang, t.source
    """,
)
def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the GPT-3/Pile pre-training step):
    flag any training document sharing a {5}-gram with the held-out
    eval set (stand-in: doc_id % 97 == 0), report per-(lang, source)
    train/contaminated/clean counts.

    Plan shape at 100 TB: eval benchmarks are tiny (MMLU+GSM8K ≈ 10⁵
    n-grams), so the distinct eval-gram set is BROADCAST and the
    training side never shuffles its grams — contamination is a
    broadcast left-semi join in the scan stage, then one groupBy on the
    doc key. Nothing all-pairs, no global gram index.

    The compared unit is xxhash64(gram), not the gram string: the
    broadcast ships 8-byte longs instead of ~n-word strings (~4× less
    to every executor at 10⁵-10⁶ eval grams) and the semi-join compares
    longs, not variable-length text. A hash collision would flag one
    extra doc with p ≈ |train_grams|·|eval_grams|/2⁶⁴ ≈ 10⁻⁹ at real
    scale — deterministic, and the oracle still matches because the
    OUTPUT is gram-free (per-group counts): collision-free hashing
    yields the identical contaminated set."""
    # fan_out: shingle+xxhash derivation is the dominant scan-stage
    # CPU (see docstring); spread when the local scan under-partitions
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    grams = docs.select(
        "doc_id",
        "lang",
        "source",
        F.transform(
            shingles(F.col("text"), _DECON_NGRAM), lambda g: F.xxhash64(g)
        ).alias("gram_hashes"),
    )
    # explode_outer everywhere a Generate follows an expensive array
    # expression: plain explode pushes an implicit size(arr)>0 filter
    # below the Generate, and Filter + Project each evaluate the full
    # shingle+hash expression — doubling the dominant scan-stage CPU
    # (measured 4.7 s -> 2.2 s at sf0.1). Null rows from empty gram
    # arrays never survive the semi join / isNotNull guard, so the
    # results are bit-identical.
    eval_grams = (
        grams.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select(F.explode_outer("gram_hashes").alias("gh"))
        .filter(F.col("gh").isNotNull())
        .distinct()
    )
    train = grams.filter(F.col("doc_id") % _EVAL_MOD != 0)
    contaminated = (
        train.select("doc_id", F.explode_outer("gram_hashes").alias("gh"))
        .join(F.broadcast(eval_grams), "gh", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        train.join(contaminated, "doc_id", "left")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.count("_hit").alias("n_contaminated"),
            (F.count(F.lit(1)) - F.count("_hit")).alias("n_clean"),
        )
    )


def _fuzzy_decon_oracle() -> str:
    from user_feed_cdc_spark.operators.dedup import md5_band_ctes

    return f"""
    WITH {md5_band_ctes(rows_per_band=1)},
    eval_bands AS (
        SELECT DISTINCT band_idx, band_val FROM bands
        WHERE doc_id % {_EVAL_MOD} = 0
    ),
    contaminated AS (
        SELECT DISTINCT b.doc_id
        FROM bands b JOIN eval_bands e USING (band_idx, band_val)
        WHERE b.doc_id % {_EVAL_MOD} <> 0
    )
    SELECT d.lang, d.source,
           COUNT(*) AS n_train,
           COUNT(c.doc_id) AS n_contaminated,
           COUNT(*) - COUNT(c.doc_id) AS n_clean
    FROM documents d LEFT JOIN contaminated c USING (doc_id)
    WHERE d.doc_id % {_EVAL_MOD} <> 0
    GROUP BY d.lang, d.source
    """


@_register("pipeline_decontaminate_fuzzy", _fuzzy_decon_oracle())
def pipeline_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination: flag training documents that are
    near-duplicates of any eval document — any shared MinHash value
    (width-1 bands: each of the 8 md5 minhashes is its own collision
    probe, P(flag) = 1-(1-j)^8 for shingle-Jaccard j — the high-RECALL
    setting decontamination wants, vs width-2 candidate-pair precision).
    md5 twin, so the whole near-dup probe is under the hash gate. This
    is the production complement to the exact n-gram probe above
    (pipeline_decontaminate): paraphrased/templated eval leakage doesn't
    share exact 5-grams but does collide on minhashes (the
    SlimPajama/Llama-report decontamination recipe).

    Plan shape at 100 TB: identical posture to the exact probe — the
    eval side is tiny, so its distinct band set BROADCASTS and the
    training corpus's band stream left-semi-joins it map-side; one
    groupBy on the doc key, one on (lang, source). Signatures are
    computed in the scan stage (scan-shaped CPU), never shuffled."""
    from user_feed_cdc_spark.operators.dedup import md5_band_rows

    docs = load_table(spark, sf_dir, "documents")
    bands = md5_band_rows(docs, rows_per_band=1)
    eval_bands = (
        bands.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select("band_idx", "band_val")
        .distinct()
    )
    contaminated = (
        bands.filter(F.col("doc_id") % _EVAL_MOD != 0)
        .join(F.broadcast(eval_bands), ["band_idx", "band_val"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        docs.filter(F.col("doc_id") % _EVAL_MOD != 0)
        .join(contaminated, "doc_id", "left")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.count("_hit").alias("n_contaminated"),
            (F.count(F.lit(1)) - F.count("_hit")).alias("n_clean"),
        )
    )


_N_SHARDS = 16


@_register(
    "pipeline_shuffle_shards",
    f"""
    SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shuffle'), 1, 8)
                AS BIGINT) % {_N_SHARDS} AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(len(list_filter(string_split(text, ' '), t -> t <> '')))
               AS BIGINT) AS sum_tokens,
           COUNT(DISTINCT lang) AS n_langs
    FROM documents
    GROUP BY 1
    """,
)
def pipeline_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle → training shards: shard_id is a
    salted content-independent hash of the doc id — the reproducible
    replacement for RNG shuffling (same corpus → same shards, any
    engine). Per-shard accounting proves the mixing: every shard draws
    from (nearly) all languages.

    This is the scale-correct shuffle: NO global sort/row_number (which
    would serialize 100 TB through one task) — hash-partitioning alone
    gives each shard a uniform pseudo-random sample, and a training
    reader sorts WITHIN its shard by the same hash for a deterministic
    visit order. One map-side-partial groupBy, shuffle volume = rows ×
    a few counters."""
    docs = load_table(spark, sf_dir, "documents")
    shard = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":shuffle"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % _N_SHARDS
    )
    tokens = F.filter(F.split("text", " "), lambda t: t != "")
    return (
        docs.select(shard.alias("shard_id"), F.size(tokens).alias("n_tokens"), "lang")
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


@_register(
    "pipeline_source_mixture",
    """
    WITH counts AS (
        SELECT source, COUNT(*) AS n_total FROM documents GROUP BY source
    ),
    floor_n AS (SELECT MIN(n_total) AS min_n FROM counts),
    ranked AS (
        SELECT source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR) || ':mix'), doc_id) AS rn
        FROM documents
    )
    SELECT c.source, c.n_total,
           CAST(SUM(CASE WHEN r.rn <= f.min_n THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled
    FROM ranked r
    JOIN counts c ON r.source = c.source
    CROSS JOIN floor_n f
    GROUP BY c.source, c.n_total
    """,
)
def pipeline_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture rebalancing: undersample every source to the size
    of the smallest one (uniform mixture), selecting per-source by a
    deterministic salted hash rank — the no-RNG version of mixture
    sampling weights (swap min_n for ceil(w_s · n_s) to express any
    target weight vector). One window shuffle on the source key; the
    mixture floor is a 1-row broadcast. Output: per-source total vs
    sampled counts (every n_sampled == min over totals)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    floor_n = counts.agg(F.min("n_total").alias("min_n"))
    w = W.partitionBy("source").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))), "doc_id"
    )
    ranked = docs.select("source", F.row_number().over(w).alias("rn"))
    return (
        ranked.join(F.broadcast(counts), "source")
        .join(F.broadcast(floor_n))
        .groupBy("source", "n_total")
        .agg(
            F.sum(F.when(F.col("rn") <= F.col("min_n"), 1).otherwise(0)).alias(
                "n_sampled"
            )
        )
    )


@_register(
    "pipeline_mixture_weighted",
    """
    WITH counts AS (
        SELECT source, COUNT(*) AS n_total FROM documents GROUP BY source
    ),
    targets AS (
        SELECT source, n_total,
               CAST(CEIL(n_total * (CASE length(source) % 3
                                    WHEN 0 THEN 0.25
                                    WHEN 1 THEN 0.5
                                    ELSE 0.75 END)) AS BIGINT) AS n_target
        FROM counts
    ),
    ranked AS (
        SELECT source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR) || ':wmix'), doc_id) AS rn
        FROM documents
    )
    SELECT t.source, t.n_total, t.n_target,
           CAST(SUM(CASE WHEN r.rn <= t.n_target THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled
    FROM ranked r JOIN targets t ON r.source = t.source
    GROUP BY t.source, t.n_total, t.n_target
    """,
)
def pipeline_mixture_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-weight mixture sampling — the general form the uniform
    rebalance (pipeline_source_mixture) specializes: each source keeps
    ceil(w_s · n_s) documents, selected by the same deterministic salted
    hash rank. Weights here derive from a deterministic source property
    (len % 3 → 0.25/0.5/0.75) standing in for a tuned mixture vector
    (the C4/Pile recipe knob). Per-source targets are a tiny broadcast;
    one window shuffle on the source key, exactly as the uniform case."""
    docs = load_table(spark, sf_dir, "documents")
    weight = (
        F.when(F.length("source") % 3 == 0, 0.25)
        .when(F.length("source") % 3 == 1, 0.5)
        .otherwise(0.75)
    )
    targets = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_total"))
        .withColumn("n_target", F.ceil(F.col("n_total") * weight).cast("long"))
    )
    w = W.partitionBy("source").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":wmix"))), "doc_id"
    )
    ranked = docs.select("source", F.row_number().over(w).alias("rn"))
    return (
        ranked.join(F.broadcast(targets), "source")
        .groupBy("source", "n_total", "n_target")
        .agg(
            F.sum(F.when(F.col("rn") <= F.col("n_target"), 1).otherwise(0)).alias(
                "n_sampled"
            )
        )
    )


_PACK_CAPACITY = 2048  # tokens per packed training sequence


@_register(
    "pipeline_pack_sequences",
    f"""
    WITH sized AS (
        SELECT doc_id, lang,
               len(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS n_tokens
        FROM documents
    ),
    offs AS (
        SELECT lang, doc_id, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens
                   AS start_off
        FROM sized
    )
    SELECT lang,
           CAST(FLOOR(start_off / {_PACK_CAPACITY}.0) AS BIGINT) AS bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM offs
    GROUP BY lang, bin_id
    """,
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: lay documents end-to-end
    per language shard (deterministic doc_id order) and assign each doc
    to the 2048-token bin its START offset falls in — the offset-based
    approximation of greedy first-fit packing that is expressible as one
    window + one aggregate (no sequential driver loop). Packing WITHIN a
    partition key (lang here; a shard id at scale) is the production
    shape: a global pack would serialize on one task, per-shard packs
    parallelize and each shard's bins are contiguous. One shuffle on the
    shard key for the running sum, map-side partial agg for the rollup."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "lang",
        F.size(F.filter(F.split("text", " "), lambda t: t != "")).alias("n_tokens"),
    )
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    offs = sized.withColumn(
        "start_off", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return (
        offs.groupBy(
            "lang",
            F.floor(F.col("start_off") / F.lit(float(_PACK_CAPACITY))).alias("bin_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
    )


_Z_BITS = 10  # per-dimension bits: user-bucket and hour-of-month both < 1024


@_register(
    "pipeline_zorder_stats",
    f"""
    WITH dims AS (
        SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 3) AS BIGINT)
                   & 1023 AS x,
               (CAST(day(ts) AS BIGINT) - 1) * 24 + hour(ts) AS y
        FROM events
    ),
    z AS (
        SELECT x, y,
               CAST(list_sum(list_transform(range(0, {_Z_BITS}), i ->
                   (((x >> i) & 1) << (2 * i)) +
                   (((y >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS zval
        FROM dims
    )
    SELECT zval >> {2 * _Z_BITS - 4} AS z_bucket,
           COUNT(*) AS n_rows,
           MIN(x) AS min_x, MAX(x) AS max_x,
           MIN(y) AS min_y, MAX(y) AS max_y
    FROM z
    GROUP BY z_bucket
    """,
)
def pipeline_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout statistics — the bit-interleave clustering
    math behind multi-dimension data skipping (Delta OPTIMIZE ZORDER,
    Hudi clustering): interleaving the bits of (user bucket, event hour)
    gives a 1-D sort key whose ranges are 2-D locality tiles, so files
    written in z-order carry tight min/max on BOTH dimensions and either
    predicate prunes. The query certifies the z-value construction by
    reporting per-z-range row counts and per-dimension min/max envelopes
    (tight envelopes = the locality a range-partitioned z-write would
    give each file; a plain 1-D sort would leave the other dimension's
    envelope at full width).

    All-integer math (bit extract/shift, integer fold) — bit-identical
    across engines, no float anywhere. One scan, one groupBy on the
    z-bucket: scan-shaped at 100 TB; the real write path would
    repartitionByRange(zval) with the same expression."""
    ev = load_table(spark, sf_dir, "events").select(
        # md5-spread the user key over the full 10-bit grid axis: the raw
        # id domain is data-dependent (149 users at sf0.01) and a
        # low-cardinality dim would leave the top interleave bits
        # constant — hash-spreading the key is the standard z-layout
        # treatment, and pruning still works (point predicates hash to
        # the same cell)
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 3), 16, 10)
        .cast("long")
        .bitwiseAND(F.lit(1023))
        .alias("x"),
        ((F.dayofmonth("ts") - 1).cast("long") * 24 + F.hour("ts")).alias("y"),
    )
    interleave = F.expr(
        f"""
        aggregate(sequence(0, {_Z_BITS - 1}), 0L,
            (acc, i) -> acc + shiftleft(shiftright(x, i) & 1, 2 * i)
                            + shiftleft(shiftright(y, i) & 1, 2 * i + 1))
        """
    )
    z = ev.select("x", "y", interleave.alias("zval"))
    return z.groupBy(
        F.shiftright("zval", 2 * _Z_BITS - 4).alias("z_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )


_BP_N = 3  # must match text_boilerplate_ngrams' width
_BP_DF = 3  # corpus doc-frequency threshold for "boilerplate"


@_register(
    "pipeline_boilerplate_filter",
    f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS toks
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(toks) - {_BP_N} + 2, 2)),
                   i -> array_to_string(toks[i:i + {_BP_N} - 1], ' ')
               )) AS grams
        FROM toks
    ),
    exploded AS (SELECT doc_id, UNNEST(grams) AS gram FROM grams),
    block AS (
        SELECT gram FROM (
            SELECT gram, COUNT(*) AS c FROM exploded GROUP BY 1
        ) WHERE c >= {_BP_DF}
    ),
    per AS (
        SELECT e.doc_id, COUNT(*) AS n_grams, COUNT(b.gram) AS n_blocked
        FROM exploded e LEFT JOIN block b USING (gram)
        GROUP BY 1
    )
    SELECT doc_id, n_grams, n_blocked,
           FLOOR((n_blocked * 1.0 / n_grams) * 10000.0 + 0.5) / 10000.0
               AS blocked_ratio,
           n_blocked * 2 < n_grams AS kept
    FROM per
    """,
)
def pipeline_boilerplate_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consuming half of boilerplate detection
    (text_boilerplate_ngrams): per document, the share of its distinct
    {3}-grams that are corpus-common (doc freq >= {3}), and a keep/drop
    verdict (kept iff under half its grams are boilerplate — compared
    in integers, 2·blocked < total, so no float threshold edge). This
    is the RefinedWeb/CCNet 'remove docs dominated by common spans'
    gate as one composition: detection feeds filtering.

    Plan at 100 TB: the blocklist (grams above the df threshold) is
    tiny by construction — common spans are few — so it BROADCASTS and
    the per-doc tally is a map-side left join over the scan-stage gram
    stream; two shuffles total (corpus df, per-doc rollup), both on
    fixed-width keys after map-side combine."""
    from user_feed_cdc_spark.operators.dedup import shingles
    from user_feed_cdc_spark.sources.tables import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    exploded = docs.select(
        "doc_id",
        F.explode_outer(shingles(F.col("text"), _BP_N)).alias("gram"),
    ).filter(F.col("gram").isNotNull())  # outer avoids the double-eval
    # of the shingle expr in explode's implicit size filter; the guard
    # restores exact explode semantics (gram-less docs emit no rows)
    block = (
        exploded.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _BP_DF)
        .select("gram")
        .withColumn("_b", F.lit(1))
    )
    per = (
        exploded.join(F.broadcast(block), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_b").alias("n_blocked"),
        )
    )
    from user_feed_cdc_spark.functions.numeric import round_half_up as r2

    return per.select(
        "doc_id",
        "n_grams",
        "n_blocked",
        r2(F.col("n_blocked") * 1.0 / F.col("n_grams"), 4).alias("blocked_ratio"),
        (F.col("n_blocked") * 2 < F.col("n_grams")).alias("kept"),
    )


# quality-mixture bands (token-count thresholds) and per-band keep rates
_QM_SHORT, _QM_LONG = 40, 70
_QM_KEEP = {"short": 0.5, "mid": 0.8, "long": 1.0}


@_register(
    "pipeline_quality_mixture",
    f"""
    WITH scored AS (
        SELECT doc_id,
               CASE WHEN len(list_filter(string_split(text, ' '),
                                         t -> t <> '')) < {_QM_SHORT} THEN 'short'
                    WHEN len(list_filter(string_split(text, ' '),
                                         t -> t <> '')) < {_QM_LONG} THEN 'mid'
                    ELSE 'long' END AS band
        FROM documents
    ),
    ranked AS (
        SELECT band,
               ROW_NUMBER() OVER (PARTITION BY band
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                   AS rn,
               COUNT(*) OVER (PARTITION BY band) AS n_band
        FROM scored
    )
    SELECT band, COUNT(*) AS n_total,
           COUNT(CASE WHEN rn <= FLOOR(((
               CASE band WHEN 'short' THEN 1 WHEN 'mid' THEN 4 ELSE 1 END
               * n_band
               + CASE band WHEN 'short' THEN 2 WHEN 'mid' THEN 5 ELSE 1 END
               - 1) * 1.0)
               / CASE band WHEN 'short' THEN 2 WHEN 'mid' THEN 5 ELSE 1 END)
           THEN 1 END) AS n_kept
    FROM ranked
    GROUP BY band
    """,
)
def pipeline_quality_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted mixture sampling (the DoReMi/quality-bucket
    recipe): band documents by a quality proxy (token count:
    short/mid/long), then keep a band-specific deterministic fraction —
    {50}% of short docs, {80}% of mid, all long — via the same
    content-independent md5-rank the stratified split uses. Exact
    per-band fractions, reproducible across engines and runs. One
    window shuffle on the band key; the kept flag becomes a partition
    column at write time. Composes the text-quality scoring and
    mixture-rebalancing operators into the single pass a corpus build
    actually runs.

    The per-band keep threshold ceil(f·n) is computed as
    floor((num·n + den - 1)/den) over exact integers (1/2, 4/5, 1/1)
    on BOTH engines — no float fraction ever multiplies a count, so
    the cut cannot depend on literal rounding (the
    split_stratified_train treatment)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    band = (
        F.when(n_tokens < _QM_SHORT, "short")
        .when(n_tokens < _QM_LONG, "mid")
        .otherwise("long")
    )
    scored = docs.select("doc_id", band.alias("band"))
    w = W.partitionBy("band").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    numer = (
        F.when(F.col("band") == "short", 1)
        .when(F.col("band") == "mid", 4)
        .otherwise(1)
    )
    denom = (
        F.when(F.col("band") == "short", 2)
        .when(F.col("band") == "mid", 5)
        .otherwise(1)
    )
    ranked = scored.select(
        "band",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("band")).alias("n_band"),
        numer.alias("kn"),
        denom.alias("kd"),
    )
    cap = F.floor(
        ((F.col("kn") * F.col("n_band") + F.col("kd") - F.lit(1)) * F.lit(1.0))
        / F.col("kd")
    )
    return ranked.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.col("rn") <= cap, 1)).alias("n_kept"),
    )


_RESERVOIR_K = 20


@_register(
    "pipeline_reservoir_sample",
    f"""
    SELECT lang, doc_id, sample_rank
    FROM (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5('smp:' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS sample_rank
        FROM documents
    )
    WHERE sample_rank <= {_RESERVOIR_K}
    """,
)
def pipeline_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-k per-stratum sample: exactly _RESERVOIR_K (= 20) documents per
    language, the eval-set/spot-check draw every corpus pipeline needs.
    Realized as a hash-rank top-k — rank docs by a salted
    content-independent md5 of their id, keep the k smallest — which has
    the same marginal property as Vitter's reservoir (every doc equally
    likely under the hash's uniformity) while being fully deterministic
    and engine-reproducible: re-running the pipeline, or running it on
    the oracle engine, draws the IDENTICAL sample. The salt ('smp:')
    decorrelates this draw from the stratified split's ranking so the
    sample isn't biased toward the train side.

    Scale: this is a per-group top-k, so it plans the WindowGroupLimit
    pattern — each map partition keeps only its local top-k per lang
    BEFORE the shuffle, so the exchange carries O(strata x k) rows, not
    the corpus; a global random sort would shuffle everything."""
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(
        F.md5(F.concat(F.lit("smp:"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    return (
        docs.select(
            "lang", "doc_id", F.row_number().over(w).alias("sample_rank")
        )
        .filter(F.col("sample_rank") <= _RESERVOIR_K)
    )


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
_PII_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


@_register(
    "pipeline_pii_scrub",
    f"""
    WITH aug AS (
        SELECT doc_id, lang,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or +1-555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                    || '.7' AS t
        FROM documents
    )
    SELECT doc_id, lang,
           len(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_emails,
           len(regexp_extract_all(t, '{_PII_PHONE}')) AS n_phones,
           len(regexp_extract_all(t, '{_PII_IP}')) AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IP}', '<IP>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g')) AS scrubbed_digest
    FROM aug
    """,
)
def pipeline_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (the pre-training privacy scrub): emails, phone
    numbers, and IPv4 addresses are regex-redacted to typed
    placeholders, with per-doc match counts and an md5 of the scrubbed
    text — so the certification is byte-for-byte: the hash gate passes
    only if BOTH engines find the same spans and rewrite them
    identically. The input is fixture-augmented (each doc gets a
    deterministic doc_id-derived email/phone/IP appended) so every row
    exercises all three scrubbers against known-positive spans while
    the original text still flows through them — the md5-twin
    treatment applied to redaction.

    The patterns stay inside the regex subset Java (Spark) and RE2
    (DuckDB oracle) interpret identically: character classes, bounded
    repetition, word boundaries — no backrefs, no lookaround. Plan:
    pure scan-stage projection (regexp_replace/extract_all are
    codegen'd JVM calls, zero Python, zero shuffles) — at 100 TB this
    is embarrassingly parallel and I/O-bound, exactly what a scrub
    pass should be; redaction order (emails → IPs → phones) is fixed
    so composed rewrites are deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    t = docs.select("doc_id", "lang", aug.alias("t"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _PII_EMAIL, "<EMAIL>"),
            _PII_IP,
            "<IP>",
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return t.select(
        "doc_id",
        "lang",
        F.size(F.regexp_extract_all("t", F.lit(_PII_EMAIL), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(_PII_PHONE), F.lit(0))).alias("n_phones"),
        F.size(F.regexp_extract_all("t", F.lit(_PII_IP), F.lit(0))).alias("n_ips"),
        F.md5(scrubbed).alias("scrubbed_digest"),
    )


def _funnel_oracle() -> str:
    from user_feed_cdc_spark.operators.dedup import (
        MAX_BUCKET,
        _MD5_K,
        _MD5_ROWS,
        md5_sig_ctes,
    )

    n_bands = _MD5_K // _MD5_ROWS
    slices = " || ',' || ".join(
        f"CAST(sig[{_MD5_ROWS} * b + {i + 1}] AS VARCHAR)"
        for i in range(_MD5_ROWS)
    )
    return f"""
    WITH RECURSIVE corpus AS (
        SELECT doc_id, text, lang FROM documents WHERE doc_id % {_EVAL_MOD} <> 0
    ),
    scored AS (
        SELECT doc_id, text, lang,
               len(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS n_tokens,
               len(list_filter(string_split(text, ' '),
                               t -> t IN ({_sql_list(EN_STOPWORDS)})))
                   AS stop_hits
        FROM corpus
    ),
    s1 AS (
        SELECT doc_id, text FROM scored
        WHERE n_tokens >= 20 AND stop_hits * 1.0 / n_tokens < 0.5
    ),
    s2 AS (
        SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   ROW_NUMBER() OVER (PARTITION BY md5(text)
                                      ORDER BY doc_id) AS rn
            FROM s1
        ) WHERE rn = 1
    ),
    {md5_sig_ctes("s2")},
    bands AS (
        SELECT doc_id, b AS band_idx, {slices} AS band_val
        FROM sig, range(0, {n_bands}) AS t(b)
    ),
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
        SELECT doc_id, doc_id FROM s2
        UNION
        SELECT p.id_a, r.r FROM pairs p JOIN reach r ON r.doc_id = p.id_b
    ),
    s3 AS (
        SELECT s2.doc_id, s2.text FROM s2
        JOIN (SELECT doc_id, MIN(r) AS rep FROM reach GROUP BY doc_id) c
          USING (doc_id)
        WHERE c.rep = c.doc_id
    ),
    egrams AS (
        SELECT DISTINCT UNNEST(list_distinct(list_transform(
            range(1, greatest(len(list_filter(string_split(text, ' '),
                                              t -> t <> ''))
                              - {_DECON_NGRAM} + 2, 2)),
            i -> array_to_string(
                list_filter(string_split(text, ' '), t -> t <> '')
                    [i:i + {_DECON_NGRAM} - 1], ' ')
        ))) AS g
        FROM documents WHERE doc_id % {_EVAL_MOD} = 0
    ),
    contaminated AS (
        SELECT DISTINCT t.doc_id
        FROM (
            SELECT doc_id, UNNEST(list_distinct(list_transform(
                range(1, greatest(len(list_filter(string_split(text, ' '),
                                                  t -> t <> ''))
                                  - {_DECON_NGRAM} + 2, 2)),
                i -> array_to_string(
                    list_filter(string_split(text, ' '), t -> t <> '')
                        [i:i + {_DECON_NGRAM} - 1], ' ')
            ))) AS g
            FROM s3
        ) t JOIN egrams e ON t.g = e.g
    ),
    s4 AS (
        SELECT doc_id FROM s3
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    )
    SELECT 0 AS stage_idx, 'raw' AS stage,
           (SELECT COUNT(*) FROM corpus) AS n_docs
    UNION ALL SELECT 1, 'quality', (SELECT COUNT(*) FROM s1)
    UNION ALL SELECT 2, 'exact_dedup', (SELECT COUNT(*) FROM s2)
    UNION ALL SELECT 3, 'near_dup', (SELECT COUNT(*) FROM s3)
    UNION ALL SELECT 4, 'decontaminated', (SELECT COUNT(*) FROM s4)
    """


@_register("pipeline_training_funnel", _funnel_oracle())
def pipeline_training_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE training-data funnel — the whole preprocessing pipeline a
    pre-training corpus runs, as ONE Spark plan with per-stage survivor
    accounting: raw → quality gate (length + stopword ratio) → exact
    dedup (min-doc_id per content digest) → near-dup collapse (md5
    MinHash banding + connected-components, cluster representatives
    survive) → benchmark decontamination (5-gram overlap with the
    held-out eval slice). Every stage is an operator certified on its
    own elsewhere (pipeline_corpus_clean, dedup_exact_docs,
    dedup_minhash_md5_clusters, pipeline_decontaminate); this entry
    certifies their COMPOSITION — survivor sets feed forward, so a
    semantics drift in any stage moves the downstream counts and fails
    the hash gate. The oracle replays the identical funnel in SQL
    (recursive CTE for the clustering stage).

    Scale posture is inherited from the parts: narrow scan predicate →
    digest-keyed shuffle → band-bucketed clustering over the ALREADY
    twice-shrunk survivor set (each stage cuts the data the next stage
    pays for — the reason production funnels run in this order) →
    broadcast gram semi-join. Nothing quadratic, nothing collected."""
    from user_feed_cdc_spark.operators.dedup import (
        _cluster_by_bands,
        md5_band_rows,
    )
    from user_feed_cdc_spark.session import input_width

    docs = fan_out(  # s1 token/stopword derivation is CPU-bound on the scan
        load_table(spark, sf_dir, "documents")
    )
    corpus = docs.filter(F.col("doc_id") % _EVAL_MOD != 0).select(
        "doc_id", "text"
    )
    tokens = F.filter(F.split("text", " "), lambda t: t != "")
    stop_hits = F.size(F.filter(tokens, lambda t: t.isin(*EN_STOPWORDS)))
    s1 = (
        corpus.withColumn("n_tokens", F.size(tokens))
        .withColumn("stop_hits", stop_hits)
        .filter(
            (F.col("n_tokens") >= 20)
            & (F.col("stop_hits") / F.col("n_tokens") < 0.5)
        )
        .select("doc_id", "text")
    )
    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    s2 = (
        s1.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "text")
    )
    # the clustering stage re-reads s2 twice (bands + membership) and the
    # decon stage once more; materialize the small survivor frame once
    # (lineage-truncating local checkpoint, GC-cleaned — the clustering
    # core's own materializer)
    s2 = s2.localCheckpoint(eager=False)
    clusters = _cluster_by_bands(
        md5_band_rows(s2).withColumnRenamed("band_val", "band_hash"),
        s2.select("doc_id"),
        # s2 is checkpoint-backed (no file lineage), so the loop width
        # derives from the original documents scan instead
        loop_partitions=input_width(*docs.inputFiles()),
    )
    s3 = (
        s2.join(clusters, "doc_id")
        .filter(F.col("rep_id") == F.col("doc_id"))
        .select("doc_id", "text")
    )
    eval_grams = (
        docs.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select(
            F.explode_outer(
                F.transform(
                    shingles(F.col("text"), _DECON_NGRAM),
                    lambda g: F.xxhash64(g),
                )
            ).alias("gh")
        )
        .filter(F.col("gh").isNotNull())
        .distinct()
    )
    contaminated = (
        s3.select(
            "doc_id",
            F.explode_outer(
                F.transform(
                    shingles(F.col("text"), _DECON_NGRAM),
                    lambda g: F.xxhash64(g),
                )
            ).alias("gh"),
        )
        .join(F.broadcast(eval_grams), "gh", "left_semi")
        .select("doc_id")
        .distinct()
    )
    s4 = s3.join(contaminated, "doc_id", "left_anti")

    def stage(idx: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(idx).alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
        )

    out = (
        stage(0, "raw", corpus)
        .unionByName(stage(1, "quality", s1))
        .unionByName(stage(2, "exact_dedup", s2))
        .unionByName(stage(3, "near_dup", s3))
        .unionByName(stage(4, "decontaminated", s4))
    )
    return out


@_register(
    "pipeline_profile_columns",
    """
    SELECT 'event_id' AS col, COUNT(*) AS n, COUNT(*) - COUNT(event_id) AS n_null,
           COUNT(DISTINCT event_id) AS n_distinct,
           CAST(MIN(event_id) AS VARCHAR) AS min_v,
           CAST(MAX(event_id) AS VARCHAR) AS max_v
    FROM events
    UNION ALL
    SELECT 'user_id', COUNT(*), COUNT(*) - COUNT(user_id),
           COUNT(DISTINCT user_id),
           CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR)
    FROM events
    UNION ALL
    SELECT 'event_type', COUNT(*), COUNT(*) - COUNT(event_type),
           COUNT(DISTINCT event_type),
           MIN(event_type), MAX(event_type)
    FROM events
    UNION ALL
    SELECT 'value', COUNT(*), COUNT(*) - COUNT(value),
           COUNT(DISTINCT value),
           CAST(FLOOR(MIN(value) * 100.0 + 0.5) / 100.0 AS VARCHAR),
           CAST(FLOOR(MAX(value) * 100.0 + 0.5) / 100.0 AS VARCHAR)
    FROM events
    """,
)
def pipeline_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profiling (the deequ/`df.summary()` pass every pipeline
    runs before trusting a new drop): per column — row count, null
    count, distinct count, min/max rendered to strings so one narrow
    schema carries heterogeneous column types. ONE scan computes every
    column's profile (Spark compiles the multi-aggregate into a single
    pass with partial aggregation; the oracle's UNION of per-column
    scans is the readable spelling of the same numbers). At 100 TB the
    profile is the cheap pass that decides partition bounds, skew
    strategy, and null-handling BEFORE the expensive jobs run; distinct
    counts would downgrade to approx_count_distinct there, which the
    sketch family's bound certs already hold to contract."""
    from user_feed_cdc_spark.functions.numeric import round_half_up as r2

    ev = load_table(spark, sf_dir, "events")

    def prof(col, minmax_str=None):
        mn = minmax_str[0] if minmax_str else F.min(col).cast("string")
        mx = minmax_str[1] if minmax_str else F.max(col).cast("string")
        return ev.agg(
            F.lit(col).alias("col"),
            F.count(F.lit(1)).alias("n"),
            (F.count(F.lit(1)) - F.count(col)).alias("n_null"),
            F.countDistinct(col).alias("n_distinct"),
            mn.alias("min_v"),
            mx.alias("max_v"),
        )

    value_minmax = (
        r2(F.min("value")).cast("string"),
        r2(F.max("value")).cast("string"),
    )
    return (
        prof("event_id")
        .unionByName(prof("user_id"))
        .unionByName(prof("event_type"))
        .unionByName(prof("value", value_minmax))
    )


@_register(
    "pipeline_quality_checks",
    """
    SELECT 'event_id_unique' AS check_name,
           (SELECT COUNT(*) = COUNT(DISTINCT event_id) FROM events) AS passed,
           (SELECT COUNT(*) - COUNT(DISTINCT event_id) FROM events)
               AS n_violations
    UNION ALL
    SELECT 'user_id_complete',
           (SELECT COUNT(*) = COUNT(user_id) FROM events),
           (SELECT COUNT(*) - COUNT(user_id) FROM events)
    UNION ALL
    SELECT 'event_type_in_domain',
           (SELECT COUNT(*) = 0 FROM events
            WHERE event_type NOT IN
                  ('click', 'error', 'purchase', 'signup', 'view')),
           (SELECT COUNT(*) FROM events
            WHERE event_type NOT IN
                  ('click', 'error', 'purchase', 'signup', 'view'))
    UNION ALL
    SELECT 'value_non_negative',
           (SELECT COUNT(*) = 0 FROM events WHERE value < 0),
           (SELECT COUNT(*) FROM events WHERE value < 0)
    UNION ALL
    SELECT 'ts_within_2024',
           (SELECT COUNT(*) = 0 FROM events
            WHERE ts < TIMESTAMP '2024-01-01'
               OR ts >= TIMESTAMP '2025-01-01'),
           (SELECT COUNT(*) FROM events
            WHERE ts < TIMESTAMP '2024-01-01'
               OR ts >= TIMESTAMP '2025-01-01')
    """,
)
def pipeline_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint validation (the deequ/Great-Expectations gate between
    ingestion and training): declarative checks — primary-key
    uniqueness, completeness, a categorical domain, a numeric range, a
    timestamp window — each reporting pass/fail AND the violation
    count, so a red check carries its blast radius. All five checks
    compile into ONE scan (conditional aggregation over the same pass —
    the oracle's correlated-subquery spelling reads better but computes
    the same numbers). At 100 TB this runs as the cheap tail of every
    ingestion job; a failed check quarantines the drop before it
    poisons training data, which is the entire point of the funnel
    upstream of it."""
    ev = load_table(spark, sf_dir, "events")
    domain = ("click", "error", "purchase", "signup", "view")
    agg = ev.agg(
        F.count(F.lit(1)).alias("_n"),
        F.countDistinct("event_id").alias("_n_ids"),
        F.count("user_id").alias("_n_users"),
        F.sum(
            F.when(~F.col("event_type").isin(*domain), 1).otherwise(0)
        ).alias("_bad_type"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias("_bad_val"),
        F.sum(
            F.when(
                (F.col("ts") < F.lit("2024-01-01").cast("timestamp"))
                | (F.col("ts") >= F.lit("2025-01-01").cast("timestamp")),
                1,
            ).otherwise(0)
        ).alias("_bad_ts"),
    )

    def check(name, passed, viol):
        return F.struct(
            F.lit(name).alias("check_name"),
            passed.alias("passed"),
            viol.cast("long").alias("n_violations"),
        )

    checks = F.array(
        check(
            "event_id_unique",
            F.col("_n") == F.col("_n_ids"),
            F.col("_n") - F.col("_n_ids"),
        ),
        check(
            "user_id_complete",
            F.col("_n") == F.col("_n_users"),
            F.col("_n") - F.col("_n_users"),
        ),
        check(
            "event_type_in_domain", F.col("_bad_type") == 0, F.col("_bad_type")
        ),
        check("value_non_negative", F.col("_bad_val") == 0, F.col("_bad_val")),
        check("ts_within_2024", F.col("_bad_ts") == 0, F.col("_bad_ts")),
    )
    return (
        agg.select(F.explode(checks).alias("c"))
        .select("c.check_name", "c.passed", "c.n_violations")
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weights (data selection for language models)
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 64  # hashed-feature dimensionality (vocabulary-free)

_DSIR_ORACLE = """
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(string_split(text, ' '), t -> t <> '') AS tk
        FROM documents
    ),
    bis AS (
        SELECT doc_id, lang,
               UNNEST(list_transform(
                   range(1, len(tk)),
                   i -> tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1]
               )) AS bigram
        FROM toks
    ),
    feat AS (
        SELECT doc_id, lang,
               CAST('0x' || substr(md5(bigram), 1, 8) AS BIGINT) % 64 AS b
        FROM bis
    ),
    tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS tc FROM feat WHERE lang = 'en' GROUP BY b),
    raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS rc FROM feat GROUP BY b),
    tot AS (
        SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tt,
               CAST(COUNT(*) AS BIGINT) AS rt
        FROM feat
    ),
    lam AS (
        SELECT r.b,
               CAST(FLOOR(LN(((COALESCE(t.tc, 0) + 1.0) / (tot.tt + 64.0)) /
                             ((r.rc + 1.0) / (tot.rt + 64.0))) * 1000000.0 + 0.5)
                    AS BIGINT) AS lam_micro
        FROM raw r LEFT JOIN tgt t USING (b), tot
    )
    SELECT f.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           FLOOR(CAST(SUM(l.lam_micro) AS DOUBLE) / COUNT(*) + 0.5) / 1000000.0
               AS dsir_weight
    FROM feat f JOIN lam l USING (b)
    GROUP BY f.doc_id
"""


@_register("pipeline_dsir_weights", _DSIR_ORACLE)
def pipeline_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): per-doc mean
    log-likelihood ratio between a TARGET distribution (here lang='en'
    docs — the stand-in for "looks like my eval/domain corpus") and the
    RAW corpus, both modeled as Laplace-smoothed multinomials over
    HASHED bigram features. Positive weight = more target-like; sampling
    ∝ exp(weight) is the importance-resampling recipe that lifted
    pretraining quality in the paper.

    The hashing trick makes this 100 TB-shaped: 64 md5-derived buckets
    (the CMS/bloom construction, engine-exact) mean NO vocabulary is
    built, the model is two 64-row count tables (one scan with map-side
    partials — target is a filtered sum over the same pass), and the
    per-bucket log-ratio λ_b joins back as a broadcast. Per-bigram λ is
    frozen to integer micro-units before the per-doc SUM (the surprisal
    contract), so only exact bigints accumulate; one double division
    closes each doc. Docs too short for any bigram carry no evidence
    and are omitted, same as the oracle's inner join."""
    # fan_out: per-bigram md5 bucketing is scan-stage CPU (no-op at
    # real scale)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    tokens = F.filter(F.split("text", " "), lambda t: t != "")
    bigrams = F.expr(
        "zip_with(slice(tk, 1, greatest(size(tk) - 1, 0)), "
        "slice(tk, 2, greatest(size(tk) - 1, 0)), "
        "(a, b) -> concat(a, ' ', b))"
    )
    feat = (
        docs.select("doc_id", "lang", tokens.alias("tk"))
        .select("doc_id", "lang", F.explode(bigrams).alias("bigram"))
        .select(
            "doc_id",
            "lang",
            (
                F.expr("CAST(conv(substr(md5(bigram), 1, 8), 16, 10) AS BIGINT)")
                % _DSIR_BUCKETS
            ).alias("b"),
        )
    )
    is_tgt = (F.col("lang") == "en").cast("long")
    # one scan builds both count tables: raw = count, target = sum(flag)
    counts = feat.groupBy("b").agg(
        F.count(F.lit(1)).alias("rc"), F.sum(is_tgt).alias("tc")
    )
    tot = feat.agg(
        F.sum(is_tgt).alias("tt"), F.count(F.lit(1)).alias("rt")
    )
    bf = float(_DSIR_BUCKETS)
    lam_micro = F.floor(
        F.log(
            ((F.col("tc") + 1.0) / (F.col("tt") + bf))
            / ((F.col("rc") + 1.0) / (F.col("rt") + bf))
        )
        * 1000000.0
        + F.lit(0.5)
    ).cast("long")
    lam = counts.join(F.broadcast(tot)).select("b", lam_micro.alias("lam_micro"))
    return (
        feat.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.floor(
                    F.sum("lam_micro").cast("double") / F.count(F.lit(1))
                    + F.lit(0.5)
                )
                / 1000000.0
            ).alias("dsir_weight"),
        )
    )


# ---------------------------------------------------------------------------
# Curriculum ordering (global total-order rank without a global sort)
# ---------------------------------------------------------------------------

_CURRICULUM_ORACLE = """
    WITH banded AS (
        SELECT doc_id, n_chars,
               CASE WHEN n_chars < 150 THEN 0
                    WHEN n_chars < 250 THEN 1
                    WHEN n_chars < 350 THEN 2
                    ELSE 3 END AS band
        FROM documents
    )
    SELECT doc_id, band, n_chars,
           CAST(ROW_NUMBER() OVER (ORDER BY band, n_chars, doc_id) AS BIGINT)
               AS curriculum_rank
    FROM banded
"""


@_register("pipeline_curriculum_order", _CURRICULUM_ORACLE)
def pipeline_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering — every doc gets its GLOBAL easy→hard rank
    (short docs first: the length-as-difficulty proxy of curriculum-
    learning recipes) WITHOUT a global sort: the classic two-level
    distributed ranking. Docs band into 4 fixed difficulty buckets;
    per-band counts (a 4-row aggregate) turn into cumulative offsets
    via a tiny running-sum window and broadcast back; the global rank
    is band_offset + within-band ROW_NUMBER. One data shuffle (on
    band, parallel within bands) replaces the all-rows range-exchange
    + skew risk a bare ROW_NUMBER() OVER (ORDER BY ...) pays — at
    100 TB that single-total-order window is the canonical scale
    killer, and this decomposition is the standard fix (same
    cumulative-offset idea as range partitioning's sampled bounds,
    but exact). Oracle IS the naive global ROW_NUMBER, certifying the
    decomposition reproduces the total order bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    band = (
        F.when(F.col("n_chars") < 150, 0)
        .when(F.col("n_chars") < 250, 1)
        .when(F.col("n_chars") < 350, 2)
        .otherwise(3)
    )
    banded = docs.select("doc_id", "n_chars", band.alias("band"))
    offsets = (
        banded.groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "band_offset",
            F.coalesce(
                F.sum("n").over(
                    W.orderBy("band").rowsBetween(
                        W.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("band", "band_offset")
    )
    w = W.partitionBy("band").orderBy("n_chars", "doc_id")
    return (
        banded.join(F.broadcast(offsets), "band")
        .select(
            "doc_id",
            "band",
            "n_chars",
            (F.col("band_offset") + F.row_number().over(w)).alias(
                "curriculum_rank"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Linear quality scoring over hashed features (fastText-style classifier)
# ---------------------------------------------------------------------------

_SCORE_BUCKETS = 16  # same hashed-feature space as text_hashed_features
_SCORE_KEEP_MICRO = 0  # keep verdict: non-negative mean bucket weight

_LINEAR_SCORE_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, UNNEST(list_filter(string_split(text, ' '),
                                          t -> t <> '')) AS token
        FROM documents
    ),
    bucketed AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(token), 1, 8) AS BIGINT)
                   % {_SCORE_BUCKETS} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM toks GROUP BY 1, 2
    ),
    scored AS (
        SELECT doc_id,
               CAST(SUM(cnt * ((CAST('0x' || substr(md5('w' ||
                        CAST(bucket AS VARCHAR)), 1, 4) AS BIGINT) % 1000)
                        - 500)) AS BIGINT) AS score_num,
               CAST(SUM(cnt) AS BIGINT) AS n_tokens
        FROM bucketed GROUP BY doc_id
    )
    SELECT doc_id, score_num, n_tokens,
           FLOOR((CAST(score_num AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS quality_score,
           score_num >= {_SCORE_KEEP_MICRO} AS keep
    FROM scored
"""


@_register("pipeline_linear_quality_score", _LINEAR_SCORE_ORACLE)
def pipeline_linear_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR MODEL SCORING at scan time — the fastText/quality-
    classifier consumption of the hashing-trick feature space
    (text_hashed_features): each doc's 16-bucket token counts dot a
    fixed per-bucket weight vector, normalized by token count, with a
    keep/drop verdict — the shape of every learned quality filter in a
    pretraining funnel (CCNet's LM filter, fastText lang/quality
    heads). The twist that makes it 100 TB-clean: because the feature
    space is vocabulary-free, the \"model\" is just |buckets| weights —
    here DERIVED IN-EXPRESSION (md5 of the bucket id), so scoring
    needs NO weight-table join, no broadcast, nothing resident: it is
    a pure projection over the (doc, bucket, count) aggregation. A
    real trained model swaps the md5 expression for a 16-littleral
    CASE or a broadcast map — same plan. Integer contract: weights
    ∈ [-500, 499], score numerator and token count are exact BIGINTs,
    one fp64 division at the end (micro-frozen); the keep verdict
    compares INTEGERS so no float boundary can flip it across
    engines. One explode + one (doc, bucket) shuffle + one per-doc
    agg — strictly the text_hashed_features plan plus a projection."""
    from user_feed_cdc_spark.functions.numeric import round_half_up as r2

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", " "), lambda t: t != "")
        ).alias("token"),
    )
    bucket = F.expr(
        f"CAST(conv(substr(md5(token), 1, 8), 16, 10) AS BIGINT)"
        f" % {_SCORE_BUCKETS}"
    )
    counts = toks.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    weight = (
        F.expr(
            "CAST(conv(substr(md5(concat('w', CAST(bucket AS STRING))), 1, 4),"
            " 16, 10) AS BIGINT)"
        )
        % 1000
        - 500
    )
    scored = counts.groupBy("doc_id").agg(
        F.sum(F.col("cnt") * weight).alias("score_num"),
        F.sum("cnt").alias("n_tokens"),
    )
    return scored.select(
        "doc_id",
        "score_num",
        "n_tokens",
        r2(
            F.col("score_num").cast("double")
            / F.col("n_tokens").cast("double"),
            6,
        ).alias("quality_score"),
        (F.col("score_num") >= _SCORE_KEEP_MICRO).alias("keep"),
    )


@_register(
    "pipeline_contamination_score",
    f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS toks
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(toks) - {_DECON_NGRAM} + 2, 2)),
                   i -> array_to_string(toks[i:i + {_DECON_NGRAM} - 1], ' ')
               )) AS grams
        FROM toks
    ),
    eval_grams AS (
        SELECT DISTINCT UNNEST(grams) AS g FROM grams
        WHERE doc_id % {_EVAL_MOD} = 0
    ),
    train AS (
        SELECT doc_id, UNNEST(grams) AS g FROM grams
        WHERE doc_id % {_EVAL_MOD} <> 0
    ),
    scored AS (
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(COUNT(e.g) AS BIGINT) AS n_hit
        FROM train t LEFT JOIN eval_grams e ON t.g = e.g
        GROUP BY t.doc_id
    )
    SELECT doc_id, n_grams, n_hit,
           FLOOR(CAST(n_hit AS DOUBLE) / CAST(n_grams AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS contamination,
           CASE WHEN n_hit = 0 THEN 'clean'
                WHEN 2 * n_hit < n_grams THEN 'partial'
                ELSE 'heavy' END AS level
    FROM scored
    """,
)
def pipeline_contamination_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRADED decontamination — the report-card form of the binary
    flag (pipeline_decontaminate): per training doc, the FRACTION of
    its distinct {5}-grams that appear in the held-out eval set, plus
    a clean/partial/heavy triage level. The binary form answers "drop
    or keep"; the graded form is what an audit actually publishes
    (how contaminated, where's the mass) and what threshold-sweeps
    tune on. Same 100 TB shape as the parent: the tiny eval gram set
    broadcasts as 8-byte xxhash64 longs, the train side explodes its
    distinct grams once and LEFT-joins the broadcast (hits counted,
    misses kept — a semi-join would lose the denominator), one
    groupBy on doc_id. The level verdict compares INTEGERS
    (2·hits vs grams), so no float boundary can flip a doc's triage
    across engines; the ratio itself is one micro-frozen fp64
    division. Collision note as the parent: output is gram-free, so
    hashed-vs-string compare agrees absent a 2⁻⁶⁴ collision."""
    from user_feed_cdc_spark.functions.numeric import round_half_up as r2

    docs = fan_out(  # gram-hash derivation is the CPU-heavy scan stage
        load_table(spark, sf_dir, "documents")
    )
    grams = docs.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                shingles(F.col("text"), _DECON_NGRAM),
                lambda g: F.xxhash64(g),
            )
        ).alias("gram_hashes"),
    )
    eval_grams = (
        grams.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select(F.explode_outer("gram_hashes").alias("gh"))
        .filter(F.col("gh").isNotNull())
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    train = (
        grams.filter(F.col("doc_id") % _EVAL_MOD != 0)
        .select("doc_id", F.explode_outer("gram_hashes").alias("gh"))
        .filter(F.col("gh").isNotNull())
    )
    scored = (
        train.join(F.broadcast(eval_grams), "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_hit").alias("n_hit"),
        )
    )
    level = (
        F.when(F.col("n_hit") == 0, "clean")
        .when(2 * F.col("n_hit") < F.col("n_grams"), "partial")
        .otherwise("heavy")
    )
    return scored.select(
        "doc_id",
        "n_grams",
        "n_hit",
        r2(
            F.col("n_hit").cast("double") / F.col("n_grams").cast("double"), 6
        ).alias("contamination"),
        level.alias("level"),
    )


_DATA_CARD_ORACLE = """
    WITH base AS (
        SELECT doc_id, source, lang, md5(text) AS digest,
               CAST(len(list_filter(string_split(text, ' '),
                                    t -> t <> '')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    src AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_docs FROM src),
    ent AS (
        SELECT CAST(SUM(CAST(FLOOR(
                   (CAST(s.n AS DOUBLE) / CAST(t.n_docs AS DOUBLE))
                   * LN(CAST(t.n_docs AS DOUBLE) / CAST(s.n AS DOUBLE))
                   * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS e_micro
        FROM src s CROSS JOIN tot t
    )
    SELECT t.n_docs,
           (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM base) AS n_tokens,
           (SELECT CAST(COUNT(DISTINCT digest) AS BIGINT) FROM base)
               AS n_distinct_docs,
           (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) FROM base) AS n_langs,
           (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) FROM base)
               AS n_sources,
           (SELECT min(source) FROM src
            WHERE n = (SELECT max(n) FROM src)) AS top_source,
           e.e_micro / 1000000.0 AS source_entropy_nats,
           FLOOR((SELECT CAST(SUM(n_tokens) AS BIGINT) FROM base) * 1000000.0
                 / t.n_docs + 0.5) / 1000000.0 AS mean_tokens_per_doc
    FROM tot t CROSS JOIN ent e
"""


@_register("pipeline_data_card", _DATA_CARD_ORACLE)
def pipeline_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CORPUS DATA CARD — the one-row datasheet ("Datasheets for
    Datasets", Gebru et al. 2021) a dataset release ships: document
    and token counts, distinct-content count (the exact-dup headline
    number), language and source coverage, the dominant source
    (min-name tiebreak — deterministic argmax, the agg_argmax_funcs
    discipline), source-distribution Shannon entropy (the mixture-
    balance scalar: ln|sources| = uniform, 0 = single-source), and
    mean tokens per doc. One pass over documents plus the per-source
    rollup — every count is an exact bigint; the entropy freezes each
    -p·ln p term to integer micro-units before summing (the surprisal
    discipline) and the mean is an integer-scaled floor division, so
    the whole card is hash-exact. At 100 TB this IS the release
    artifact: a single broadcast-size row whose inputs are one scan
    and two partial-agged rollups — the cheap always-on summary the
    profiling (pipeline_profile_columns) and quality
    (pipeline_quality_checks) passes sit beneath."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "source",
        "lang",
        F.md5("text").alias("digest"),
        F.size(F.filter(F.split("text", " "), lambda t: t != "")).cast(
            "long"
        ).alias("n_tokens"),
    )
    src = base.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    tot = src.agg(F.sum("n").alias("n_docs"))
    pn = F.col("n").cast("double") / F.col("n_docs").cast("double")
    term = F.floor(
        pn * F.log(F.col("n_docs").cast("double") / F.col("n").cast("double"))
        * 1000000.0
        + F.lit(0.5)
    ).cast("long")
    ent = (
        src.join(F.broadcast(tot))
        .agg(F.sum(term).alias("e_micro"))
    )
    top = (
        src.join(F.broadcast(src.agg(F.max("n").alias("maxn"))))
        .filter(F.col("n") == F.col("maxn"))
        .agg(F.min("source").alias("top_source"))
    )
    summary = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.countDistinct("digest").alias("n_distinct_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )
    return (
        summary.join(F.broadcast(top))
        .join(F.broadcast(ent))
        .select(
            "n_docs",
            "n_tokens",
            "n_distinct_docs",
            "n_langs",
            "n_sources",
            "top_source",
            (F.col("e_micro") / 1000000.0).alias("source_entropy_nats"),
            (
                F.floor(
                    F.col("n_tokens") * 1000000.0 / F.col("n_docs") + F.lit(0.5)
                )
                / 1000000.0
            ).alias("mean_tokens_per_doc"),
        )
    )


_SKEW_REPORT_ORACLE = f"""
    WITH sharded AS (
        SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shuffle'), 1, 8)
                    AS BIGINT) % {_N_SHARDS} AS shard_id,
               CAST(len(list_filter(string_split(text, ' '),
                                    t -> t <> '')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    per_shard AS (
        SELECT shard_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
        FROM sharded GROUP BY shard_id
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_shards,
               CAST(SUM(sum_tokens) AS BIGINT) AS total_tokens,
               CAST(MAX(sum_tokens) AS BIGINT) AS max_tokens,
               CAST(MIN(sum_tokens) AS BIGINT) AS min_tokens
        FROM per_shard
    )
    SELECT n_shards, total_tokens, max_tokens, min_tokens,
           FLOOR(CAST(max_tokens AS DOUBLE)
                 / (CAST(total_tokens AS DOUBLE) / CAST(n_shards AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS max_over_mean,
           max_tokens * n_shards <= 2 * total_tokens AS balanced_2x
    FROM stats
"""


@_register("pipeline_shard_skew_report", _SKEW_REPORT_ORACLE)
def pipeline_shard_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHARD-BALANCE AUDIT over the hash-shuffled training shards
    (pipeline_shuffle_shards' layout): token totals per shard,
    max/mean skew ratio, and an INTEGER-compared 2x-balance verdict
    (max·n ≤ 2·total — no float boundary can flip it). This is the QA
    gate a pipeline runs after writing shards and before a training
    job whose stragglers are exactly the overweight shards; a
    hash-sharded layout should sit near 1.0, and a ratio drifting up
    flags either a hash bug or pathological doc-length skew that
    token-capacity packing (pipeline_pack_sequences) should absorb
    instead. Plan: the shard rollup (map-side partials) then a 1-row
    stats pass — the report costs one scan regardless of corpus
    size."""
    from user_feed_cdc_spark.functions.numeric import round_half_up as r2

    docs = load_table(spark, sf_dir, "documents")
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":shuffle"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % _N_SHARDS
    )
    tokens = F.filter(F.split("text", " "), lambda t: t != "")
    per_shard = (
        docs.select(shard.alias("shard_id"), F.size(tokens).cast("long").alias("n_tokens"))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
    )
    stats = per_shard.agg(
        F.count(F.lit(1)).alias("n_shards"),
        F.sum("sum_tokens").alias("total_tokens"),
        F.max("sum_tokens").alias("max_tokens"),
        F.min("sum_tokens").alias("min_tokens"),
    )
    mean = F.col("total_tokens").cast("double") / F.col("n_shards").cast("double")
    return stats.select(
        "n_shards",
        "total_tokens",
        "max_tokens",
        "min_tokens",
        r2(F.col("max_tokens").cast("double") / mean, 6).alias("max_over_mean"),
        (
            F.col("max_tokens") * F.col("n_shards")
            <= 2 * F.col("total_tokens")
        ).alias("balanced_2x"),
    )


_TEMPERATURE_ALPHA = 0.3  # mT5/XLM-R multilingual sampling exponent

_TEMPERATURE_ORACLE = f"""
    WITH counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source
    ),
    weighted AS (
        SELECT source, n_docs,
               CAST(FLOOR(POWER(CAST(n_docs AS DOUBLE), {_TEMPERATURE_ALPHA})
                          * 1000000.0 + 0.5) AS BIGINT) AS w_micro
        FROM counts
    ),
    totals AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
               CAST(SUM(w_micro) AS BIGINT) AS z_micro
        FROM weighted
    )
    SELECT w.source, w.n_docs,
           FLOOR(CAST(w.n_docs AS DOUBLE) / CAST(t.n_total AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS share_raw,
           FLOOR(CAST(w.w_micro AS DOUBLE) / CAST(t.z_micro AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS share_temp,
           FLOOR((CAST(w.w_micro AS DOUBLE) / CAST(t.z_micro AS DOUBLE))
                 / (CAST(w.n_docs AS DOUBLE) / CAST(t.n_total AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS upsample_factor
    FROM weighted w CROSS JOIN totals t
    ORDER BY w.source
"""


@_register("pipeline_temperature_mixture", _TEMPERATURE_ORACLE)
def pipeline_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-BASED source sampling (the mT5/XLM-R multilingual
    recipe, alpha = 0.3): sampling shares proportional to n_s^alpha
    instead of n_s, which upsamples small sources and downsamples large
    ones so a corpus-dominant source cannot drown the tail. Completes
    the mixture family — uniform (source_mixture), external-weight
    (mixture_weighted), quality-banded (quality_mixture) — with the
    variant whose weights derive from the corpus counts THEMSELVES,
    i.e. the one a pipeline can compute with no tuning input. Output
    per source: raw share, temperature share, and the upsample factor
    (share_temp/share_raw — the 'epochs multiplier' a sampler applies).

    Determinism: n_s^alpha is the one genuinely transcendental value;
    it is micro-frozen to an exact BIGINT immediately (entropy/data-
    card precedent), so the normalizer Z = sum(w_micro) is an exact
    integer in both engines and every output ratio is a single fp64
    division of exact integers. Honest caveat: pow is NOT correctly
    rounded on the JVM (<=1 ulp vs glibc's exact rounding), so the
    freeze NARROWS the cross-engine exposure to the ~1-ulp-within-
    1e-6-of-a-.5-boundary case (~1e-10 per source) rather than
    eliminating it — the fully-exact alternative when weights must be
    boundary-proof is integer tickets (pipeline_weighted_sample's md5
    scheme). Scale: one map-side-combined rollup to
    |sources| rows; everything after runs on a frame the size of the
    source list, and the factors feed the same salted-hash rank select
    the other mixture entries certify."""
    from user_feed_cdc_spark.functions.numeric import round_half_up as r6

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    weighted = counts.select(
        "source",
        "n_docs",
        F.floor(
            F.pow(F.col("n_docs").cast("double"), F.lit(_TEMPERATURE_ALPHA))
            * 1000000.0
            + F.lit(0.5)
        )
        .cast("long")
        .alias("w_micro"),
    )
    totals = weighted.agg(
        F.sum("n_docs").alias("n_total"), F.sum("w_micro").alias("z_micro")
    )
    raw = F.col("n_docs").cast("double") / F.col("n_total").cast("double")
    temp = F.col("w_micro").cast("double") / F.col("z_micro").cast("double")
    return (
        weighted.join(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            r6(raw, 6).alias("share_raw"),
            r6(temp, 6).alias("share_temp"),
            r6(temp / raw, 6).alias("upsample_factor"),
        )
        .orderBy("source")
    )


_WSAMPLE_K = 60

_WSAMPLE_ORACLE = f"""
    WITH weighted AS (
        SELECT doc_id,
               CASE WHEN n_chars < 200 THEN 1
                    WHEN n_chars < 400 THEN 2
                    ELSE 3 END AS weight
        FROM documents
    ),
    tickets AS (
        SELECT doc_id, weight,
               list_min(list_transform(
                   range(weight),
                   i -> md5(CAST(doc_id AS VARCHAR) || ':wsample:'
                            || CAST(i AS VARCHAR))
               )) AS ticket
        FROM weighted
    )
    SELECT doc_id, weight, ticket
    FROM tickets
    ORDER BY ticket ASC, doc_id
    LIMIT {_WSAMPLE_K}
"""


@_register("pipeline_weighted_sample", _WSAMPLE_ORACLE)
def pipeline_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED sampling without replacement, deterministic and exact:
    each document holds `weight` lottery tickets (an integer quality
    band from length — the stand-in for any integer importance
    weight), each ticket is an md5 of (doc_id, ticket index), and the
    corpus-wide top-k BEST tickets select the sample. A doc's best
    ticket is the minimum of `weight` i.i.d. uniforms — the integer-
    weight analog of Efraimidis-Spirakis keys (u^(1/w) replaced by
    min(u_1..u_w) ~ Beta(1, w)), chosen deliberately: E-S needs a
    transcendental pow per row whose cross-engine ULP sits directly
    on the selection boundary, while md5 STRINGS compare bit-equal on
    every engine, so the certified sample is stable at any corpus
    size. Selection probability rises with weight (w tickets beat
    1 ticket), replacement-free by construction (one winning ticket
    per doc).

    Scale: a ≤3-element in-scan array per row (never exploded), then
    global top-k via TakeOrderedAndProject — no shuffle of the corpus,
    no sort; the k winners are the only rows that move. The same shape
    at 10⁹ docs, and weights can come from any integer scoring pass
    (quality bands, dedup cluster sizes, DSIR buckets)."""
    docs = load_table(spark, sf_dir, "documents")
    weight = (
        F.when(F.col("n_chars") < 200, 1)
        .when(F.col("n_chars") < 400, 2)
        .otherwise(3)
    )
    salt = lambda i: F.md5(  # noqa: E731
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit(":wsample:"),
            F.lit(str(i)),
        )
    )
    tickets = docs.select(
        "doc_id",
        weight.alias("weight"),
        F.array_min(
            F.slice(F.array(salt(0), salt(1), salt(2)), 1, weight)
        ).alias("ticket"),
    )
    return tickets.orderBy(F.col("ticket").asc(), "doc_id").limit(_WSAMPLE_K)


# ---------------------------------------------------------------------------
# Quality-score calibration (reliability diagram over fixed score bands)
# ---------------------------------------------------------------------------

_CALIB_BAND_MILLI = 25000  # 25-milli-wide score bands


_CALIBRATION_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, UNNEST(list_filter(string_split(text, ' '),
                                          t -> t <> '')) AS token
        FROM documents
    ),
    bucketed AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(token), 1, 8) AS BIGINT)
                   % {_SCORE_BUCKETS} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM toks GROUP BY 1, 2
    ),
    scored AS (
        SELECT doc_id,
               CAST(SUM(cnt * ((CAST('0x' || substr(md5('w' ||
                        CAST(bucket AS VARCHAR)), 1, 4) AS BIGINT) % 1000)
                        - 500)) AS BIGINT) AS score_num,
               CAST(SUM(cnt) AS BIGINT) AS n_tokens
        FROM bucketed GROUP BY doc_id
    ),
    milli AS (
        SELECT s.doc_id,
               CAST(FLOOR((CAST(s.score_num AS DOUBLE)
                           / CAST(s.n_tokens AS DOUBLE))
                          * 1000.0 + 0.5) AS BIGINT) AS milli_score,
               d.lang
        FROM scored s JOIN documents d ON s.doc_id = d.doc_id
    )
    SELECT CAST(FLOOR(CAST(milli_score AS DOUBLE)
                      / {_CALIB_BAND_MILLI}.0) AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS en_docs,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS en_ppm,
           CAST(MIN(milli_score) AS BIGINT) AS band_min_milli,
           CAST(MAX(milli_score) AS BIGINT) AS band_max_milli
    FROM milli
    GROUP BY 1
"""


@_register("pipeline_score_calibration", _CALIBRATION_ORACLE)
def pipeline_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELIABILITY DIAGRAM for the linear quality scorer
    (pipeline_linear_quality_score): fixed 25-milli-wide score bands ×
    the empirical rate of a reference label (lang='en', the dominant
    class this synthetic corpus offers) per band, in exact integer
    ppm. This is the standard post-training check that a filter's
    score MEANS something before it gates a 100 TB corpus — a scorer
    whose high bands don't enrich the target property is noise, and
    binning by VALUE (not by quantile) keeps the whole pass
    distributed: band assignment is a per-row projection, the curve is
    one hash aggregation — no global sort, no single-partition ntile
    (the quantile-binned variant would precompute band edges from the
    GK sketch, sketch_value_quantiles, and proceed identically).
    Determinism: milli_score = floor((score_num/n_tokens)*1000+0.5)
    on exact-integer doubles — IEEE division of representable ints is
    correctly rounded, so the band edge cannot drift between engines;
    en_ppm uses integer DIV on non-negative counts (Spark DIV
    truncates toward zero, DuckDB // floors — identical only off
    negatives, which counts never are)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", " "), lambda t: t != "")
        ).alias("token"),
    )
    bucket = F.expr(
        f"CAST(conv(substr(md5(token), 1, 8), 16, 10) AS BIGINT)"
        f" % {_SCORE_BUCKETS}"
    )
    weight = (
        F.expr(
            "CAST(conv(substr(md5(concat('w', CAST(bucket AS STRING))), 1, 4),"
            " 16, 10) AS BIGINT)"
        )
        % 1000
        - 500
    )
    counts = toks.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    scored = counts.groupBy("doc_id").agg(
        F.sum(F.col("cnt") * weight).alias("score_num"),
        F.sum("cnt").alias("n_tokens"),
    )
    milli = F.floor(
        (F.col("score_num").cast("double") / F.col("n_tokens").cast("double"))
        * 1000.0
        + F.lit(0.5)
    ).cast("long")
    labeled = scored.select("doc_id", milli.alias("milli_score")).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    band = F.floor(
        F.col("milli_score").cast("double") / F.lit(float(_CALIB_BAND_MILLI))
    ).cast("long")
    en = F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
    return labeled.groupBy(band.alias("band")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        en.alias("en_docs"),
        F.expr(
            "CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1000000"
            " DIV count(*) AS BIGINT)"
        ).alias("en_ppm"),
        F.min("milli_score").alias("band_min_milli"),
        F.max("milli_score").alias("band_max_milli"),
    )


# ---------------------------------------------------------------------------
# k-anonymity privacy audit over quasi-identifier equivalence classes
# ---------------------------------------------------------------------------

_KANON_BAND_CENTS = 200000  # $2000 account-balance bands


@_register(
    "pipeline_k_anonymity",
    f"""
    WITH qi AS (
        SELECT c_custkey, c_mktsegment, c_nationkey,
               CAST(FLOOR(CAST(CAST(FLOOR(c_acctbal * 100.0 + 0.5) AS BIGINT)
                               AS DOUBLE) / {_KANON_BAND_CENTS}.0) AS BIGINT)
                   AS bal_band
        FROM customer
    ),
    classes AS (
        SELECT c_mktsegment, c_nationkey, bal_band,
               CAST(COUNT(*) AS BIGINT) AS class_size
        FROM qi GROUP BY 1, 2, 3
    )
    SELECT CAST(SUM(class_size) AS BIGINT) AS total_users,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(class_size) AS BIGINT) AS min_class_size,
           CAST(SUM(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS classes_below_5,
           CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
               AS BIGINT) AS users_below_5,
           CAST(SUM(CASE WHEN class_size < 10 THEN 1 ELSE 0 END) AS BIGINT)
               AS classes_below_10,
           CAST(SUM(CASE WHEN class_size < 10 THEN class_size ELSE 0 END)
               AS BIGINT) AS users_below_10,
           CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
                * 1000000 // SUM(class_size) AS BIGINT) AS at_risk_ppm
    FROM classes
    """,
)
def pipeline_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY AUDIT (Sweeney 2002) — the release-gate companion to
    pipeline_pii_scrub: after scrubbing direct identifiers, the
    QUASI-identifier combination (market segment × nation × $2000
    balance band) can still single users out. A record is k-anonymous
    if its QI equivalence class holds ≥ k records; this entry reports
    the class census — total classes, the smallest class, and how many
    classes/users fall below k=5 and k=10, plus the at-risk fraction
    in exact ppm. Two hash aggregations, both with map-side partials
    (QI-tuple rollup → one summary row): scan-shaped at 100 TB, no
    join, no window — the same plan a real release pipeline runs
    nightly over the full corpus. Generalization tuning (widen bands /
    drop a QI until users_below_k hits zero) is re-running this one
    query with a different projection. Determinism: balance bands via
    floor over exact-integer-cents doubles (IEEE-exact); the ppm is
    integer DIV on non-negative sums; class_size comparisons are pure
    integers."""
    cust = load_table(spark, sf_dir, "customer")
    bal_cents = F.floor(F.col("c_acctbal") * 100.0 + F.lit(0.5)).cast("long")
    bal_band = F.floor(
        bal_cents.cast("double") / F.lit(float(_KANON_BAND_CENTS))
    ).cast("long")
    classes = cust.groupBy(
        "c_mktsegment", "c_nationkey", bal_band.alias("bal_band")
    ).agg(F.count(F.lit(1)).alias("class_size"))
    below = lambda k: F.sum(  # noqa: E731
        F.when(F.col("class_size") < k, 1).otherwise(0)
    )
    users_below = lambda k: F.sum(  # noqa: E731
        F.when(F.col("class_size") < k, F.col("class_size")).otherwise(0)
    )
    return classes.agg(
        F.sum("class_size").alias("total_users"),
        F.count(F.lit(1)).alias("n_classes"),
        F.min("class_size").alias("min_class_size"),
        below(5).alias("classes_below_5"),
        users_below(5).alias("users_below_5"),
        below(10).alias("classes_below_10"),
        users_below(10).alias("users_below_10"),
        F.expr(
            "CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)"
            " * 1000000 DIV sum(class_size) AS BIGINT)"
        ).alias("at_risk_ppm"),
    )


# ---------------------------------------------------------------------------
# Blocklist content filter (C4-style badwords gate)
# ---------------------------------------------------------------------------

_BLOCKLIST = ("slow", "dup", "big")  # stand-in badwords present in the corpus
_BLOCK_RATE_PCT = 5  # drop when blocked tokens reach 5% of the doc


@_register(
    "pipeline_blocklist_filter",
    f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS tk
        FROM documents
    )
    SELECT doc_id,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(tk,
                t -> list_contains({list(_BLOCKLIST)!r}, t))) AS BIGINT)
               AS blocked_hits,
           CAST(len(list_distinct(list_filter(tk,
                t -> list_contains({list(_BLOCKLIST)!r}, t)))) AS BIGINT)
               AS blocked_terms,
           len(tk) > 0 AND
           CAST(len(list_filter(tk,
                t -> list_contains({list(_BLOCKLIST)!r}, t))) AS BIGINT) * 100
               < {_BLOCK_RATE_PCT} * CAST(len(tk) AS BIGINT) AS keep
    FROM toks
    """,
)
def pipeline_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOCKLIST content gate — the C4 'badwords' stage (Raffel et al.
    2020 dropped any page containing a blocklisted word; Dolma and
    RefinedWeb use rate thresholds like this one): per doc, total
    tokens, blocked-token hits, distinct blocked terms, and a keep
    verdict at a 5% hit-rate threshold compared in pure integers
    (hits·100 < rate·n_tokens — no float rate on the boundary; empty
    docs are dropped explicitly). The whole stage is ONE scan-stage
    projection over the token array — no explode, no shuffle, nothing
    resident: higher-order filters evaluate the (tiny, broadcast-free
    literal) blocklist per token inside whole-stage codegen. At 100 TB
    a real 400-word blocklist is still a literal array (or a bloom
    filter for 10^5+ terms — sketch_bloom_prefilter is that plan);
    word-boundary tokenization already happened, so this composes
    behind the same toks frame every other text stage shares."""
    docs = load_table(spark, sf_dir, "documents")
    tk = F.filter(F.split("text", " "), lambda t: t != "")
    blocked = F.filter(tk, lambda t: t.isin(*_BLOCKLIST))
    n_tokens = F.size(tk).cast("long")
    hits = F.size(blocked).cast("long")
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        hits.alias("blocked_hits"),
        F.size(F.array_distinct(blocked)).cast("long").alias("blocked_terms"),
        ((n_tokens > 0) & (hits * 100 < _BLOCK_RATE_PCT * n_tokens)).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Token-budget allocation with epoch caps (water-filling mixture solve)
# ---------------------------------------------------------------------------

_EPOCH_CAP = 4          # no source may repeat more than 4 epochs
_BUDGET_X = 3           # training budget = 3x the corpus token count

_TOKEN_BUDGET_ORACLE = f"""
    WITH tok AS (
        SELECT source,
               CAST(SUM(len(list_filter(string_split(text, ' '),
                                        t -> t <> ''))) AS BIGINT) AS tokens
        FROM documents GROUP BY source
    ),
    wt AS (
        SELECT source, tokens,
               CAST(1 + CAST('0x' || substr(md5(source), 1, 2) AS BIGINT) % 4
                    AS BIGINT) AS w,
               CAST({_EPOCH_CAP} * tokens AS BIGINT) AS cap_tokens
        FROM tok
    ),
    tot AS (
        SELECT CAST({_BUDGET_X} * SUM(tokens) AS BIGINT) AS budget,
               CAST(SUM(w) AS BIGINT) AS w_total
        FROM wt
    ),
    ordered AS (
        SELECT wt.*, t.budget, t.w_total,
               COALESCE(SUM(cap_tokens) OVER (
                   ORDER BY cap_tokens * 1000000 // w, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cum_cap,
               COALESCE(SUM(w) OVER (
                   ORDER BY cap_tokens * 1000000 // w, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cum_w
        FROM wt, tot t
    ),
    flagged AS (
        SELECT *,
               CASE WHEN cap_tokens * (w_total - cum_w)
                         <= w * (budget - cum_cap)
                    THEN 1 ELSE 0 END AS capped
        FROM ordered
    ),
    lam AS (
        SELECT CAST(ANY_VALUE(budget)
                    - COALESCE(SUM(CASE WHEN capped = 1
                                        THEN cap_tokens END), 0)
                    AS BIGINT) AS nc,
               CAST(ANY_VALUE(w_total)
                    - COALESCE(SUM(CASE WHEN capped = 1 THEN w END), 0)
                    AS BIGINT) AS nd
        FROM flagged
    )
    SELECT source, w, tokens, cap_tokens,
           CAST(capped AS BIGINT) AS capped,
           CAST(CASE WHEN capped = 1 THEN cap_tokens
                     ELSE nc * w // nd END AS BIGINT) AS alloc_tokens,
           CAST(CASE WHEN capped = 1 THEN cap_tokens
                     ELSE nc * w // nd END * 1000000 // tokens
                AS BIGINT) AS epochs_ppm
    FROM flagged, lam
"""


@_register("pipeline_token_budget_epochs", _TOKEN_BUDGET_ORACLE)
def pipeline_token_budget_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-capped token-budget allocation — the WATER-FILLING solve
    behind every published LLM data recipe that names per-source
    mixture weights plus a max-repeat rule (e.g. the Pile's epoch
    factors, LLaMA's sampling proportions): given a training budget of
    {_BUDGET_X}x the corpus, per-source desired weights w (here a
    deterministic md5-derived 1..4 stand-in for the exogenous recipe
    table), and a hard cap of {_EPOCH_CAP} epochs per source, allocate
    alloc_s = min(cap_s, lambda*w_s) with lambda set so the total
    exactly spends the budget. The greedy/KKT solution is CLOSED-FORM
    once sources are sorted by cap/w: the capped set is a prefix, and
    row j is capped iff cap_j*(W - cumW_{{j-1}}) <= w_j*(B - cumC_{{j-1}})
    — one window over EXCLUSIVE prefix sums, every comparison
    cross-multiplied bigint (no division until the final per-source
    quotient, emitted as integer tokens and exact ppm epochs). Scale:
    ONE (source, token-count) shuffle over the corpus, materialized
    (localCheckpoint) so the four solve legs never re-touch the scan
    (plan-gated); the solve itself runs on |sources| rows — a window ordered by an integer
    ratio key plus two 1-row broadcast scalars (whitelisted) — so the
    allocation is the same O(corpus scan) at 100 TB, where this
    decides what a 10^6-GPU-hour run actually reads. Uncapped-set
    contiguity: if row j is uncapped then lambda only decreases for
    j+1 while its ratio grows, so the per-row prefix test IS the
    sequential algorithm (pinned by pytest identities)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "source",
            F.size(F.filter(F.split("text", " "), lambda t: t != ""))
            .cast("long")
            .alias("n"),
        )
        .groupBy("source")
        .agg(F.sum("n").alias("tokens"))
    )
    wt = tok.select(
        "source",
        "tokens",
        (
            F.lit(1)
            + F.conv(F.substring(F.md5("source"), 1, 2), 16, 10).cast("long") % 4
        ).cast("long").alias("w"),
        (F.lit(_EPOCH_CAP) * F.col("tokens")).cast("long").alias("cap_tokens"),
        # The solve fans this frame into four plan legs (rows, budget
        # scalar, capped flags, lambda scalar); materializing the
        # |sources|-row rollup here keeps the corpus scan at exactly
        # ONE regardless of how many legs read it (plan-gated).
    ).localCheckpoint(eager=True)
    tot = wt.agg(
        (F.lit(_BUDGET_X) * F.sum("tokens")).cast("long").alias("budget"),
        F.sum("w").cast("long").alias("w_total"),
    )
    win = (
        W.orderBy(F.expr("cap_tokens * 1000000 DIV w"), "source")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = (
        wt.crossJoin(F.broadcast(tot))
        .withColumn("cum_cap", F.coalesce(F.sum("cap_tokens").over(win), F.lit(0)))
        .withColumn("cum_w", F.coalesce(F.sum("w").over(win), F.lit(0)))
        .withColumn(
            "capped",
            F.when(
                F.col("cap_tokens") * (F.col("w_total") - F.col("cum_w"))
                <= F.col("w") * (F.col("budget") - F.col("cum_cap")),
                1,
            ).otherwise(0).cast("long"),
        )
    )
    lam = flagged.agg(
        (
            F.any_value("budget")
            - F.coalesce(
                F.sum(F.when(F.col("capped") == 1, F.col("cap_tokens"))), F.lit(0)
            )
        ).cast("long").alias("nc"),
        (
            F.any_value("w_total")
            - F.coalesce(F.sum(F.when(F.col("capped") == 1, F.col("w"))), F.lit(0))
        ).cast("long").alias("nd"),
    )
    alloc = F.when(F.col("capped") == 1, F.col("cap_tokens")).otherwise(
        F.expr("nc * w DIV nd")
    )
    return flagged.crossJoin(F.broadcast(lam)).select(
        "source", "w", "tokens", "cap_tokens", "capped",
        alloc.cast("long").alias("alloc_tokens"),
        F.expr(
            "CAST(CASE WHEN capped = 1 THEN cap_tokens"
            " ELSE nc * w DIV nd END * 1000000 DIV tokens AS BIGINT)"
        ).alias("epochs_ppm"),
    )


_MM_FUNNEL_ORACLE = """
    WITH m AS (
        SELECT doc_id,
               ascii(substr(text, 1, 1)) AS v0,
               ascii(substr(text,
                     CAST((1 % length(text)) + 1 AS INT), 1)) AS v1
        FROM documents
        WHERE doc_id % 3 = 2 AND length(text) >= 1
    ),
    moving AS (  -- quality gate: static clips (v0 = v1) are dropped
        SELECT * FROM m WHERE v0 <> v1
    ),
    reps AS (
        SELECT v0, v1,
               MIN(doc_id) AS doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_dups
        FROM moving GROUP BY v0, v1
    )
    SELECT doc_id,
           CAST(v0 AS BIGINT) AS v_first,
           CAST(v1 AS BIGINT) AS v_changed,
           n_dups
    FROM reps
"""


@_register("pipeline_multimodal_funnel", _MM_FUNNEL_ORACLE)
def pipeline_multimodal_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIMODAL curation funnel — decode → quality-gate → near-dup
    collapse → representative selection as ONE certified plan, tying
    the media codec tier into the corpus-pipeline story (the video
    sibling of pipeline_training_funnel): every video doc's RLE8 AVI
    is DECODED (real inter-frame reconstruction, decode_avi_rle8), a
    quality gate drops STATIC clips (no pixel changed between frames —
    the video analogue of boilerplate filtering), duplicates collapse
    on a content fingerprint EXTRACTED FROM THE DECODED FRAMES (the
    (first-pixel, changed-pixel) pair — if the decoder misread either
    frame, docs land in wrong groups and both the grouping and the
    counts hash-diverge), and each group keeps its min-doc_id
    representative with the collapse count — the deterministic
    output a reproducible corpus build needs.

    The oracle derives the same funnel from the doc text (the fixture
    generator's source of truth), so the certified claim is END TO
    END: encode → container → inter-frame decode → pixel extraction →
    filter → dedup agree with the symbolic prediction for every doc.
    Scale: decode is the narrow Arrow stage every media entry uses;
    the funnel then shuffles only (fingerprint, doc_id) pairs — the
    dedup family's 16-byte-key posture — and one groupBy produces the
    survivors; each stage shrinks what the next pays for."""
    import pandas as pd

    from collections.abc import Iterator as _It

    from user_feed_cdc_spark.operators.multimodal import (
        DECODE_FALLBACK_ERRORS,
        RLE8_DEMO_PROBE,
        ascii_seed,
        decode_avi_rle8,
        rle8_demo_avi,
    )
    from user_feed_cdc_spark.sources.tables import fan_out

    docs = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 3 == 2) & (F.length("text") >= 1)
    )

    def build(it: "_It[pd.DataFrame]") -> "_It[pd.DataFrame]":
        cache: dict[tuple[int, int], bytes] = {}

        def avi_of(v0: int, v1: int) -> bytes:
            if (v0, v1) not in cache:
                cache[(v0, v1)] = rle8_demo_avi(v0, v1)
            return cache[(v0, v1)]

        for pdf in it:
            payloads = []
            for text in pdf["text"]:
                raw = ascii_seed(text)
                payloads.append(avi_of(raw[0], raw[1 % len(raw)]))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    mm = docs.select("doc_id", "text").mapInPandas(
        build, "doc_id long, payload binary"
    )

    def decode(it: "_It[pd.DataFrame]") -> "_It[pd.DataFrame]":
        for pdf in it:
            out = {
                "doc_id": pdf["doc_id"], "v_first": [], "v_changed": [],
                "moving": [],
            }
            for payload in pdf["payload"]:
                try:
                    _w, _h, _fps, frames = decode_avi_rle8(bytes(payload))
                    f0, f1 = frames[0], frames[1]
                    out["v_first"].append(f1[0])
                    out["v_changed"].append(f1[RLE8_DEMO_PROBE])
                    out["moving"].append(f0 != f1)
                except DECODE_FALLBACK_ERRORS:
                    out["v_first"].append(-1)
                    out["v_changed"].append(-1)
                    out["moving"].append(False)
            yield pd.DataFrame(out)

    decoded = fan_out(mm, min_parallelism=8).mapInPandas(
        decode, "doc_id long, v_first long, v_changed long, moving boolean"
    )
    return (
        decoded.filter(F.col("moving"))
        .groupBy("v_first", "v_changed")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .select("doc_id", "v_first", "v_changed", "n_dups")
    )


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021 §A1.1 — the canonical rule-based
# document filter every web-corpus pipeline implements)
# ---------------------------------------------------------------------------

_GOPHER_ORACLE = """
    WITH raw AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN '- ' ELSE '' END
               || text
               || CASE WHEN doc_id % 4 = 1
                       THEN chr(10) || 'and so on...' ELSE '' END
               || CASE WHEN doc_id % 5 = 2 THEN ' ##' ELSE '' END AS t
        FROM documents
    ),
    feats AS (
        SELECT doc_id, t,
               list_filter(string_split_regex(t, '[ \n]+'),
                           w -> w <> '') AS words,
               string_split(t, chr(10)) AS lines
        FROM raw
    ),
    stats AS (
        SELECT doc_id,
               CAST(len(words) AS BIGINT) AS n_words,
               CAST(list_sum(list_transform(words, w -> length(w)))
                    * 1000 // len(words) AS BIGINT) AS mean_len_milli,
               CAST((length(t) - length(replace(t, '#', '')))
                    * 1000 // len(words) AS BIGINT) AS symbol_milli,
               CAST(len(list_filter(lines, l -> l LIKE '- %'))
                    * 1000 // len(lines) AS BIGINT) AS bullet_milli,
               CAST(len(list_filter(lines, l -> l LIKE '%...'))
                    * 1000 // len(lines) AS BIGINT) AS ellipsis_milli,
               CAST(len(list_filter(
                   ['the','be','to','of','and','that','have','with'],
                   s -> list_contains(words, s))) AS BIGINT) AS n_stop
        FROM feats
    )
    SELECT doc_id, n_words, mean_len_milli, symbol_milli, bullet_milli,
           ellipsis_milli, n_stop,
           (n_words BETWEEN 50 AND 100000)
               AND (mean_len_milli BETWEEN 3000 AND 10000)
               AND symbol_milli < 100
               AND bullet_milli <= 900
               AND ellipsis_milli <= 300
               AND n_stop >= 2 AS keep
    FROM stats
"""


@_register("pipeline_gopher_rules", _GOPHER_ORACLE)
def pipeline_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOPHER RULES — the canonical rule-based quality filter (Rae et
    al. 2021 §A1.1, reused by MassiveText/RefinedWeb/Dolma): word
    count in [50, 100k], mean word length in [3, 10], symbol-to-word
    ratio < 0.1, <=90% of lines bullet-led, <=30% ellipsis-terminated,
    and >=2 distinct English stopwords present. The corpus's word
    counts (10-99) and stopword-bearing vocabulary split every rule
    naturally; a deterministic doc_id-keyed envelope (bullet prefix,
    ellipsis line, symbol tail — mirrored verbatim in the oracle)
    exercises the line- and symbol-rules the plain soup cannot. Every
    ratio is frozen to integer milli-units (x*1000 DIV n) before
    comparison so each rule verdict — and the conjunctive keep — is
    engine-exact under the hash gate.

    Scale: one narrow projection pass — split/aggregate/filter all in
    whole-stage codegen, no shuffle, no Python; the embarrassingly
    parallel shape every rule-based corpus gate has at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit("- ")).otherwise(F.lit("")),
        F.col("text"),
        F.when(F.col("doc_id") % 4 == 1, F.lit("\nand so on..."))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 2, F.lit(" ##")).otherwise(F.lit("")),
    )
    feats = docs.select(
        "doc_id",
        raw.alias("t"),
        F.filter(
            F.split(raw, "[ \n]+"), lambda w: w != F.lit("")
        ).alias("words"),
        F.split(raw, "\n").alias("lines"),
    )
    stops = F.array(
        *[
            F.lit(s)
            for s in ("the", "be", "to", "of", "and", "that", "have",
                      "with")
        ]
    )
    stats = feats.select(
        "doc_id",
        F.size("words").cast("long").alias("n_words"),
        F.expr(
            "aggregate(transform(words, w -> length(w)), 0L,"
            " (a, x) -> a + x) * 1000 DIV size(words)"
        ).alias("mean_len_milli"),
        F.expr(
            "(length(t) - length(replace(t, '#', ''))) * 1000"
            " DIV size(words)"
        ).alias("symbol_milli"),
        F.expr(
            "size(filter(lines, l -> l LIKE '- %')) * 1000"
            " DIV size(lines)"
        ).alias("bullet_milli"),
        F.expr(
            "size(filter(lines, l -> l LIKE '%...')) * 1000"
            " DIV size(lines)"
        ).alias("ellipsis_milli"),
        F.size(
            F.filter(stops, lambda s: F.array_contains("words", s))
        )
        .cast("long")
        .alias("n_stop"),
    )
    return stats.select(
        "doc_id", "n_words", "mean_len_milli", "symbol_milli",
        "bullet_milli", "ellipsis_milli", "n_stop",
        (
            F.col("n_words").between(50, 100000)
            & F.col("mean_len_milli").between(3000, 10000)
            & (F.col("symbol_milli") < 100)
            & (F.col("bullet_milli") <= 900)
            & (F.col("ellipsis_milli") <= 300)
            & (F.col("n_stop") >= 2)
        ).alias("keep"),
    )


_OBSERVED_METRICS_ORACLE = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_short,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_non_en,
           CAST(SUM(CASE WHEN n_chars >= 100 AND lang = 'en'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents
"""


@_register("pipeline_observed_metrics", _OBSERVED_METRICS_ORACLE)
def pipeline_observed_metrics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Data-quality counters VIA `observe()` — metrics collected on a
    pass the pipeline already pays for (Spark's Observation API /
    CollectMetrics node), the production alternative to running a
    second aggregation job over the corpus just to fill a dashboard.
    The observe node attaches BEFORE the keep-filter, so it sees every
    document exactly once while the filter does its real work
    downstream — corpus size, short-doc and non-English counts, total
    chars, and the kept count all materialize as a side effect of one
    action, then certify against the oracle running the equivalent
    stand-alone aggregate. A metric miscounted by filter pushdown
    reordering (the classic observe() hazard — Spark guarantees
    CollectMetrics is a barrier the optimizer cannot push a filter
    through) moves the hash.

    At 100 TB this is strictly better than metrics-as-a-second-query:
    zero extra scans, map-side-combined accumulation riding the
    existing exchange-free projection, driver receives ONE row."""
    from pyspark.sql import Observation

    obs = Observation("corpus_quality")
    docs = load_table(spark, sf_dir, "documents").observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_chars") < 100).cast("long")).alias("n_short"),
        F.sum("n_chars").alias("total_chars"),
        F.sum((F.col("lang") != "en").cast("long")).alias("n_non_en"),
        F.sum(
            ((F.col("n_chars") >= 100) & (F.col("lang") == "en"))
            .cast("long")
        ).alias("n_kept"),
    )
    kept = docs.filter((F.col("n_chars") >= 100) & (F.col("lang") == "en"))
    n_kept_action = kept.count()  # the real pass; metrics ride it
    got = obs.get
    if got["n_kept"] != n_kept_action:
        raise ValueError(
            f"observe() disagrees with the action it rode: "
            f"{got['n_kept']} vs {n_kept_action}"
        )
    return spark.createDataFrame(
        [
            (
                got["n_docs"],
                got["n_short"],
                got["total_chars"],
                got["n_non_en"],
                got["n_kept"],
            )
        ],
        "n_docs long, n_short long, total_chars long, n_non_en long, "
        "n_kept long",
    )


_CCNET_ORACLE = """
    WITH toks AS (
        SELECT doc_id, source,
               list_filter(string_split(text, ' '), t -> t <> '') AS tk
        FROM documents
    ),
    bis AS (
        SELECT doc_id, source,
               UNNEST(list_transform(
                   range(1, len(tk)),
                   i -> tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1]
               )) AS bigram
        FROM toks
    ),
    ref AS (
        SELECT bigram FROM bis
        WHERE source IN ('src0', 'src1', 'src2', 'src3')
    ),
    bi_freq AS (SELECT bigram, COUNT(*) AS cnt FROM ref GROUP BY bigram),
    head_freq AS (
        SELECT string_split(bigram, ' ')[1] AS head, COUNT(*) AS hcnt
        FROM ref GROUP BY head
    ),
    vocab AS (
        SELECT COUNT(DISTINCT string_split(bigram, ' ')[2]) AS v FROM ref
    ),
    scored AS (
        SELECT b.doc_id,
               FLOOR(LN((COALESCE(h.hcnt, 0) + v.v) * 1.0
                        / (COALESCE(f.cnt, 0) + 1)) * 1000000.0 + 0.5)
                   AS s_int
        FROM bis b
        LEFT JOIN bi_freq f USING (bigram)
        LEFT JOIN head_freq h
          ON string_split(b.bigram, ' ')[1] = h.head
        CROSS JOIN vocab v
    ),
    docscore AS (
        SELECT doc_id, COUNT(*) AS n_bigrams,
               CAST(SUM(s_int) AS BIGINT) // COUNT(*) AS score_micro
        FROM scored GROUP BY doc_id
    ),
    ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (ORDER BY score_micro, doc_id) AS r,
               (SELECT COUNT(*) FROM docscore) AS n
        FROM docscore
    )
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           CAST(score_micro AS BIGINT) AS score_micro,
           CASE WHEN 3 * (r - 1) < n THEN 'head'
                WHEN 3 * (r - 1) < 2 * n THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM ranked
"""


@_register("pipeline_ccnet_buckets", _CCNET_ORACLE)
def pipeline_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity bucketing (Wenzek et al. 2020) — the quality
    tiering behind CCNet/RedPajama Common Crawl curation: train a
    bigram LM on a REFERENCE corpus (sources src0-src3, the Wikipedia
    stand-in), score EVERY document's out-of-domain surprisal under
    it, and split the corpus into head/middle/tail perplexity
    tertiles (head+middle is what trains; tail is noise). Unlike
    text_bigram_surprisal (self-trained, every bigram seen), scoring
    foreign docs hits UNSEEN bigrams and heads, so the LM is
    Laplace-smoothed: s = ln((hcnt + V) / (cnt + 1)) with V the
    reference vocabulary — exactly defined on both engines, >= 0
    always.

    Cross-engine float contract: each bigram's smoothed surprisal is
    frozen to an integer micro before any accumulation; the per-doc
    score is an exact bigint floor-division (sum DIV n) — no float
    leaves a single row. Tertile assignment is integer
    cross-multiplication (3*(rank-1) < n) over a deterministic
    (score, doc_id) total order.

    Scale: the LM tables are vocabulary-sized groupBys (broadcast
    side at 100 TB); the corpus streams ONCE through two hash joins;
    V rides a 1-row broadcast. The tertile rank uses the two-level
    band-offset decomposition certified by pipeline_curriculum_order
    (r15 VERDICT finding 1 closed): docs band by fixed-width
    score_micro strata (width 10_000 micro-nats, so the band table is
    bounded by the surprisal RANGE — ceil(ln(V+|ref|)·1e6/1e4) ≈ a
    few thousand rows at ANY corpus size, never by |docs|); per-band
    counts turn into cumulative offsets via a running sum over that
    tiny aggregate and broadcast back; the rank is band_offset +
    within-band row_number, partitioned by band so no doc row ever
    crosses a single-partition window. Band is monotone in
    score_micro, so (band, score_micro, doc_id) reproduces the
    (score_micro, doc_id) total order bit-for-bit — hash unchanged
    vs the naive global window the oracle runs. Plan-gated in
    tests/test_plans.py: the row_number window must carry a
    partition spec."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    tokens = F.filter(F.split("text", " "), lambda t: t != "")
    bigrams = F.expr(
        "zip_with(slice(tk, 1, greatest(size(tk) - 1, 0)), "
        "slice(tk, 2, greatest(size(tk) - 1, 0)), "
        "(a, b) -> concat(a, ' ', b))"
    )
    bis = (
        docs.select("doc_id", "source", tokens.alias("tk"))
        .select(
            "doc_id", "source", F.explode_outer(bigrams).alias("bigram")
        )
        .filter(F.col("bigram").isNotNull())
    )
    ref = bis.filter(
        F.col("source").isin("src0", "src1", "src2", "src3")
    ).select("bigram")
    bi_freq = ref.groupBy("bigram").agg(F.count(F.lit(1)).alias("cnt"))
    head_of = F.substring_index("bigram", " ", 1)
    head_freq = ref.groupBy(head_of.alias("head")).agg(
        F.count(F.lit(1)).alias("hcnt")
    )
    vocab = F.broadcast(
        ref.select(
            F.substring_index("bigram", " ", -1).alias("w2")
        ).agg(F.countDistinct("w2").alias("v"))
    )
    scored = (
        bis.join(bi_freq, "bigram", "left")
        .withColumn("head", head_of)
        .join(F.broadcast(head_freq), "head", "left")
        .crossJoin(vocab)
        .withColumn(
            "s_int",
            F.floor(
                F.log(
                    (F.coalesce(F.col("hcnt"), F.lit(0)) + F.col("v"))
                    * F.lit(1.0)
                    / (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1))
                )
                * F.lit(1000000.0)
                + F.lit(0.5)
            ),
        )
    )
    # Doc-level LM scores are |docs| rows × 4 ints — the scan-side
    # work (bigram explode + two LM joins) must run ONCE, not once
    # per consumer (rank input, band counts): cut lineage the same
    # way dedup's clustering loop does (a reliable checkpoint on a
    # real cluster).
    docscore = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("s_int").alias("sum_s"),
    ).withColumn(
        "score_micro", F.expr("sum_s DIV n_bigrams")
    ).localCheckpoint(eager=False)
    banded = docscore.withColumn(
        "band", F.expr("score_micro DIV 10000")
    )
    bandcounts = banded.groupBy("band").agg(
        F.count(F.lit(1)).alias("bn")
    )
    # |docs| rides out of the same tiny band aggregate — no third
    # pass over the corpus for a COUNT(*).
    n_total = F.broadcast(bandcounts.agg(F.sum("bn").alias("n")))
    offsets = (
        bandcounts
        .withColumn(
            "band_offset",
            F.coalesce(
                F.sum("bn").over(
                    W.orderBy("band").rowsBetween(
                        W.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("band", "band_offset")
    )
    r = F.col("band_offset") + F.row_number().over(
        W.partitionBy("band").orderBy("score_micro", "doc_id")
    )
    return (
        banded.join(F.broadcast(offsets), "band")
        .crossJoin(n_total)
        .withColumn("r", r)
        .select(
            "doc_id",
            "n_bigrams",
            "score_micro",
            F.when(3 * (F.col("r") - 1) < F.col("n"), "head")
            .when(3 * (F.col("r") - 1) < 2 * F.col("n"), "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )


_LUHN_ORACLE = """
    WITH cands AS (
        SELECT doc_id,
               regexp_extract(
                   text || ' card ' ||
                   lpad(CAST((doc_id * 7919) % 1000000000000000
                             AS VARCHAR), 15, '0') ||
                   CAST(doc_id % 10 AS VARCHAR) || ' thanks',
                   '[0-9]{16}') AS ccn
        FROM documents
    ),
    summed AS (
        SELECT doc_id, ccn,
               CAST(list_sum(list_transform(range(0, 16), i ->
                   CASE WHEN i % 2 = 0
                        THEN CAST(substr(ccn, CAST(16 - i AS INT), 1)
                                  AS INT)
                        ELSE CASE
                            WHEN 2 * CAST(substr(ccn,
                                     CAST(16 - i AS INT), 1) AS INT) > 9
                            THEN 2 * CAST(substr(ccn,
                                     CAST(16 - i AS INT), 1) AS INT) - 9
                            ELSE 2 * CAST(substr(ccn,
                                     CAST(16 - i AS INT), 1) AS INT)
                        END
                   END)) AS BIGINT) AS luhn_sum
        FROM cands
    )
    SELECT doc_id, ccn, luhn_sum, luhn_sum % 10 = 0 AS luhn_valid
    FROM summed
"""


@_register("pipeline_luhn_ccn_filter", _LUHN_ORACLE)
def pipeline_luhn_ccn_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Luhn-VALIDATED credit-card detection — the false-positive cut
    every production PII scrubber layers on top of the regex pass
    (pipeline_pii_scrub's sibling): a bare `[0-9]{16}` matches order
    ids, hashes, and timestamps, so candidates are validated with the
    Luhn mod-10 checksum (ISO/IEC 7812) and only checksum-passing
    spans are treated as card numbers. The fixture embeds one
    deterministic doc_id-derived 16-digit candidate per document
    (roughly one in ten passes Luhn, exactly as synthesized ids
    mostly shouldn't); the entry runs the regex extraction and the
    checksum — a per-position doubled-digit fold written as the SAME
    higher-order aggregate on both engines, pure integers end to end,
    no float anywhere.

    Plan: one scan-stage projection (regexp + a 16-step codegen'd
    fold), zero shuffles, zero Python — the embarrassingly parallel
    shape of every content gate; at 100 TB the Luhn fold costs less
    than the regex that feeds it."""
    docs = load_table(spark, sf_dir, "documents")
    ccn_lit = F.concat(
        F.lpad(
            ((F.col("doc_id") * 7919) % F.lit(10**15)).cast("string"),
            15,
            "0",
        ),
        (F.col("doc_id") % 10).cast("string"),
    )
    aug = F.concat(
        F.col("text"), F.lit(" card "), ccn_lit, F.lit(" thanks")
    )
    cands = docs.select(
        "doc_id",
        F.regexp_extract(aug, "[0-9]{16}", 0).alias("ccn"),
    )
    luhn = F.expr(
        "CAST(aggregate(sequence(0, 15), 0, (acc, i) -> acc + "
        "CASE WHEN i % 2 = 0 "
        "THEN CAST(substring(ccn, 16 - i, 1) AS INT) "
        "ELSE CASE WHEN 2 * CAST(substring(ccn, 16 - i, 1) AS INT) > 9 "
        "THEN 2 * CAST(substring(ccn, 16 - i, 1) AS INT) - 9 "
        "ELSE 2 * CAST(substring(ccn, 16 - i, 1) AS INT) END END"
        ") AS BIGINT)"
    )
    return cands.select(
        "doc_id",
        "ccn",
        luhn.alias("luhn_sum"),
        (luhn % 10 == 0).alias("luhn_valid"),
    )
