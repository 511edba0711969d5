"""Text-analysis operators over the `documents` table (SURVEY.md §2.3 E4
+ north-star text analysis: token counting, language-ID heuristic, quality
scoring, document fingerprinting).

All JVM-side: split/explode/higher-order array functions — zero Python
UDFs. At 100 TB the explode-then-groupBy token count is the classic
word-count shuffle; partial aggregation keeps the shuffle proportional
to distinct tokens per partition, not total tokens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from user_feed_cdc_spark.functions.numeric import round_half_up as r2
from user_feed_cdc_spark.registry import registry
from user_feed_cdc_spark.sources.tables import fan_out, load_table

QUERIES, ORACLES, _register = registry()


# Tiny deterministic stopword lists for the heuristic scorers (public
# common-word lists; the point is the operator shape, not linguistics).
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
ES_STOPWORDS = ("el", "la", "de", "y", "que", "en", "un", "es")


def _sql_list(words) -> str:
    return ", ".join(f"'{w}'" for w in words)


@_register(
    "text_token_counts",
    """
    SELECT token, COUNT(*) AS n
    FROM (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 50
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token frequency, top 50 (deterministic tiebreak on token)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(50)
    )


@_register(
    "text_doc_stats",
    """
    SELECT doc_id, lang, source, n_chars,
           len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
           CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS token_estimate,
           len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS n_unique_tokens
    FROM documents
    """,
)
def text_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics: whitespace token count, a BPE-ish
    chars/4 token estimate, unique-token count. Pure array functions —
    no shuffle at all (narrow transform over the scan)."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = F.filter(F.split("text", " "), lambda t: t != "")
    return docs.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.size(tokens).alias("n_tokens"),
        F.ceil(F.length("text") / 4.0).alias("token_estimate"),
        F.size(F.array_distinct(tokens)).alias("n_unique_tokens"),
    )


@_register(
    "text_quality_scores",
    f"""
    SELECT doc_id,
           n_tokens,
           FLOOR((stop_hits * 1.0 / n_tokens) * 1000000.0 + 0.5) / 1000000.0 AS stopword_ratio,
           FLOOR(((LENGTH(text) - n_tokens + 1) * 1.0 / n_tokens) * 1000000.0 + 0.5) / 1000000.0 AS avg_token_len,
           CASE WHEN n_tokens >= 20 AND stop_hits * 1.0 / n_tokens < 0.5
                THEN 1 ELSE 0 END AS quality_pass
    FROM (
        SELECT doc_id, text,
               len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
               len(list_filter(string_split(text, ' '),
                               t -> t IN ({_sql_list(EN_STOPWORDS)}))) AS stop_hits
        FROM documents
    )
    WHERE n_tokens > 0
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: stopword ratio, mean token length,
    length gate — the standard pre-training corpus filters."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = F.filter(F.split("text", " "), lambda t: t != "")
    stop_hits = F.size(F.filter(tokens, lambda t: t.isin(*EN_STOPWORDS)))
    base = docs.select(
        "doc_id",
        "text",
        F.size(tokens).alias("n_tokens"),
        stop_hits.alias("stop_hits"),
    ).filter(F.col("n_tokens") > 0)
    stop_ratio = F.col("stop_hits") / F.col("n_tokens")
    return base.select(
        "doc_id",
        "n_tokens",
        r2(stop_ratio, 6).alias("stopword_ratio"),
        r2(
            (F.length("text") - F.col("n_tokens") + 1) / F.col("n_tokens"), 6
        ).alias("avg_token_len"),
        F.when((F.col("n_tokens") >= 20) & (stop_ratio < 0.5), 1)
        .otherwise(0)
        .alias("quality_pass"),
    )


@_register(
    "text_lang_id",
    f"""
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN en_hits > es_hits THEN 'en'
                WHEN es_hits > en_hits THEN 'es'
                ELSE 'unknown' END AS lang_guess
    FROM (
        SELECT doc_id, lang,
               len(list_filter(string_split(text, ' '),
                               t -> t IN ({_sql_list(EN_STOPWORDS)}))) AS en_hits,
               len(list_filter(string_split(text, ' '),
                               t -> t IN ({_sql_list(ES_STOPWORDS)}))) AS es_hits
        FROM documents
    )
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language-ID heuristic (n-gram-free variant; the operator
    shape generalizes to per-language n-gram profiles)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    en_hits = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    es_hits = F.size(F.filter(toks, lambda t: t.isin(*ES_STOPWORDS)))
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        en_hits.alias("en_hits"),
        es_hits.alias("es_hits"),
    ).select(
        "doc_id",
        "labeled_lang",
        F.when(F.col("en_hits") > F.col("es_hits"), "en")
        .when(F.col("es_hits") > F.col("en_hits"), "es")
        .otherwise("unknown")
        .alias("lang_guess"),
    )


@_register(
    "text_fingerprints",
    """
    SELECT doc_id, md5(text) AS fingerprint_md5,
           md5(array_to_string(list_sort(list_distinct(
               list_filter(string_split(text, ' '), t -> t <> ''))), ' '))
             AS fingerprint_shingle
    FROM documents
    """,
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: exact-content md5 + order-insensitive
    sorted-unique-token md5 (catches token-order permutations)."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = F.filter(F.split("text", " "), lambda t: t != "")
    return docs.select(
        "doc_id",
        F.md5("text").alias("fingerprint_md5"),
        F.md5(F.array_join(F.array_sort(F.array_distinct(tokens)), " ")).alias(
            "fingerprint_shingle"
        ),
    )


# BPE-ish pre-tokenizer: letter runs | digit runs | single punctuation.
# ASCII classes only — identical semantics in Java regex (Spark) and RE2
# (DuckDB).
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@_register(
    "text_regex_tokens",
    rf"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{BPE_PATTERN}')) AS n_bpe_tokens,
           len(regexp_extract_all(text, '\w+')) AS n_word_tokens,
           CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS chars4_estimate
    FROM documents
    """,
)
def text_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting via a BPE-ish regex pre-tokenizer (letter runs /
    digit runs / punctuation — the GPT-2-style split shape) next to the
    plain \\w+ word count and the chars/4 estimate. JVM-side
    regexp_extract_all, narrow over the scan."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0)).alias("n_bpe_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(r"\w+"), 0)).alias("n_word_tokens"),
        F.ceil(F.length("text") / 4.0).alias("chars4_estimate"),
    )


@_register(
    "text_tfidf_top_terms",
    """
    WITH toks AS (
        SELECT doc_id, UNNEST(list_filter(string_split(text, ' '), t -> t <> '')) AS token
        FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
    idf AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY token),
    n AS (SELECT COUNT(*) AS n FROM documents)
    SELECT doc_id, token, rn FROM (
        SELECT t.doc_id, t.token,
               ROW_NUMBER() OVER (
                   PARTITION BY t.doc_id
                   ORDER BY FLOOR(t.tf * LN(n.n * 1.0 / d.df) * 1000000.0 + 0.5)
                            / 1000000.0 DESC,
                            t.token
               ) AS rn
        FROM tf t JOIN idf d USING (token) CROSS JOIN n
        WHERE t.doc_id < 50
    ) WHERE rn <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF term ranking: the 3 most distinctive tokens per document
    (bounded to doc_id < 50 to keep the checked output small; tf and df
    come from the full corpus). Two shuffles — (doc, token) tf and global
    token df — then a broadcast of the tiny corpus-size scalar. Ranking
    is on the ROUNDED score with a token tiebreak so cross-engine LN
    ulps can't reorder rows."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    score = r2(F.col("tf") * F.log(F.col("n") * 1.0 / F.col("df")), 6)
    w = W.partitionBy("doc_id").orderBy(score.desc(), "token")
    return (
        tf.filter(F.col("doc_id") < 50)
        .join(df, "token")
        .join(F.broadcast(n))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "rn")
    )


WINNOW_W = 4  # rolling-hash window width (tokens)
WINNOW_B = 31  # polynomial base; 2^32-scale token hashes × 31^3 stays < 2^63


@_register(
    "text_winnow_fingerprints",
    f"""
    SELECT doc_id,
           GREATEST(len(th) - {WINNOW_W - 1}, 0) AS n_windows,
           CASE WHEN len(th) >= {WINNOW_W} THEN
               list_min(list_transform(range(1, len(th) - {WINNOW_W - 2}),
                   i -> ((th[i] * {WINNOW_B} + th[i+1]) * {WINNOW_B} + th[i+2])
                        * {WINNOW_B} + th[i+3]))
           END AS winnow_min
    FROM (
        SELECT doc_id,
               list_transform(list_filter(string_split(text, ' '), t -> t <> ''),
                   t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)) AS th
        FROM documents
    )
    """,
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash (Rabin-Karp-style) document fingerprinting, winnowing
    flavor: hash every w-token window with an integer polynomial over
    md5-derived token hashes and keep the minimum — the MOSS/winnowing
    primitive for local (substring-level) duplicate detection, where the
    whole-document md5 of text_fingerprints misses partial overlap.
    Integer-exact on both engines (token hash < 2^32, ×31³ < 2^63), so
    it hash-matches the oracle bit-for-bit. Narrow per-row compute —
    no shuffle at all."""
    docs = load_table(spark, sf_dir, "documents")
    th = (
        "transform(filter(split(text, ' '), t -> t != ''), "
        "t -> cast(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT))"
    )
    win = (
        f"transform(sequence(1, size(th) - {WINNOW_W - 1}), "
        f"i -> ((element_at(th, i) * {WINNOW_B} + element_at(th, i+1)) * {WINNOW_B} "
        f"+ element_at(th, i+2)) * {WINNOW_B} + element_at(th, i+3))"
    )
    return docs.select(
        "doc_id", F.expr(th).alias("th")
    ).select(
        "doc_id",
        F.greatest(F.size("th") - (WINNOW_W - 1), F.lit(0)).alias("n_windows"),
        F.when(
            F.size("th") >= WINNOW_W, F.expr(f"array_min({win})")
        ).alias("winnow_min"),
    )


_CHUNK_SIZE, _CHUNK_STRIDE = 32, 24  # 8-token overlap between windows


@_register(
    "text_chunk_documents",
    f"""
    SELECT doc_id,
           CAST(FLOOR(start / {_CHUNK_STRIDE}.0) AS BIGINT) AS chunk_idx,
           CAST(len(chunk) AS BIGINT) AS n_tokens,
           array_to_string(chunk, ' ') AS chunk_text
    FROM (
        SELECT doc_id, start,
               list_slice(tokens, start + 1, start + {_CHUNK_SIZE}) AS chunk
        FROM (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS tokens
            FROM documents
        ), UNNEST(range(0, len(tokens), {_CHUNK_STRIDE})) AS u(start)
        WHERE len(tokens) > 0
    )
    """,
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-prep chunking: split each document's token stream into
    fixed 32-token windows advancing by 24 (8-token overlap so
    no span is lost at a boundary) — the standard pretraining-corpus →
    context-window step. Entirely narrow: tokens, window starts
    (sequence), and slices are per-row higher-order functions; output
    rows ≈ input tokens / stride with NO shuffle, so it streams at scan
    speed at 100 TB and the sink controls partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda t: t != "").alias("tokens"),
    ).filter(F.size("tokens") > 0)
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.size("tokens") - 1, F.lit(_CHUNK_STRIDE))
        ).alias("start"),
        "tokens",
    ).select(
        "doc_id",
        F.floor(F.col("start") / F.lit(float(_CHUNK_STRIDE))).alias("chunk_idx"),
        F.slice("tokens", F.col("start") + 1, _CHUNK_SIZE).alias("chunk"),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.size("chunk").cast("long").alias("n_tokens"),
        F.array_join("chunk", " ").alias("chunk_text"),
    )


@_register(
    "text_repetition_scores",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS toks
        FROM documents
    ),
    base AS (
        SELECT doc_id, len(toks) AS n_tokens,
               len(list_distinct(toks)) AS distinct_tokens, toks
        FROM toks WHERE len(toks) >= 2
    ),
    counts AS (
        SELECT doc_id, g, COUNT(*) AS c
        FROM (SELECT doc_id,
                     UNNEST(list_transform(range(1, len(toks)),
                                           i -> toks[i] || ' ' || toks[i + 1])) AS g
              FROM base)
        GROUP BY doc_id, g
    ),
    top AS (SELECT doc_id, MAX(c) AS top2_cnt FROM counts GROUP BY doc_id)
    SELECT b.doc_id, b.n_tokens, b.distinct_tokens,
           b.distinct_tokens * 10000 // b.n_tokens AS ttr_e4,
           t.top2_cnt,
           t.top2_cnt * 10000 // (b.n_tokens - 1) AS rep_e4
    FROM base b JOIN top t USING (doc_id)
    """,
)
def text_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/diversity quality signals per document:
    type-token ratio (distinct/total tokens) and the fraction of 2-gram
    slots occupied by the single most frequent 2-gram — the classic
    filters for templated/degenerate text in pre-training corpora. Both
    emitted as scaled BIGINTs (x10^4 intdiv), never computed doubles.

    TTR is per-row array math (no shuffle); the top-2-gram count is
    explode → (doc_id, gram) groupBy → per-doc max — linear in corpus
    size with map-side partials, NOT the O(tokens²) per-row
    higher-order-fn formulation, which would blow up on 2k-token docs
    at 100 TB. Two doc_id-keyed shuffles, then a doc_id join."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    base = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("distinct_tokens"),
    ).filter(F.col("n_tokens") >= 2)
    grams = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - 2),
                lambda i: F.concat(
                    F.element_at("toks", i + 1), F.lit(" "), F.element_at("toks", i + 2)
                ),
            )
        ).alias("g"),
    )
    top = (
        grams.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top2_cnt"))
    )
    return base.drop("toks").join(top, "doc_id").select(
        "doc_id",
        "n_tokens",
        "distinct_tokens",
        F.expr("distinct_tokens * 10000 div n_tokens").alias("ttr_e4"),
        "top2_cnt",
        F.expr("top2_cnt * 10000 div (n_tokens - 1)").alias("rep_e4"),
    )


@_register(
    "text_lang_rollup",
    """
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST((SUM(n_chars) * 10000 + COUNT(*) // 2) // COUNT(*) AS BIGINT)
               AS avg_chars_e4,
           CAST(SUM(len(list_filter(string_split(text, ' '), t -> t <> '')))
               AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY lang, source
    """,
)
def text_lang_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition rollup by (lang, source).

    avg_chars_e4 is the average scaled by 10^4 and kept as a BIGINT
    (round-half-up: (sum*10^4 + n/2) intdiv n). Rounds 1–3 hash-failed
    at the driver for two distinct reasons: DOUBLE output (r1-r2,
    float normalization) and — after the r3 rewrite to integers —
    DuckDB widening SUM(int)*10000 to HUGEINT (int128), which the
    driver hashes differently than BIGINT. The oracle now CASTs every
    widening expression back to BIGINT; tools/check_correctness.py
    gates on oracle output types so this class cannot recur."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = F.filter(F.split("text", " "), lambda t: t != "")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(F.size(tokens)).alias("total_tokens"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            F.expr("(sum_chars * 10000 + (n_docs div 2)) div n_docs").alias(
                "avg_chars_e4"
            ),
            "total_tokens",
        )
    )


@_register(
    "text_bigram_top_terms",
    """
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(string_split(text, ' '), t -> t <> '') AS tk
        FROM documents
    ),
    grams AS (
        SELECT doc_id, lang,
               UNNEST(list_transform(range(1, len(tk)),
                                     i -> tk[i] || ' ' || tk[i + 1])) AS bigram
        FROM toks
    ),
    agg AS (
        SELECT lang, bigram, COUNT(*) AS n,
               COUNT(DISTINCT doc_id) AS n_docs
        FROM grams GROUP BY lang, bigram
    )
    SELECT lang, bigram, n, n_docs FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY n DESC, bigram) AS rn
        FROM agg
    ) WHERE rn <= 3
    """,
)
def text_bigram_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-3 word bigrams by occurrence count (doc
    frequency alongside; min-bigram tiebreak) — the n-gram frequency
    table an LM data pipeline builds for corpus inspection and
    contamination screens.

    Plan shape at 100 TB: bigrams are produced row-locally
    (zip_with of two slices — no sequence() descending-range edge
    cases, no UDF), the (lang, bigram) count is map-side partial before
    its one shuffle, and WindowGroupLimit caps every language at 3 rows
    before the final exchange, so the window stage sees k·|langs| rows,
    never the vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = F.filter(F.split("text", " "), lambda t: t != "")
    bigrams = F.expr(
        "zip_with(slice(tk, 1, greatest(size(tk) - 1, 0)), "
        "slice(tk, 2, greatest(size(tk) - 1, 0)), "
        "(a, b) -> concat(a, ' ', b))"
    )
    grams = (
        docs.select("doc_id", "lang", tokens.alias("tk"))
        .select("doc_id", "lang", F.explode_outer(bigrams).alias("bigram"))
        .filter(F.col("bigram").isNotNull())
    )
    agg = grams.groupBy("lang", "bigram").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    w = W.partitionBy("lang").orderBy(F.col("n").desc(), "bigram")
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


@_register(
    "text_unigram_surprisal",
    """
    WITH toks AS (
        SELECT doc_id,
               UNNEST(list_filter(string_split(text, ' '), t -> t <> '')) AS token
        FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
    tot AS (SELECT COUNT(*) AS total FROM toks)
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           FLOOR(CAST(SUM(FLOOR(LN(total * 1.0 / cnt) * 1000000.0 + 0.5)) AS DOUBLE)
                 / COUNT(*) + 0.5) / 1000000.0 AS avg_surprisal
    FROM toks JOIN freq USING (token) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: mean token surprisal -ln p(t)
    under the corpus's own unigram distribution — the cheap LM-free
    stand-in for a perplexity quality filter (low = repetitive/templated
    text, high = rare-token noise; both tails get cut in corpus
    curation). Two-pass: global token frequencies, then each token
    stream scores against them. The frequency side is one row per vocab
    entry, so Spark broadcasts it at test scale and AQE handles the
    skewed hot-token keys (stopwords) when the vocabulary forces a
    shuffle join at 100 TB.

    Cross-engine determinism: per-token surprisal is rounded to 1e-6 and
    summed as an INTEGER (deterministic under any partition/order), then
    one final division + rounding — float summation order can never move
    the hash."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("token"),
    )
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    tot = toks.agg(F.count(F.lit(1)).alias("total"))
    surp_int = F.floor(
        F.log(F.col("total") * 1.0 / F.col("cnt")) * 1000000.0 + 0.5
    ).cast("long")
    return (
        toks.join(freq, "token")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (
                F.floor(F.sum(surp_int).cast("double") / F.count(F.lit(1)) + 0.5)
                / 1000000.0
            ).alias("avg_surprisal"),
        )
    )


_BOILER_N = 3  # n-gram width for boilerplate detection


@_register(
    "text_boilerplate_ngrams",
    f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS toks
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(toks) - {_BOILER_N} + 2, 2)),
                   i -> array_to_string(toks[i:i + {_BOILER_N} - 1], ' ')
               )) AS grams
        FROM toks
    ),
    exploded AS (SELECT UNNEST(grams) AS gram FROM grams),
    df AS (SELECT gram, COUNT(*) AS doc_freq FROM exploded GROUP BY 1)
    SELECT gram, doc_freq FROM df
    WHERE doc_freq >= 3
    ORDER BY doc_freq DESC, gram
    LIMIT 20
    """,
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate n-gram detection (the RefinedWeb/CCNet 'most common
    paragraphs' removal signal): per-doc-distinct {3}-gram shingles →
    corpus document frequency → top-20 grams appearing in >= 3 docs,
    with a (doc_freq DESC, gram ASC) total order so the cut is
    deterministic. Repeated grams across documents are navigation
    chrome, license headers, templated spans — removing them is a
    standard pre-training cleanup, and the df table built here is
    exactly the broadcastable blocklist that removal step consumes.

    Plan at 100 TB: shingling is scan-stage CPU; the df aggregation
    map-side-combines per-doc-distinct grams before the shuffle, and
    the top-k is a TakeOrderedAndProject, never a global sort. For a
    real corpus, hash the grams (xxhash64, the decontamination
    treatment) so the shuffle carries 8-byte keys; strings are kept
    here because the output IS the gram text."""
    from user_feed_cdc_spark.operators.dedup import shingles
    from user_feed_cdc_spark.sources.tables import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    grams = docs.select(
        F.explode_outer(shingles(F.col("text"), _BOILER_N)).alias("gram")
    ).filter(F.col("gram").isNotNull())  # outer + guard: one shingle
    # evaluation per row instead of two (explode's implicit size filter
    # re-evaluates the array expr), same rows out
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .filter(F.col("doc_freq") >= 3)
        .orderBy(F.col("doc_freq").desc(), F.col("gram"))
        .limit(20)
    )


_EDIT_PREFIX = 40  # compared prefix length
_EDIT_MAXID = 30  # bounded all-pairs contract (435 pairs)


@_register(
    "text_edit_distance_pairs",
    f"""
    WITH pref AS (
        SELECT doc_id, substr(text, 1, {_EDIT_PREFIX}) AS p
        FROM documents WHERE doc_id < {_EDIT_MAXID}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.p, b.p) AS edit_dist
    FROM pref a JOIN pref b ON a.doc_id < b.doc_id
    ORDER BY edit_dist, doc_a, doc_b
    LIMIT 20
    """,
)
def text_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance (Levenshtein) similarity — the character-level
    fuzzy-match family the token-level MinHash/SimHash paths don't
    cover (typos, OCR noise, templated ids). Unit-cost Levenshtein is
    engine-exact integers, so the closest-20 pairs are hash-gated.
    Bounded all-pairs BY CONTRACT (doc_id < {30}, the
    dedup_ngram_jaccard treatment): O(n²·L²) dynamic programming is the
    ground-truth tier — at corpus scale candidate pairs come from the
    banded LSH paths first, and edit distance re-verifies only those
    survivors (Spark's levenshtein(l, r, threshold) form caps the DP
    early for exactly that use)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _EDIT_MAXID
    )
    pref = docs.select(
        "doc_id", F.substring("text", 1, _EDIT_PREFIX).alias("p")
    )
    a = pref.select(F.col("doc_id").alias("doc_a"), F.col("p").alias("pa"))
    b = pref.select(F.col("doc_id").alias("doc_b"), F.col("p").alias("pb"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("pa", "pb").alias("edit_dist"),
        )
        .orderBy("edit_dist", "doc_a", "doc_b")
        .limit(20)
    )


_HASH_DIM = 16  # hashed feature-vector width


@_register(
    "text_hashed_features",
    f"""
    WITH toks AS (
        SELECT doc_id, UNNEST(list_filter(string_split(text, ' '),
                                          t -> t <> '')) AS token
        FROM documents
    ),
    bucketed AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % {_HASH_DIM}
                   AS bucket,
               COUNT(*) AS cnt
        FROM toks GROUP BY 1, 2
    )
    SELECT doc_id,
           array_to_string(list_transform(range(0, {_HASH_DIM}),
               b -> CAST(CAST(coalesce(list_sum(list_transform(
                        list_filter(
                            list_zip(list(bucket), list(cnt)),
                            p -> p[1] = b),
                        p -> p[2])), 0) AS BIGINT) AS VARCHAR)), ',')
               AS features_csv
    FROM bucketed
    GROUP BY doc_id
    """,
)
def text_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick vectorizer (HashingVectorizer / feature hashing):
    tokens hash into a fixed {16}-bucket count vector per document —
    the vocabulary-free featurization that needs no global dictionary,
    which is exactly why it scales: no vocab table to build, broadcast,
    or keep consistent across a 100 TB corpus; the output width is
    fixed at write time. md5-derived buckets make the vectors
    bit-identical across engines, so the full vectorization is
    hash-gated. Plan: explode → (doc, bucket) partial-agged count →
    one array_agg pivot per doc; the shuffle carries (doc_id, bucket,
    count) triples, never tokens. The certified column is the CSV
    join of the dense vector — scalar STRING, never ARRAY: the
    driver's canonicalizer cannot sort/hash list cells (r07
    failure), so the fixed-width vector ships as comma-joined
    bigints; a consumer splits it back losslessly."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", " "), lambda t: t != "")
        ).alias("token"),
    )
    bucket = F.expr(
        f"CAST(conv(substr(md5(token), 1, 8), 16, 10) AS BIGINT) % {_HASH_DIM}"
    )
    counts = toks.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # pivot the sparse (bucket, cnt) pairs into a dense fixed-width array
    pairs = counts.groupBy("doc_id").agg(
        F.map_from_arrays(
            F.collect_list("bucket"), F.collect_list("cnt")
        ).alias("m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(_HASH_DIM - 1)),
        lambda b: F.coalesce(F.col("m")[b.cast("long")], F.lit(0)).cast(
            "string"
        ),
    )
    return pairs.select(
        "doc_id", F.array_join(dense, ",").alias("features_csv")
    )


_BPE_TOP = 30


@_register(
    "text_bpe_merge_pairs",
    f"""
    SELECT pair, COUNT(*) AS n
    FROM (
        SELECT UNNEST(
            list_transform(
                range(1, length(w)),
                i -> substring(w, CAST(i AS INT), 2)
            )
        ) AS pair
        FROM (
            SELECT UNNEST(string_split(text, ' ')) AS w FROM documents
        )
        WHERE length(w) >= 2
    )
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT {_BPE_TOP}
    """,
)
def text_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training primitive: the first merge-selection round
    of byte-pair encoding — count adjacent symbol pairs WITHIN words
    (never across word boundaries, the standard BPE pre-tokenization
    rule) and rank the top candidates deterministically (count DESC,
    pair ASC). Each iteration of real BPE training is exactly this
    count-and-pick over the current symbol sequence; round one over raw
    characters is the shape that matters for the engine, and it is
    engine-exact (integer counts, character substrings), so the full
    pipeline sits under the value-hash gate.

    Pairs come from character-position substrings
    (``substr(w, i, 2)`` for i in 1..len-1) — no char-array explode, so
    the only data that ever shuffles is the 2-char pair strings, with
    map-side partial counts collapsing them to distinct-pair cardinality
    (bounded: alphabet²) per partition. At 100 TB this is a word-count
    whose key space is tiny — the shuffle is negligible regardless of
    corpus size; successive BPE rounds would re-run the same plan over a
    re-segmented symbol column."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(_BPE_TOP)
    )


_BPE_APPLY_K = 4  # merges applied in learned rank order


@_register(
    "text_bpe_apply_merges",
    f"""
    WITH words AS (
        SELECT UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    pairs AS (
        SELECT UNNEST(list_transform(
            range(1, length(w)),
            i -> substring(w, CAST(i AS INT), 2))) AS pair
        FROM words WHERE length(w) >= 2
    ),
    counts AS (SELECT pair, COUNT(*) AS n FROM pairs GROUP BY pair),
    merges AS (
        SELECT pair, ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rk
        FROM counts
        QUALIFY rk <= {_BPE_APPLY_K}
    ),
    m AS (
        SELECT (SELECT pair FROM merges WHERE rk = 1) AS m1,
               (SELECT pair FROM merges WHERE rk = 2) AS m2,
               (SELECT pair FROM merges WHERE rk = 3) AS m3,
               (SELECT pair FROM merges WHERE rk = 4) AS m4
    ),
    applied AS (
        SELECT d.doc_id,
               length(replace(d.text, ' ', '')) AS n_chars,
               length(replace(
                   replace(replace(replace(replace(
                       d.text, m.m1, chr(1)), m.m2, chr(2)),
                       m.m3, chr(3)), m.m4, chr(4)),
                   ' ', '')) AS n_symbols
        FROM documents d CROSS JOIN m
    )
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_symbols AS BIGINT) AS n_symbols,
           CAST(n_chars - n_symbols AS BIGINT) AS n_merged
    FROM applied
    """,
)
def text_bpe_apply_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE APPLY — the tokenization half that text_bpe_merge_pairs'
    learn half was missing (E17 completion): the top-{_BPE_APPLY_K}
    learned merges are applied to every document IN RANK ORDER, each
    replacing all non-overlapping occurrences left-to-right — exactly
    how a trained BPE tokenizer segments text (apply merges by
    priority; earlier merges consume characters so later ones see the
    updated sequence, which chained replace() reproduces because both
    engines replace left-to-right non-overlapping and the sentinel
    symbols \\x01..\\x04 can never collide with raw-text pairs). The
    per-doc accounting is the token-budget arithmetic a training
    pipeline runs: symbol count before (chars sans spaces), after,
    and merges applied (= chars saved, since each merge replaces two
    symbols with one). All-integer outputs — the whole learn+apply
    pipeline sits under the value hash with no float contract.

    Scale: the merge table is a bounded aggregate (alphabet² keys)
    broadcast as ONE row; application is a per-row string pass in
    whole-stage codegen over the doc scan — no shuffle beyond the
    tiny learn rollup, the same narrow shape at any corpus size.
    Successive BPE rounds = re-learn over the applied column, a loop
    of this same plan."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.length("w") >= 2
    )
    counts = (
        words.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("w") - 1),
                    lambda i: F.col("w").substr(i, F.lit(2)),
                )
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # rank order frozen into a sortable struct so the 1-row collect
    # is order-independent: ascending (-n, pair) == (n DESC, pair)
    mrow = (
        counts.orderBy(F.col("n").desc(), "pair")
        .limit(_BPE_APPLY_K)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct((-F.col("n")).alias("negn"), F.col("pair"))
                )
            ).alias("ms")
        )
    )
    t = F.col("text")
    for k in range(_BPE_APPLY_K):
        t = F.replace(t, F.col("ms")[k]["pair"], F.lit(chr(k + 1)))
    n_chars = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    n_symbols = F.length(F.replace(t, F.lit(" "), F.lit("")))
    return (
        docs.crossJoin(F.broadcast(mrow))
        .select(
            "doc_id",
            n_chars.cast("long").alias("n_chars"),
            n_symbols.cast("long").alias("n_symbols"),
            (n_chars - n_symbols).cast("long").alias("n_merged"),
        )
    )


@_register(
    "text_bigram_surprisal",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS tk
        FROM documents
    ),
    bis AS (
        SELECT doc_id,
               UNNEST(list_transform(
                   range(1, len(tk)),
                   i -> tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1]
               )) AS bigram
        FROM toks
    ),
    bi_freq AS (SELECT bigram, COUNT(*) AS cnt FROM bis GROUP BY bigram),
    head_freq AS (
        SELECT string_split(bigram, ' ')[1] AS head, COUNT(*) AS hcnt
        FROM bis GROUP BY head
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           FLOOR(CAST(SUM(FLOOR(LN(hcnt * 1.0 / cnt) * 1000000.0 + 0.5))
                      AS DOUBLE) / COUNT(*) + 0.5) / 1000000.0
               AS avg_surprisal
    FROM bis
    JOIN bi_freq USING (bigram)
    JOIN head_freq ON string_split(bigram, ' ')[1] = head
    GROUP BY doc_id
    """,
)
def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram-LM surprisal per document — the CCNet-style
    LM quality filter one order up from text_unigram_surprisal:
    score_i = -ln P(w_i | w_{i-1}) with P = cnt(w_{i-1} w_i) /
    cnt(w_{i-1} as a bigram head), averaged per doc. Low scores mark
    fluent/templated text, high scores mark noise — the signal CCNet
    thresholds to tier Common Crawl.

    Cross-engine float contract (the unigram entry's trick, one level
    deeper): each bigram's surprisal is frozen to an INTEGER —
    floor(ln(hcnt/cnt)·1e6 + 0.5) — before the per-doc SUM, so the
    only order-sensitive accumulation is over exact integers; one
    float division and one rounding close each doc. Plan: bigrams are
    produced row-locally (the slice/zip_with composition — no UDF),
    the model tables (bigram counts, head counts) are groupBys with
    map-side partials whose key spaces are vocabulary-sized, and the
    score join re-streams the gram rows against those two tables —
    at 100 TB the model tables are the broadcast/bucketed side and
    the corpus side never shuffles twice."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = F.filter(F.split("text", " "), lambda t: t != "")
    bigrams = F.expr(
        "zip_with(slice(tk, 1, greatest(size(tk) - 1, 0)), "
        "slice(tk, 2, greatest(size(tk) - 1, 0)), "
        "(a, b) -> concat(a, ' ', b))"
    )
    grams = (
        docs.select("doc_id", tokens.alias("tk"))
        .select("doc_id", F.explode_outer(bigrams).alias("bigram"))
        .filter(F.col("bigram").isNotNull())
    )
    bi_freq = grams.groupBy("bigram").agg(F.count(F.lit(1)).alias("cnt"))
    head = F.substring_index("bigram", " ", 1)
    head_freq = grams.groupBy(head.alias("head")).agg(
        F.count(F.lit(1)).alias("hcnt")
    )
    scored = (
        grams.join(bi_freq, "bigram")
        .withColumn("head", head)
        .join(head_freq, "head")
        .withColumn(
            "s_int",
            F.floor(
                F.log(F.col("hcnt") * F.lit(1.0) / F.col("cnt"))
                * F.lit(1000000.0)
                + F.lit(0.5)
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (
            F.floor(
                F.sum("s_int").cast("double") / F.count(F.lit(1)) + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("avg_surprisal"),
    )


_UDTF_DOC_CAP = 50  # bounded by contract: keeps the oracle's unnest cheap


@_register(
    "text_udtf_sentences",
    f"""
    WITH parts AS (
        SELECT doc_id, string_split(text, '.') AS ps
        FROM documents WHERE doc_id < {_UDTF_DOC_CAP}
    )
    SELECT doc_id,
           CAST(i - 1 AS INT) AS sent_idx,
           trim(ps[CAST(i AS INT)]) AS sentence,
           length(trim(ps[CAST(i AS INT)])) AS n_chars
    FROM parts, UNNEST(range(1, len(ps) + 1)) AS t(i)
    WHERE trim(ps[CAST(i AS INT)]) <> ''
    """,
)
def text_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation through a PYTHON UDTF — the table-function
    rung of the UDF ladder (scalar pandas_udf, grouped applyInPandas,
    mapInPandas, and now one-row-to-many-rows): each document explodes
    into (sent_idx, sentence, n_chars) rows from a generator, certified
    row-exact against the SQL unnest twin. sent_idx numbers the RAW
    split positions (empties keep their index but emit no row), so the
    index is stable under any segmenter that later drops more spans.

    Bounded to doc_id < 50 BY CONTRACT — not because the
    UDTF can't scale (it streams rows per input row, state-free, so it
    partitions like any projection) but because this tier is
    row-at-a-time Python: at 100 TB the same split belongs in
    `explode(split(...))` (JVM, used by the chunking entry) or an
    Arrow-batched mapInPandas; a UDTF earns its cost only when the
    expansion logic is genuinely imperative (parsers, tokenizers with
    carry-over state per row)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType=(
        "doc_id: bigint, sent_idx: int, sentence: string, n_chars: int"
    ))
    class SplitSentences:
        def eval(self, doc_id, text):
            for i, raw in enumerate(text.split(".")):
                s = raw.strip(" ")
                if s:
                    yield doc_id, i, s, len(s)

    spark.udtf.register("split_sentences", SplitSentences)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _UDTF_DOC_CAP
    )
    docs.createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT s.* FROM _udtf_docs d, "
        "LATERAL split_sentences(d.doc_id, d.text) s"
    )


# ---------------------------------------------------------------------------
# Zipf-law fit per source (corpus health statistic)
# ---------------------------------------------------------------------------

_ZIPF_TOP = 20  # OLS over the head of the rank-frequency curve

_ZIPF_ORACLE = """
    WITH toks AS (
        SELECT source, UNNEST(list_filter(string_split(text, ' '), t -> t <> '')) AS token
        FROM documents
    ),
    freq AS (
        SELECT source, token, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM toks GROUP BY source, token
    ),
    ranked AS (
        SELECT source, cnt,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY cnt DESC, token) AS r
        FROM freq
    ),
    pts AS (
        SELECT source,
               CAST(FLOOR(LN(r) * 1000000.0 + 0.5) AS BIGINT) AS x,
               CAST(FLOOR(LN(cnt) * 1000000.0 + 0.5) AS BIGINT) AS y
        FROM ranked WHERE r <= 20
    ),
    sums AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM pts GROUP BY source
    )
    SELECT source, n AS n_terms,
           FLOOR(CAST(n * sxy - sx * sy AS DOUBLE) /
                 CAST(n * sxx - sx * sx AS DOUBLE) * 1000000.0 + 0.5)
               / 1000000.0 AS zipf_slope
    FROM sums
    WHERE n >= 2
"""


@_register("text_zipf_slope", _ZIPF_ORACLE)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf exponent: OLS slope of ln(freq) on ln(rank) over
    each source's top-20 terms — the rank-frequency power-law fit. A
    natural corpus sits near -1; a slope far from the fleet flags
    machine-generated, boilerplate-heavy, or template text, which makes
    this the distribution-shape quality signal beside the per-doc
    ratio checks (text_quality_scores) and LM surprisal filters.

    Cross-engine determinism is the unigram-surprisal trick applied to
    regression: each ln() is frozen to integer micro-units BEFORE any
    sum, so Σx, Σy, Σxy, Σx² are exact bigints and the closed-form
    slope (nΣxy - ΣxΣy)/(nΣx² - (Σx)²) is one double division per
    source — no float accumulation order to diverge. Magnitudes are
    bounded: |x|,|y| ≤ ~20e6 micro-units, so nΣxy < 10^16 « bigint.

    At 100 TB: one shuffle to (source, token) counts (map-side
    partials), a per-source top-20 window (WindowGroupLimit caps the
    exchange), then a 20-rows-per-source agg — output is |sources| rows
    regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(
            "source", F.explode(F.split("text", " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = W.partitionBy("source").orderBy(F.col("cnt").desc(), "token")
    micro = lambda c: F.floor(F.log(c) * 1000000.0 + F.lit(0.5)).cast("long")  # noqa: E731
    pts = (
        freq.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _ZIPF_TOP)
        .select(
            "source",
            micro(F.col("r")).alias("x"),
            micro(F.col("cnt")).alias("y"),
        )
    )
    sums = pts.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    # n == 1 makes den exactly 0: Spark yields NULL but DuckDB's IEEE
    # division yields inf — skip degenerate single-term sources in
    # BOTH engines rather than hash-diverge on them
    return sums.filter(F.col("n") >= 2).select(
        "source",
        F.col("n").alias("n_terms"),
        r2(num.cast("double") / den.cast("double"), 6).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# Retrieval: inverted index build + BM25 ranking
# ---------------------------------------------------------------------------

_IDX_MIN_DF = 50  # index only corpus-common terms (bounds output width)
_IDX_HEAD = 20  # postings-head length carried per term

_INVERTED_INDEX_ORACLE = """
    WITH toks AS (
        SELECT doc_id, UNNEST(list_filter(string_split(text, ' '), t -> t <> '')) AS term
        FROM documents
    ),
    tf AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY term, doc_id),
    idx AS (
        SELECT term,
               CAST(COUNT(*) AS BIGINT) AS df,
               CAST(SUM(tf) AS BIGINT) AS total_tf,
               array_to_string(list_transform(
                   list_slice(list(doc_id ORDER BY doc_id), 1, 20),
                   d -> CAST(d AS VARCHAR)), ',') AS postings_head
        FROM tf GROUP BY term
    )
    SELECT * FROM idx WHERE df >= 50
"""


@_register("text_inverted_index", _INVERTED_INDEX_ORACLE)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the INVERTED INDEX — the term → postings structure search
    engines and TF-IDF/BM25 retrieval run on: per corpus-common term
    (df ≥ 50), document frequency, total term frequency, and the first
    20 postings in doc_id order. The postings HEAD is window-limited
    (row_number ≤ 20 per term → WindowGroupLimit caps the exchange at
    20 rows/term) BEFORE any collect_list, so no executor ever
    materializes a full postings list — the trap a naive
    sort-inside-collect build hits when a stopword's postings are the
    whole corpus. df/total_tf come from a plain partial-agged groupBy
    over the same (term, doc) counts; at 100 TB production shards full
    postings into bucketed segment files and this plan IS the
    per-segment build."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("total_tf")
    )
    w = W.partitionBy("term").orderBy("doc_id")
    # CSV-joined head, not ARRAY: the driver canonicalizer can only
    # hash scalar cells (r07 lesson) — numeric sort FIRST, then cast
    heads = (
        tf.select("term", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _IDX_HEAD)
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda d: d.cast("string"),
                ),
                ",",
            ).alias("postings_head")
        )
    )
    return (
        stats.filter(F.col("df") >= _IDX_MIN_DF)
        .join(heads, "term")
        .select("term", "df", "total_tf", "postings_head")
    )


_BM25_TERMS = ("data", "the", "model")  # the fixed probe query
_BM25_K1 = 1.2
_BM25_B = 0.75

_BM25_ORACLE = """
    WITH toks AS (
        SELECT doc_id, UNNEST(list_filter(string_split(text, ' '), t -> t <> '')) AS term
        FROM documents
    ),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dlen FROM toks GROUP BY doc_id),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dlen) AS BIGINT) AS total_len
        FROM dl
    ),
    q(term) AS (VALUES ('data'), ('the'), ('model')),
    tf AS (
        SELECT t.doc_id, t.term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks t JOIN q USING (term) GROUP BY t.doc_id, t.term
    ),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT tf.doc_id,
               CAST(FLOOR(
                   LN((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                   * ((tf.tf * 2.2) /
                      (tf.tf + 1.2 * (0.25 + 0.75 * dl.dlen * s.n_docs / s.total_len)))
                   * 1000000.0 + 0.5) AS BIGINT) AS s_micro
        FROM tf
        JOIN df USING (term)
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats s
    )
    SELECT doc_id, CAST(SUM(s_micro) AS BIGINT) / 1000000.0 AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 15
"""


@_register("text_bm25_topk", _BM25_ORACLE)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking (Robertson-Spärck Jones, the lexical-retrieval
    baseline every dense-retrieval paper reports against): top-15 docs
    for a fixed 3-term probe query, k1=1.2, b=0.75, with the
    Lucene-style non-negative idf ln((N-df+0.5)/(df+0.5)+1). This is
    the scoring consumer of the inverted-index build — together they
    make the engine's retrieval story: index, score, and the ANN
    family for the dense side.

    Engine-exactness: every per-(doc, term) BM25 contribution is one
    float expression with IDENTICAL operation order in both engines,
    frozen to integer micro-units BEFORE the per-doc sum (the surprisal
    contract — a float sum's order is not reproducible across engines,
    an integer sum is). Plan: the query-term filter prunes the token
    stream in the scan stage (3 terms survive), df is a 3-row broadcast
    back onto tf, doc lengths join doc-keyed, corpus stats ride a 1-row
    broadcast, and TakeOrderedAndProject closes — no global sort, no
    unbounded state."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dlen"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dlen").alias("total_len")
    )
    tf = (
        toks.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf_part = (F.col("tf") * (_BM25_K1 + 1.0)) / (
        F.col("tf")
        + _BM25_K1
        * (
            (1.0 - _BM25_B)
            + _BM25_B * F.col("dlen") * F.col("n_docs") / F.col("total_len")
        )
    )
    s_micro = F.floor(idf * tf_part * 1000000.0 + F.lit(0.5)).cast("long")
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .select("doc_id", s_micro.alias("s_micro"))
    )
    return (
        scored.groupBy("doc_id")
        .agg((F.sum("s_micro").cast("bigint") / 1000000.0).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Sparse TF-IDF all-pairs cosine (document-document similarity join)
# ---------------------------------------------------------------------------

_SPARSE_DOCS = 200  # bounded doc window (oracle cost contract)
_SPARSE_DF_MIN = 2  # df=1 terms pair with nothing
_SPARSE_DF_MAX = 100  # stopword prune: df > N/2 terms dominate fan-out
_SPARSE_TOPK = 20

_SPARSE_COSINE_ORACLE = f"""
    WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < {_SPARSE_DOCS}),
    toks AS (
        SELECT doc_id, UNNEST(list_filter(string_split(text, ' '),
                                          t -> t <> '')) AS term
        FROM d
    ),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY doc_id, term),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
    df AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        FROM tf GROUP BY term
        HAVING COUNT(*) BETWEEN {_SPARSE_DF_MIN} AND {_SPARSE_DF_MAX}
    ),
    w AS (
        SELECT doc_id, term, w FROM (
            SELECT tf.doc_id, tf.term,
                   tf.tf * CAST(FLOOR(LN(CAST(s.n AS DOUBLE)
                                         / CAST(df.df AS DOUBLE))
                                      * 1000.0 + 0.5) AS BIGINT) AS w
            FROM tf JOIN df USING (term) CROSS JOIN stats s
        ) WHERE w <> 0
    ),
    nrm AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS nrm
            FROM w GROUP BY doc_id),
    dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(SUM(a.w * b.w) AS BIGINT) AS dot
        FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           FLOOR(CAST(dot AS DOUBLE)
                 / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
    FROM dots
    JOIN nrm na ON dots.doc_a = na.doc_id
    JOIN nrm nb ON dots.doc_b = nb.doc_id
    ORDER BY cos_sim DESC, doc_a, doc_b
    LIMIT {_SPARSE_TOPK}
"""


@_register("text_tfidf_cosine_pairs", _SPARSE_COSINE_ORACLE)
def text_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARSE all-pairs document similarity: top-{20} doc pairs by
    TF-IDF cosine, computed the inverted-index way (Bayardo et al.,
    WWW'07 "Scaling Up All Pairs Similarity Search") — never densify,
    never cross-join docs: the pair space materializes ONLY through the
    term-postings self-join, so two docs meet exactly when they share a
    vocabulary term. This is the lexical complement of the embedding
    ANN family (similarity.py) and the scoring generalization of the
    n-gram Jaccard dedup (set overlap → weighted cosine).

    Vector space contract (identical both engines): terms with
    df ∈ [{2}, {100}] inside the doc_id<{200} window — df=1 terms pair
    with nothing (pruning them is free), df>{100} terms are the
    stopword fan-out bomb (a df-D term contributes D² pair partials;
    capping df bounds the join quadratically, the production all-pairs
    prune). Weights are tf × milli-frozen idf — integer, so every dot
    product and norm is an exact BIGINT sum (max |w| ≈ 1e6, dots
    ≤ 1e15 « 2^63) and only the final cosine divides in fp64 with
    identical op order.

    At 100 TB: one shuffle to (doc, term) tf, one to term postings;
    the pair partials shuffle on (doc_a, doc_b) — the heavy edge —
    bounded by the df cap; norms broadcast-join back; global top-k is
    TakeOrderedAndProject. Production adds prefix filtering (sort
    terms by weight, index only the prefix that can reach the
    threshold) — same plan shape, tighter candidate set."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _SPARSE_DOCS
    )
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", " "), lambda t: t != "")
        ).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df").between(_SPARSE_DF_MIN, _SPARSE_DF_MAX))
    )
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    idf_milli = F.floor(
        F.log(F.col("n").cast("double") / F.col("df").cast("double"))
        * 1000.0
        + F.lit(0.5)
    ).cast("long")
    # persist: w feeds FOUR plan branches (postings sides a/b + norm
    # joins na/nb) — uncached, the explode + two shuffles would
    # recompute per branch (4 scans; the dedup_semantic precedent).
    # The cache expires with the session, the right lifetime for a
    # registry entry.
    # w != 0 guard: a term with df == N gets idf exactly 0 (possible at
    # tiny corpora where the df cap doesn't bite); zero-weight postings
    # add nothing to any dot or norm, but a doc holding ONLY such terms
    # would carry norm 0 and emit NaN cosines — dropping them excludes
    # that doc instead, with every surviving value bit-identical
    w = (
        tf.join(df, "term")
        .join(F.broadcast(n))
        .select("doc_id", "term", (F.col("tf") * idf_milli).alias("w"))
        .filter(F.col("w") != 0)
        .persist()
    )
    nrm = w.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("nrm"))
    a = w.select(
        F.col("term"), F.col("doc_id").alias("doc_a"), F.col("w").alias("wa")
    )
    b = w.select(
        F.col("term"), F.col("doc_id").alias("doc_b"), F.col("w").alias("wb")
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = nrm.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = nrm.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    cos = r2(
        F.col("dot").cast("double")
        / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double")),
        6,
    )
    return (
        dots.join(F.broadcast(na), "doc_a")
        .join(F.broadcast(nb), "doc_b")
        .select("doc_a", "doc_b", cos.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "doc_a", "doc_b")
        .limit(_SPARSE_TOPK)
    )


_VOCAB_K = 64  # fixed "tokenizer vocabulary" = top-K corpus tokens


_OOV_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, UNNEST(list_filter(string_split(text, ' '),
                                          t -> t <> '')) AS token
        FROM documents
    ),
    vocab AS (
        SELECT token FROM (
            SELECT token, COUNT(*) AS n,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS rn
            FROM toks GROUP BY token
        ) WHERE rn <= {_VOCAB_K}
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE v.token IS NULL) AS BIGINT) AS n_oov,
           FLOOR(CAST(COUNT(*) FILTER (WHERE v.token IS NULL) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
               AS oov_rate
    FROM toks t LEFT JOIN vocab v ON t.token = v.token
    GROUP BY t.doc_id
"""


@_register("text_vocab_oov_rate", _OOV_ORACLE)
def text_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY COVERAGE / OOV-rate analysis — the tokenizer-fit
    metric a pretraining team reads before committing a vocabulary:
    fix the vocab as the corpus's top-{64} tokens (deterministic
    frequency-desc, token-asc cut — the same top-K discipline as the
    boilerplate detector) and report each doc's token count, OOV
    count, and OOV fraction. High-OOV docs are the ones a real
    tokenizer would shred into bytes/unknowns — the signal that
    drives vocab sizing and domain-mismatch triage (a code corpus
    against a prose vocab lights up instantly). Plan: one token
    rollup (map-side partials), the {64}-row vocab broadcasts, the
    per-doc pass LEFT-joins it (hits counted, misses kept — the
    denominator needs every token, the contamination-score shape) and
    aggregates on doc_id. Counts are exact bigints, one micro-frozen
    division; at 100 TB the vocab is fixed upfront and the whole
    query is the one explode + broadcast-join + doc rollup."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", " "), lambda t: t != "")
        ).alias("token"),
    )
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    # top-K via orderBy+limit (TakeOrderedAndProject: per-task K-heaps)
    # — a global ROW_NUMBER window here would single-partition the
    # whole vocabulary, the scale killer the curriculum entry documents
    vocab = (
        freq.orderBy(F.col("n").desc(), "token")
        .limit(_VOCAB_K)
        .select("token")
        .withColumn("_in_vocab", F.lit(1))
    )
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("_in_vocab").isNull(), 1)).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            r2(
                F.col("n_oov").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("oov_rate"),
        )
    )


_JS_VOCAB_K = 32  # drift distributions over the top-K corpus tokens


_JS_ORACLE = f"""
    WITH toks AS (
        SELECT source, UNNEST(list_filter(string_split(text, ' '),
                                          t -> t <> '')) AS token
        FROM documents
    ),
    vocab AS (
        SELECT token FROM (
            SELECT token, COUNT(*) AS n,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS rn
            FROM toks GROUP BY token
        ) WHERE rn <= {_JS_VOCAB_K}
    ),
    counts AS (
        SELECT t.source, t.token, CAST(COUNT(*) AS BIGINT) AS n
        FROM toks t JOIN vocab v ON t.token = v.token
        GROUP BY t.source, t.token
    ),
    totals AS (
        SELECT source, CAST(SUM(n) AS BIGINT) AS tot FROM counts
        GROUP BY source
    ),
    grid AS (
        SELECT t.source, v.token FROM totals t CROSS JOIN vocab v
    ),
    p AS (
        SELECT g.source, g.token,
               CAST(COALESCE(c.n, 0) AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p
        FROM grid g
        JOIN totals t ON g.source = t.source
        LEFT JOIN counts c ON c.source = g.source AND c.token = g.token
    ),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
               a.token, a.p AS pa, b.p AS pb
        FROM p a JOIN p b
          ON a.token = b.token AND a.source < b.source
    )
    SELECT source_a, source_b,
           CAST(SUM(
               CASE WHEN pa > 0.0 THEN
                   CAST(FLOOR(pa * LN(2.0 * pa / (pa + pb))
                              * 1000000000.0 + 0.5) AS BIGINT)
                   ELSE 0 END
               + CASE WHEN pb > 0.0 THEN
                   CAST(FLOOR(pb * LN(2.0 * pb / (pa + pb))
                              * 1000000000.0 + 0.5) AS BIGINT)
                   ELSE 0 END) AS BIGINT) / 2000000000.0 AS js_divergence
    FROM pairs
    GROUP BY source_a, source_b
"""


@_register("text_js_divergence_sources", _JS_ORACLE)
def text_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTION DRIFT between corpus sources: pairwise
    Jensen-Shannon divergence over each source's unigram distribution
    restricted to the top-{32} corpus tokens — the data-quality signal
    behind "did this month's crawl shift?" and the source-similarity
    matrix a mixture designer reads next to DSIR weights. JS (the
    symmetrized, bounded KL) is the standard choice because it is
    finite even where one source lacks a token.

    Cross-engine exactness is the surprisal discipline applied to
    divergence: probabilities are identical fp64 divisions of exact
    bigint counts, and each term's p·ln(2p/(p+q)) contribution is
    frozen to integer NANO-units BEFORE the pair sum (nano, not
    micro: contributions are ≤ p·ln2 ≈ 0.69·p and many are tiny —
    micro-freezing would zero them and understate drift). The
    distributions live on the full source × vocab GRID (zero-count
    terms get p=0 via a left join), so a token one source lacks still
    contributes the partner's pa·ln2 mass — true JS over the vocab,
    not JS-restricted-to-co-occurrence; the p>0 CASE guards are what
    keep 0·ln(0) out on both engines identically. Plan: token rollup
    → broadcast {32}-row vocab → (source, token) counts → the tiny
    grid join → the |sources|²-bounded pair join on token — output is
    C(|sources|, 2) rows; nothing scales with corpus size past the
    first rollup."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            F.filter(F.split("text", " "), lambda t: t != "")
        ).alias("token"),
    )
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    vocab = (
        freq.orderBy(F.col("n").desc(), "token")
        .limit(_JS_VOCAB_K)
        .select("token")
    )
    counts = (
        toks.join(F.broadcast(vocab), "token")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = counts.groupBy("source").agg(F.sum("n").alias("tot"))
    # full source × vocab grid so absent tokens carry p = 0 (true JS,
    # not JS restricted to co-occurring terms); both frames are tiny
    grid = totals.crossJoin(F.broadcast(vocab))
    p = grid.join(counts, ["source", "token"], "left").select(
        "source",
        "token",
        (
            F.coalesce(F.col("n"), F.lit(0)).cast("double")
            / F.col("tot").cast("double")
        ).alias("p"),
    )
    a = p.select(
        F.col("source").alias("source_a"),
        "token",
        F.col("p").alias("pa"),
    )
    b = p.select(
        F.col("source").alias("source_b"),
        "token",
        F.col("p").alias("pb"),
    )
    pairs = a.join(b, "token").filter(F.col("source_a") < F.col("source_b"))
    nano = lambda e: F.floor(e * 1000000000.0 + F.lit(0.5)).cast("long")  # noqa: E731
    term_a = F.when(
        F.col("pa") > 0.0,
        nano(F.col("pa") * F.log(2.0 * F.col("pa") / (F.col("pa") + F.col("pb")))),
    ).otherwise(F.lit(0))
    term_b = F.when(
        F.col("pb") > 0.0,
        nano(F.col("pb") * F.log(2.0 * F.col("pb") / (F.col("pa") + F.col("pb")))),
    ).otherwise(F.lit(0))
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(F.sum(term_a + term_b).alias("s"))
        .select(
            "source_a",
            "source_b",
            (F.col("s") / 2000000000.0).alias("js_divergence"),
        )
    )


_PHRASE_SEARCH_ORACLE = """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS ts,
               text
        FROM documents
    ),
    bigrams AS (
        SELECT UNNEST(list_transform(
                   range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1]
               )) AS bigram
        FROM toks WHERE len(ts) >= 2
    ),
    top AS (
        SELECT bigram, COUNT(*) AS cnt
        FROM bigrams GROUP BY bigram
        ORDER BY cnt DESC, bigram ASC LIMIT 1
    )
    SELECT d.doc_id, t.bigram AS phrase
    FROM toks d CROSS JOIN top t
    WHERE position(' ' || t.bigram || ' '
                   IN ' ' || regexp_replace(d.text, ' +', ' ', 'g') || ' ')
          > 0
    ORDER BY d.doc_id
"""


@_register("text_phrase_search", _PHRASE_SEARCH_ORACLE)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHRASE SEARCH via the positional index, certified against a raw
    substring SCAN: the corpus-top bigram (count desc, lexicographic
    tiebreak) is located through token adjacency — LEAD over
    (doc_id, position) builds consecutive pairs, the 1-row top phrase
    broadcasts back, and matching documents come from the pair frame
    alone. The DuckDB oracle answers the same query the way a grep
    would (padded-substring containment over space-RUN-normalized
    text — the index's empty-token filter treats 'a  b' as adjacent,
    so the scan must collapse runs too or it would match a strict
    subset on multi-spaced documents), so the gate certifies
    INDEX ≡ SCAN — the equivalence a search engine's
    posting-list path owes to its document store, checked here the
    same way the bloom/LSH entries certify their prefilters against
    ground truth.

    Scale: one explode + one per-doc window (partitioned by doc_id —
    never global), one map-side-combined bigram rollup, a top-1 via
    TakeOrderedAndProject, and a broadcast semi probe of the pair
    frame. At 100 TB the pair frame IS the inverted positional index
    (text_inverted_index's layout, keyed by leading token); no text
    byte is re-read at query time."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    pairs = (
        docs.select("doc_id", F.posexplode(toks).alias("pos", "tok"))
        .withColumn(
            "nxt",
            F.lead("tok").over(
                W.partitionBy("doc_id").orderBy("pos")
            ),
        )
        .filter(F.col("nxt").isNotNull())
        .select(
            "doc_id", F.concat_ws(" ", "tok", "nxt").alias("bigram")
        )
    )
    top = (
        pairs.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("bigram").asc())
        .limit(1)
        .select(F.col("bigram").alias("phrase"))
    )
    return (
        pairs.join(F.broadcast(top), pairs.bigram == F.col("phrase"))
        .select("doc_id", "phrase")
        .distinct()
        .orderBy("doc_id")
    )


_ARROW_STATS_ORACLE = """
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(strlen(text) - strlen(replace(text, ' ', '')) AS BIGINT)
               AS n_spaces
    FROM documents
    ORDER BY doc_id
"""


def _arrow_byte_stats(batches):
    """Columnar per-doc text stats on raw Arrow RecordBatches — no
    pandas materialization, every kernel a vectorized pyarrow.compute
    call over the batch as Arrow laid it out."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for b in batches:
        text = b.column(b.schema.get_field_index("text"))
        yield pa.RecordBatch.from_arrays(
            [
                b.column(b.schema.get_field_index("doc_id")),
                pc.cast(pc.utf8_length(text), pa.int64()),
                pc.cast(
                    pc.binary_length(pc.cast(text, pa.binary())), pa.int64()
                ),
                pc.cast(pc.count_substring(text, " "), pa.int64()),
            ],
            names=["doc_id", "n_chars", "n_bytes", "n_spaces"],
        )


@_register("text_arrow_byte_stats", _ARROW_STATS_ORACLE)
def text_arrow_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document byte/char accounting through mapInArrow — the
    zero-copy rung of the Python tier: where mapInPandas converts every
    batch to pandas (index allocation, object boxing for strings),
    mapInArrow hands the RAW Arrow RecordBatch to Python and takes one
    back, so columnar kernels (pyarrow.compute) run over the exact
    buffers Spark shipped. The stats themselves are the tokenizer-
    budget precheck a multilingual corpus needs (UTF-8 bytes vs code
    points diverge exactly where language coverage does; byte counts
    are what object-store egress and context windows bill). All three
    outputs are exact integers certified against DuckDB's
    length/strlen twins.

    At 100 TB: the Python boundary cost is one Arrow IPC handoff per
    batch with NO row materialization — the floor for any Python-tier
    operator; if a stat is expressible as a built-in (these are:
    length/octet_length), the JVM path still wins, which is why the
    certified twin family keeps both forms honest."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(
        _arrow_byte_stats,
        "doc_id long, n_chars long, n_bytes long, n_spaces long",
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Cross-document duplicate n-gram fraction (Gopher/FineWeb quality signal)
# ---------------------------------------------------------------------------

_DUP_NGRAM_N = 3

_DUP_NGRAM_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS tk
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(0, GREATEST(len(tk) - {_DUP_NGRAM_N}, 0) + 1),
                   i -> md5(array_to_string(
                       tk[CAST(i + 1 AS INT):CAST(i + {_DUP_NGRAM_N} AS INT)],
                       ' ')))) AS gs
        FROM toks
    ),
    ex AS (SELECT doc_id, unnest(gs) AS gk FROM sh),
    cnt AS (SELECT gk, COUNT(*) AS n_docs FROM ex GROUP BY gk),
    per AS (
        SELECT e.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup
        FROM ex e JOIN cnt c USING (gk)
        GROUP BY e.doc_id
    )
    SELECT doc_id, n_shingles, n_dup,
           FLOOR(CAST(n_dup AS DOUBLE) / CAST(n_shingles AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS dup_fraction
    FROM per
"""


@_register("text_dup_ngram_fraction", _DUP_NGRAM_ORACLE)
def text_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate {_DUP_NGRAM_N}-gram fraction per doc —
    the corpus-level repetition signal the Gopher/MassiveText and
    FineWeb quality rules threshold on (distinct from
    text_repetition_scores, which measures WITHIN-doc repetition): for
    each document, the fraction of its distinct word {_DUP_NGRAM_N}-
    grams that also occur in at least one OTHER document. High values
    mark boilerplate-heavy docs (licence blocks, navigation chrome,
    templated spam) that survive exact and near dedup because the
    surrounding text differs — exactly the rows a pretraining mix
    wants down-weighted.

    Shingle keys are md5 strings (the md5-twin convention: both
    engines group on identical 128-bit keys, so even a collision
    cannot diverge the gate). Corpus-frequency counting needs no
    distinct aggregate: shingles() emits each doc's gram set
    deduplicated, so the count per key IS the containing-doc count.
    Plan: ONE scan → ONE explode → a gk-partitioned window count (the
    same shuffle a groupBy would pay, but no join and no second
    shingle derivation — the groupBy+join-back form re-ran the md5
    explode on both sides, 2x the scan work), then the per-doc rollup.
    At 100 TB the keys become xxhash64 (8-byte shuffle payload,
    certified by this md5 twin), the head-N token bound from the dedup
    family caps explode fan-out, and the gk window partitions by a
    hash key so no single partition can exceed the hottest shingle's
    doc count — the same banded-shuffle posture as minhash LSH, with
    no all-pairs stage anywhere. The oracle keeps the equivalent
    groupBy+join formulation, certifying the window rewrite. The ratio
    divides two small exact BIGINTs in fp64 and micro-rounds —
    hash-stable."""
    # fan_out: the shingle+md5 derivation is the CPU-dominant scan
    # stage (interpreted per element); no-op at real scale (guide §2.5)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    from user_feed_cdc_spark.operators.dedup import shingles

    ex = docs.select(
        "doc_id", F.explode(shingles(F.col("text"), _DUP_NGRAM_N)).alias("g")
    ).select("doc_id", F.md5("g").alias("gk"))
    n_docs = F.count(F.lit(1)).over(W.partitionBy("gk"))
    per = (
        ex.withColumn("n_docs", n_docs)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup"),
        )
    )
    return per.select(
        "doc_id",
        "n_shingles",
        "n_dup",
        r2(
            F.col("n_dup").cast("double") / F.col("n_shingles").cast("double"),
            6,
        ).alias("dup_fraction"),
    )


_UDTF_POLY_ORACLE = """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents
    )
    SELECT doc_id,
           w[1] AS tok0, w[2] AS tok1, w[3] AS tok2, w[4] AS tok3,
           CAST(len(w) AS BIGINT) AS n_tokens
    FROM t
"""


@_register("text_udtf_polymorphic", _UDTF_POLY_ORACLE)
def text_udtf_polymorphic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF — the analyze() half of the UDTF API
    (text_udtf_sentences certified the static-schema half): the
    output schema is computed AT PLAN TIME by the UDTF's static
    analyze(...) from its arguments — head_tokens(text, k) emits k
    tok columns plus a count, so `k=4` produces (tok0..tok3,
    n_tokens) without any hardcoded schema — then eval() runs
    per-row under a correlated LATERAL join against documents.
    Row-exactness is hash-certified against DuckDB list slicing
    (missing positions NULL-fill on both sides). analyze() asserts
    its width argument is a CONSTANT expression — the planning-time
    contract that makes argument-dependent schemas sound.

    Scale: same posture as every row-wise Python tier — Arrow batches
    over the scan, no shuffle; analyze() runs ONCE on the driver at
    plan time, so polymorphism costs nothing per row. The right tool
    when a table function's shape genuinely depends on its call site
    (unpivot-N, configurable feature heads); for fixed shapes the
    static-schema UDTF avoids the extra plan-time hop."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf
    class HeadTokens:
        @staticmethod
        def analyze(
            text: AnalyzeArgument, k: AnalyzeArgument
        ) -> AnalyzeResult:
            if not k.isConstantExpression:
                raise ValueError("k must be a constant expression")
            n = int(k.value)
            fields = [
                StructField(f"tok{i}", StringType()) for i in range(n)
            ]
            return AnalyzeResult(
                StructType(fields + [StructField("n_tokens", LongType())])
            )

        def eval(self, text: str, k: int):
            toks = [t for t in text.split(" ") if t]
            head = [toks[i] if i < len(toks) else None for i in range(k)]
            yield (*head, len(toks))

    spark.udtf.register("head_tokens", HeadTokens)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "docs_udtf_poly_v"
    )
    return spark.sql(
        """
        SELECT d.doc_id, t.*
        FROM docs_udtf_poly_v AS d,
             LATERAL head_tokens(d.text, 4) AS t
        """
    )


_PMI_ORACLE = """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS w
        FROM documents
    ),
    uni AS (
        SELECT u.x AS wd, CAST(COUNT(*) AS BIGINT) AS n
        FROM toks, UNNEST(w) AS u(x) GROUP BY 1
    ),
    big AS (
        SELECT w[CAST(u.i AS INT)] AS w1,
               w[CAST(u.i AS INT) + 1] AS w2
        FROM toks, UNNEST(range(1, len(w))) AS u(i)
    ),
    bc AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_xy
        FROM big GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM big)
    SELECT w1, w2, n_xy,
           CAST((n_xy * nb * 1000000) // (u1.n * u2.n) AS BIGINT)
               AS pmi_scaled
    FROM bc, tot
    JOIN uni u1 ON u1.wd = bc.w1
    JOIN uni u2 ON u2.wd = bc.w2
    WHERE n_xy >= 5
    ORDER BY pmi_scaled DESC, w1, w2 LIMIT 20
"""


@_register("text_pmi_collocations", _PMI_ORACLE)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLOCATION extraction by pointwise mutual information — the
    classic phrase-mining signal (which word pairs co-occur far more
    than their frequencies predict), ranked WITHOUT a single float:
    PMI = log(p(xy)/(p(x)p(y))) is monotone in the integer rational
    n_xy·N / (n_x·n_y), so the sort key is that ratio scaled to ppm by
    exact BIGINT arithmetic — the house integer-ranking rule (no
    cross-engine ln ULP can reorder the top-k), with (w1, w2) breaking
    exact score ties deterministically. Bigrams are adjacent
    within-doc token pairs built by an index transform over the token
    array (no self-join); a min-support gate (n_xy >= 5) keeps the
    rare-pair noise PMI is notorious for out of the ranking.

    Scale: explode volume is |tokens| for unigrams + |tokens| for
    bigrams; both aggregates partial-combine map-side; the unigram
    table joins back twice by word (broadcast at vocab scale) and one
    TakeOrdered produces the top-k — no shuffle carries text bodies,
    only words and counts. The BIGINT ranking is exactness-bounded
    (max_n_xy·N ≤ 2^63/1e6, checked and refused LOUDLY — Spark's
    non-ANSI mode would otherwise wrap silently where DuckDB errors);
    corpora past that bound rank in 128-bit (DECIMAL(38,0)/HUGEINT)
    or at a smaller ppm factor."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    base = docs.select(toks.alias("w"))
    uni = base.select(F.explode("w").alias("wd")).groupBy("wd").agg(
        F.count(F.lit(1)).alias("n")
    )
    pairs = base.filter(F.size("w") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1), i -> named_struct("
                "'w1', element_at(w, i), 'w2', element_at(w, i + 1)))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_xy"))
    # materialization barrier: the (nb, mx) scalar collect below and
    # the scored output job otherwise EACH execute the bigram explode +
    # aggregate; the checkpointed frame is the distinct-bigram count
    # table (vocab²-bounded, far smaller than the token stream). At
    # 100 TB use a reliable checkpoint (cf. dedup._cluster_by_bands).
    bc = bc.localCheckpoint(eager=False)
    row = bc.agg(
        F.sum("n_xy").alias("nb"), F.max("n_xy").alias("mx")
    ).first()
    nb, max_nxy = int(row.nb or 0), int(row.mx or 0)
    # BIGINT-exactness bound, enforced LOUDLY: Spark's non-ANSI mode
    # would silently WRAP n_xy*nb*1e6 past 2^63 (DuckDB errors), so the
    # integer ranking must refuse rather than mis-rank. Past this bound
    # the scale path is 128-bit arithmetic (DECIMAL(38,0) / HUGEINT) or
    # a smaller ppm factor — not silent wraparound.
    if max_nxy * nb > (1 << 63) // 1_000_000 - 1:
        raise ValueError(
            f"pmi ranking would overflow BIGINT (max n_xy={max_nxy}, "
            f"N={nb}); rescale the ppm factor or rank in 128-bit"
        )
    scored = (
        bc.filter(F.col("n_xy") >= 5)
        .join(F.broadcast(uni.withColumnRenamed("wd", "w1")
                          .withColumnRenamed("n", "n1")), "w1")
        .join(F.broadcast(uni.withColumnRenamed("wd", "w2")
                          .withColumnRenamed("n", "n2")), "w2")
        .select(
            "w1", "w2", "n_xy",
            F.expr(
                f"CAST((n_xy * {nb}L * 1000000L) DIV (n1 * n2) AS BIGINT)"
            ).alias("pmi_scaled"),
        )
    )
    return scored.orderBy(
        F.col("pmi_scaled").desc(), "w1", "w2"
    ).limit(20)


_RAKE_ORACLE = f"""
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS w
        FROM documents
    ),
    toks AS (
        SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
               w[CAST(u.i AS INT)] AS word
        FROM base, UNNEST(range(1, len(w) + 1)) AS u(i)
    ),
    members AS (
        SELECT doc_id, pos, word,
               pos - ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY pos) AS grp
        FROM toks
        WHERE word NOT IN ({{stops}})
    ),
    sized AS (
        SELECT doc_id, grp, pos, word,
               COUNT(*) OVER (PARTITION BY doc_id, grp) AS plen
        FROM members
    ),
    phrases AS (
        SELECT doc_id, grp,
               string_agg(word, ' ' ORDER BY pos) AS phrase
        FROM sized GROUP BY doc_id, grp
    ),
    wstats AS (
        SELECT word,
               CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(plen) AS BIGINT) AS degree
        FROM sized GROUP BY word
    ),
    wscore AS (
        SELECT word, (degree * 1000000) // freq AS score FROM wstats
    ),
    pscore AS (
        SELECT s.doc_id, s.grp,
               CAST(SUM(ws.score) AS BIGINT) AS score
        FROM sized s JOIN wscore ws ON ws.word = s.word
        GROUP BY s.doc_id, s.grp
    )
    SELECT p.phrase,
           CAST(MIN(ps.score) AS BIGINT) AS score,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM pscore ps JOIN phrases p
      ON p.doc_id = ps.doc_id AND p.grp = ps.grp
    GROUP BY p.phrase
    ORDER BY score DESC, phrase LIMIT 20
""".replace("{stops}", _sql_list(EN_STOPWORDS))


@_register("text_rake_keywords", _RAKE_ORACLE)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) — the classic
    unsupervised keyphrase miner: candidate phrases are maximal runs
    of non-stopword tokens (the gaps-and-islands split at stopwords,
    pos minus run-rank), each word scores degree/frequency (degree =
    the summed lengths of the phrases it appears in — words that
    travel in long phrases outrank loners), and a phrase scores the
    sum of its members. Ranked WITHOUT floats: word scores are
    (degree·1e6) DIV freq in exact BIGINT — sums of already-floored
    integers are order-free, so no cross-engine division or sum-order
    contract is needed anywhere — with (score, phrase) deterministic
    tie-breaks and the same loud overflow refusal as the PMI entry
    (degree is corpus-bounded; past 2^63/1e6 rank in 128-bit).

    Identical phrase segmentation on both engines: same tokenizer,
    same stopword list interpolated into the SQL, same island
    grouping. Scale: one explode, two window passes over (doc, pos)
    partitions, vocab-scale word stats broadcast back, one TakeOrdered
    — text bodies never shuffle, phrases do (bounded by token
    volume)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    exploded = docs.select(
        "doc_id", F.posexplode(toks).alias("pos", "word")
    )
    members = exploded.filter(~F.col("word").isin(*EN_STOPWORDS)).withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(W.partitionBy("doc_id").orderBy("pos")),
    )
    sized = members.withColumn(
        "plen", F.count(F.lit(1)).over(W.partitionBy("doc_id", "grp"))
    )
    # materialization barrier (the dedup_simhash pattern): `sized`
    # (explode + two window shuffles) feeds THREE legs (phrases, word
    # stats, phrase scores) plus the overflow-guard collect job, and
    # without the barrier the guard job and the output job each re-plan
    # the whole explode+window subtree. The checkpointed frame is the
    # token-run table a RAKE pass materializes anyway; at 100 TB use
    # a reliable checkpoint (cf. dedup._cluster_by_bands).
    sized = sized.localCheckpoint(eager=False)
    phrases = sized.groupBy("doc_id", "grp").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s.word,
            ),
            " ",
        ).alias("phrase")
    )
    wstats = sized.groupBy("word").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("plen").alias("degree"),
    )
    mx = wstats.agg(F.max("degree")).first()[0] or 0
    if int(mx) > (1 << 63) // 1_000_000 - 1:
        raise ValueError(
            f"rake scoring would overflow BIGINT (max degree={mx}); "
            "rescale the ppm factor or rank in 128-bit"
        )
    wscore = wstats.select(
        "word",
        F.expr("(degree * 1000000L) DIV freq").alias("score"),
    )
    pscore = (
        sized.join(F.broadcast(wscore), "word")
        .groupBy("doc_id", "grp")
        .agg(F.sum("score").alias("score"))
    )
    return (
        pscore.join(phrases, ["doc_id", "grp"])
        .groupBy("phrase")
        .agg(
            F.min("score").alias("score"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .orderBy(F.col("score").desc(), "phrase")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# HTML stripping + Unicode normalization (the web-corpus ingest gate)
# ---------------------------------------------------------------------------

# The fixture tail appended after tag-stripping decodes to exactly this
# (NFC form; both cafés compose to U+00E9) — frozen once, shared by the
# Spark docstring, the oracle below, and the pytest pins.
_HTML_CLEAN_TAIL = 'A & B CD café vs café "ok"'


# compiled ONCE at module load — html_clean runs per document inside
# the Arrow hot path, so per-call re.compile lookups and imports are
# pure overhead at corpus scale (r13 review)
import html as _html_mod
import re as _re
import unicodedata as _unicodedata

_HTML_BLOCK_RE = _re.compile(r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>")
_HTML_COMMENT_RE = _re.compile(r"(?s)<!--.*?-->")
_HTML_TAG_RE = _re.compile(r"<[^>]+>")
_HTML_ENTITY_RE = _re.compile(
    r"&(?:[A-Za-z][A-Za-z0-9]*|#[0-9]+|#[xX][0-9A-Fa-f]+);"
)
_HTML_WS_RE = _re.compile(r"[ \t\n\r\f]+")


def html_clean(s: str) -> tuple[str, int, int]:
    """The general-purpose HTML→text cleaner (pure helper, unit- and
    property-tested directly; the Spark entry wraps it in an Arrow
    batch stage): script/style blocks removed WITH content, comments
    removed, remaining tags replaced by spaces, the full named +
    numeric entity table decoded (html.unescape), Unicode NFC
    normalization, ASCII whitespace collapsed. Returns
    (clean_text, n_tags_stripped, n_entities_decoded)."""
    s = _HTML_BLOCK_RE.sub(" ", s)
    s = _HTML_COMMENT_RE.sub(" ", s)
    n_tags = len(_HTML_TAG_RE.findall(s))
    s = _HTML_TAG_RE.sub(" ", s)
    n_entities = len(_HTML_ENTITY_RE.findall(s))
    s = _html_mod.unescape(s)
    s = _unicodedata.normalize("NFC", s)
    s = _HTML_WS_RE.sub(" ", s).strip(" ")
    return s, n_tags, n_entities


_HTML_STRIP_ORACLE = """
    WITH m AS (
        SELECT doc_id,
               concat_ws(' ',
                   'Doc ' || CAST(doc_id AS VARCHAR),
                   nullif(trim(regexp_replace(
                       text, '[ \t\n\r\f]+', ' ', 'g'), ' '), ''),
                   'A & B CD caf' || chr(233) || ' vs caf' || chr(233)
                       || ' "ok"') AS clean
        FROM documents
        WHERE text NOT LIKE '%<%' AND text NOT LIKE '%>%'
              AND text NOT LIKE '%&%'
              AND NOT regexp_matches(text, '[^\\x00-\\x7F]')
    )
    SELECT doc_id,
           CAST(12 AS BIGINT) AS n_tags,
           CAST(7 AS BIGINT) AS n_entities,
           CAST(2 AS BIGINT) AS n_eacute,
           CAST(length(clean) AS BIGINT) AS clean_len,
           md5(clean) AS clean_digest
    FROM m
"""


@_register("text_html_strip", _HTML_STRIP_ORACLE)
def text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML stripping + entity decoding + Unicode NFC normalization —
    the ingest gate every web-scraped document passes BEFORE any
    downstream text operator (r12 VERDICT gap 2). The cleaner is the
    real general-purpose pass: script/style blocks removed WITH their
    content, comments removed, remaining tags replaced by spaces,
    entities decoded via the full named + numeric table
    (html.unescape), NFC normalization (unicodedata), and ASCII
    whitespace collapsed.

    Certification is byte-for-byte via the pipeline_pii_scrub
    template: each doc is wrapped in a fixture HTML envelope with
    known-positive spans for every cleaning stage — nested head
    matter, a script whose entity must NOT survive, 12 structural
    tags, named (&amp;/&eacute;/&quot;), decimal (&#67;) and hex
    (&#x44;) entities, and the NFC probe: 'caf&eacute;' decodes to
    precomposed U+00E9 while 'cafe&#769;' decodes to 'e' + combining
    acute — ONLY NFC makes them equal, so n_eacute (count of
    precomposed é in the output) reads 2 iff normalization ran, and
    the md5 of the cleaned text hash-diverges on any byte difference.
    Docs containing markup or non-ASCII characters are excluded in both
    engines (none exist in the corpus — the filter makes the
    fixture contract total).

    At 100 TB: the envelope build is a JVM concat in the scan
    projection; the cleaner runs in ONE Arrow-batched mapInPandas
    stage (regex + unescape + NFC are per-doc CPU, the canonical
    Python-tier shape), no shuffle anywhere — embarrassingly
    parallel ingest, exactly like the PII scrub."""
    return _html_strip_frame(load_table(spark, sf_dir, "documents"))


def _html_strip_frame(docs: DataFrame) -> DataFrame:
    """The whole envelope→clean pass as one stateless projection chain
    over a `documents` frame — batch and streaming share it verbatim
    (every operation is a per-row map, so stream micro-batches produce
    exactly the batch rows; streaming_html_strip_live certifies that
    under the same oracle)."""
    import hashlib
    from collections.abc import Iterator

    import pandas as pd

    docs = docs.filter(
        ~F.col("text").contains("<")
        & ~F.col("text").contains(">")
        & ~F.col("text").contains("&")
        # non-ASCII text is excluded in BOTH engines: the oracle's
        # fixture constants (n_eacute=2, raw-text concat) are exact
        # only when the document itself contributes no 'e-acute' and
        # no non-NFC sequence (r13 review; none exist in the corpus —
        # the filter makes the contract total, the ascii_seed pattern)
        & ~F.col("text").rlike("[^\\x00-\\x7F]")
    )
    envelope = F.concat(
        F.lit('<html><head><title>Doc '),
        F.col("doc_id").cast("string"),
        F.lit(
            "</title><style>p{color:red}</style>"
            "<script>if (1 &lt; 2) x();</script></head>"
            '<body><h1 class="t">'
        ),
        F.col("text"),
        F.lit(
            "</h1><p>A &amp; B &#67;&#x44; caf&eacute; vs cafe&#769;"
            " &quot;ok&quot;</p><!-- hidden --></body></html>"
        ),
    )
    src = docs.select("doc_id", envelope.alias("raw_html"))

    def clean_batches(
        it: Iterator["pd.DataFrame"],
    ) -> Iterator["pd.DataFrame"]:
        def clean_one(s: str) -> tuple[int, int, int, int, str]:
            clean, n_tags, n_entities = html_clean(s)
            return (
                n_tags,
                n_entities,
                clean.count("é"),
                len(clean),
                hashlib.md5(clean.encode("utf-8")).hexdigest(),
            )

        names = (
            "n_tags", "n_entities", "n_eacute", "clean_len", "clean_digest"
        )
        for pdf in it:
            cols = list(zip(*(clean_one(s) for s in pdf["raw_html"])))
            if not cols:  # empty Arrow batch
                cols = [[] for _ in names]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], **dict(zip(names, cols))}
            )

    return src.mapInPandas(
        clean_batches,
        "doc_id long, n_tags long, n_entities long, n_eacute long, "
        "clean_len long, clean_digest string",
    )


@_register("streaming_html_strip_live", _HTML_STRIP_ORACLE)
def streaming_html_strip_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The HTML/NFC ingest gate LIVE under the oracle hash gate — the
    17th live streaming certification and the first to put the
    Arrow-batched PYTHON tier (mapInPandas) inside a Structured
    Streaming run: the documents parquet replays as a file stream,
    the SAME _html_strip_frame used by the batch entry cleans each
    micro-batch (stateless projections only — no watermark, no state
    store), availableNow drains it through the memory sink in append
    mode, and the materialized rows hash against the identical batch
    oracle. This is the shape of a real streaming ingest gate: new
    crawl shards land as files, each micro-batch passes the full
    strip/unescape/NFC pass, and batch-stream equivalence is a
    CERTIFIED property, not an assumption.

    At 100 TB: identical economics to the batch form (narrow, no
    shuffle, per-doc CPU) plus streaming's exactly-once sink batches;
    the stateless pipeline means replays are idempotent per file."""
    from user_feed_cdc_spark.schemas import TABLE_SCHEMAS
    from user_feed_cdc_spark.streaming.windows import (
        run_to_memory,
        table_stream_dir,
    )

    docs = (
        spark.readStream.schema(TABLE_SCHEMAS["documents"])
        .option("maxFilesPerTrigger", "1")
        .parquet(table_stream_dir(sf_dir, "documents"))
    )
    return run_to_memory(
        spark,
        _html_strip_frame(docs),
        "streaming_html_strip_live_sink",
        "append",
    )


# ---------------------------------------------------------------------------
# Iterative BPE vocabulary learning (r13 VERDICT item 6)
# ---------------------------------------------------------------------------

_BPE_LEARN_ROUNDS = 4


def _bpe_learn_oracle(k: int) -> str:
    """Unrolled-CTE oracle for k alternating count->merge BPE rounds
    (the k-means/PageRank/Newton precedent): round r counts adjacent
    2-char pairs within words of t_{r-1}, picks argmax (n DESC, pair
    ASC), and t_r replaces it corpus-wide with the 1-char sentinel
    chr(r) — so merged symbols stay one char and round r+1's pair
    scan sees them as ordinary symbols, exactly BPE's training loop."""
    parts = ["WITH t0 AS (SELECT text AS t FROM documents)"]
    rows = []
    for r in range(1, k + 1):
        parts.append(f"""
    c{r} AS (
        SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
        FROM (
            SELECT UNNEST(list_transform(
                range(1, length(w)),
                i -> substring(w, CAST(i AS INT), 2))) AS pair
            FROM (SELECT UNNEST(string_split(t, ' ')) AS w FROM t{r - 1})
            WHERE length(w) >= 2
        )
        GROUP BY pair
    ),
    m{r} AS (SELECT pair, n FROM c{r} ORDER BY n DESC, pair LIMIT 1),
    t{r} AS (
        SELECT replace(t, (SELECT pair FROM m{r}), chr({r})) AS t
        FROM t{r - 1}
    )""")
        rows.append(f"""
    SELECT CAST({r} AS BIGINT) AS round,
           CAST(ascii(substring((SELECT pair FROM m{r}), 1, 1)) AS BIGINT)
               AS p1_code,
           CAST(ascii(substring((SELECT pair FROM m{r}), 2, 1)) AS BIGINT)
               AS p2_code,
           (SELECT n FROM m{r}) AS pair_n,
           (SELECT CAST(SUM(length(replace(t, ' ', ''))) AS BIGINT)
            FROM t{r}) AS symbols_after""")
    return ",".join(parts) + " " + " UNION ALL ".join(rows)


@_register(
    "text_bpe_learn_iterations", _bpe_learn_oracle(_BPE_LEARN_ROUNDS)
)
def text_bpe_learn_iterations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ITERATIVE BPE vocabulary learning — the full count->merge->
    re-segment training loop, k=_BPE_LEARN_ROUNDS=4 rounds, closing
    the last uncertified iterative-algorithm class in the text stack
    (text_bpe_merge_pairs certified ONE selection round;
    text_bpe_apply_merges the apply half). Round r counts adjacent
    symbol pairs within words of the round-(r-1) corpus, picks the
    deterministic argmax (count DESC, pair ASC — ties broken on token
    order), and rewrites the corpus with a 1-char sentinel chr(r), so
    the merged token participates in round r+1's pairs as one symbol:
    chained F.replace reproduces real BPE because every symbol is
    exactly one character (raw chars + sentinels; the sentinel-
    collision contract is shared with text_bpe_apply_merges). Output
    per round: the chosen pair (as two code points — sentinel merges
    of merges surface as codes 1..k), its count at selection time,
    and the corpus symbol total AFTER the merge — a wrong choice,
    count, or rewrite in ANY round cascades into every later row and
    hash-diverges against the unrolled-CTE oracle.

    Scale: each round is one corpus scan into an alphabet²-bounded
    pair aggregate (map-side combine) plus a ONE-ROW argmax collect
    rebroadcast into the next round's expression — the k-means/
    centroid-rebroadcast pattern (bounded collects by contract, k
    rounds total); the final frame re-evaluates all k chained
    replace columns in ONE distributed pass (the per-round collects
    only steer; every emitted number is recomputed in-plan), all
    string work in whole-stage codegen."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    merges: list[tuple[str, int]] = []
    for r in range(1, _BPE_LEARN_ROUNDS + 1):
        words = docs.select(
            F.explode(F.split(t, " ")).alias("w")
        ).filter(F.length("w") >= 2)
        top = (
            words.select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.length("w") - 1),
                        lambda i: F.col("w").substr(i, F.lit(2)),
                    )
                ).alias("pair")
            )
            .groupBy("pair")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), "pair")
            .first()
        )
        merges.append((top["pair"], int(top["n"])))
        t = F.replace(t, F.lit(top["pair"]), F.lit(chr(r)))

    # ONE distributed pass recomputes every round's post-merge symbol
    # total: t_r chains r replaces, so all four columns share the scan
    t = F.col("text")
    aggs = []
    for r, (pair, _n) in enumerate(merges, start=1):
        t = F.replace(t, F.lit(pair), F.lit(chr(r)))
        aggs.append(
            F.sum(F.length(F.replace(t, F.lit(" "), F.lit(""))))
            .cast("long")
            .alias(f"sym{r}")
        )
    totals = docs.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(r).cast("long").alias("round"),
                F.lit(ord(pair[0])).cast("long").alias("p1_code"),
                F.lit(ord(pair[1])).cast("long").alias("p2_code"),
                F.lit(n).cast("long").alias("pair_n"),
                F.col(f"sym{r}").alias("symbols_after"),
            )
            for r, (pair, n) in enumerate(merges, start=1)
        ]
    )
    return totals.select(F.explode(rows).alias("r")).select(
        "r.round", "r.p1_code", "r.p2_code", "r.pair_n",
        "r.symbols_after",
    )


_CHAR_ENTROPY_ORACLE = """
    WITH chars AS (
        SELECT doc_id, length(text) AS n,
               substr(text, CAST(i AS INT), 1) AS ch
        FROM documents, UNNEST(range(1, length(text) + 1)) AS t(i)
        WHERE length(text) >= 1
    ),
    counts AS (
        SELECT doc_id, n, ch, COUNT(*) AS cnt
        FROM chars GROUP BY doc_id, n, ch
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
           CAST(SUM(cnt * FLOOR(LN(n * 1.0 / cnt) * 1000000.0 + 0.5))
                AS BIGINT) // n AS h_micro,
           CAST(SUM(cnt * FLOOR(LN(n * 1.0 / cnt) * 1000000.0 + 0.5))
                AS BIGINT) // n < 2000000 AS low_diversity
    FROM counts
    GROUP BY doc_id, n
"""


@_register("text_char_entropy", _CHAR_ENTROPY_ORACLE)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy gibberish gate — the cheap screen quality
    pipelines (Dolma/C4-class) run before any model-based scoring:
    H = -sum p_c ln p_c over a document's character distribution.
    Keyboard mash, base64 blobs, and single-char floods sit far from
    natural text's ~2.6-3.0 nats; the gate flags documents below 2.0
    nats as low-diversity. Characters are enumerated by POSITION
    (substr over a 1..len range) on both engines — identical
    semantics by construction, where empty-pattern split rules
    diverge between engines.

    Cross-engine float contract (the surprisal family's freeze): each
    character class contributes cnt * floor(ln(n/cnt)*1e6 + 0.5) —
    the transcendental frozen to an integer micro BEFORE the
    count-weighted sum — and the per-doc entropy is one exact bigint
    floor-division; ratio >= 1 always, so every term is >= 0. Plan
    (r15 VERDICT finding 3 closed — no explode): the whole entropy is
    ONE in-row projection. Per doc, the chars are split, sorted, and
    folded as RUNS (run length = the class count, emitted when the
    character changes, finish-lambda flushes the last run) — the
    per-class term is identical to the replace-scan form but the cost
    is O(n log n) per doc instead of O(n·|alphabet|) full-string
    replace scans per distinct char (r16: 2.9 s → sub-second at sf0.1,
    the positional-substring enumeration was additionally quadratic in
    the UTF-8 offset walk). Zero joins, ZERO shuffles, zero
    intermediate rows — one output row per input row inside
    whole-stage codegen; at 100 TB the pass is scan-bound with
    nothing to spill. (Run-length identity: sum over runs of a sorted
    array ≡ sum over distinct classes with their counts — exact
    integer terms, order-free.) fan_out is the standard conditional
    spread (a no-op whenever the scan already yields ≥cores
    partitions, i.e. at any real scale): higher-order folds evaluate
    per element interpreted, and a single small file otherwise pins
    ~|corpus| lambda steps to one task while every other core idles
    (guide §2.5 input-skew remedy — same contract as the signature
    operators)."""
    from user_feed_cdc_spark.sources.tables import fan_out

    docs = fan_out(
        load_table(spark, sf_dir, "documents").filter(
            F.length("text") >= 1
        )
    )
    _term = (
        "acc.run * cast(floor(ln(length(text) * 1.0 / acc.run)"
        " * 1000000.0 + 0.5) as bigint)"
    )
    sum_t = F.expr(
        "aggregate("
        "  array_sort(split(text, '')),"
        "  named_struct('s', 0L, 'run', 0L, 'prev', ''),"
        "  (acc, c) -> named_struct("
        "    's', acc.s + CASE WHEN acc.run > 0L AND c != acc.prev"
        f"                 THEN {_term} ELSE 0L END,"
        "    'run', CASE WHEN c = acc.prev THEN acc.run + 1L"
        "                ELSE 1L END,"
        "    'prev', c),"
        f"  acc -> acc.s + CASE WHEN acc.run > 0L THEN {_term}"
        "                 ELSE 0L END)"
    )
    h = F.expr("sum_t DIV n")
    return (
        docs.select(
            "doc_id",
            F.length("text").alias("n"),
            sum_t.cast("long").alias("sum_t"),
        )
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_chars"),
            h.alias("h_micro"),
            (h < 2000000).alias("low_diversity"),
        )
    )
