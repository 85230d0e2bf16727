"""Text-analysis operators for LLM data pipelines: token counting, quality
scoring, stopword-based language ID, document fingerprinting.

All of these are pure column expressions (JVM-side, whole-stage codegen) —
no Python in the hot path, so they scale linearly with input splits and
never shuffle. Each has a DuckDB oracle built from the same regex
semantics (both engines: RE2-compatible patterns, global replace).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pyconnect_spark.operators._util import spread, t
from pyconnect_spark.query import QueryRegistry

REGISTRY = QueryRegistry()

# Tiny per-language marker lexicons (n-gram/stopword heuristic). The fixture
# corpus is synthetic, so discrimination quality is irrelevant — the operator
# mechanism (deterministic scoring + argmax with fixed tie order) is what is
# exercised and oracle-checked.
_LANG_MARKERS = {
    "en": r"\b(the|a|of|and|value|row)\b",
    "es": r"\b(el|la|de|que|los)\b",
    "fr": r"\b(le|la|les|des|une)\b",
    "de": r"\b(der|die|das|und|ein)\b",
    "zh": r"\b(big|merge|window)\b",
}
_TOKEN_RE = r"\s+"
_BPE_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"
_PUNCT_RE = r"[^\w\s]"
_STOP_RE = _LANG_MARKERS["en"]


def _count(col: str, pat: str) -> Column:
    return F.regexp_count(F.col(col), F.lit(pat))


def _sql_count(col: str, pat: str) -> str:
    # DuckDB: count regex occurrences via len(regexp_extract_all(...)).
    # NB: DuckDB single-quoted strings are standard SQL — backslash is NOT
    # an escape character, so the pattern goes in verbatim.
    pat_sql = pat.replace("'", "''")
    return f"CAST(len(regexp_extract_all({col}, '{pat_sql}')) AS INT)"


@REGISTRY.register(
    "tx01_text_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_calc,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
           CAST({_sql_count('text', _BPE_RE)} AS BIGINT) AS n_bpe_tokens,
           CAST({_sql_count('text', _PUNCT_RE)} AS BIGINT) AS n_punct,
           CAST({_sql_count('text', _STOP_RE)} AS BIGINT) AS n_stopwords,
           round(CAST({_sql_count('text', _STOP_RE)} AS DOUBLE)
                 / len(string_split_regex(trim(text), '\\s+')), 6) AS stopword_ratio
    FROM documents
    """,
    doc="Per-document token counts (whitespace + BPE-ish regex), punctuation "
    "and stopword ratios — the quality-scoring column pack.",
    tags=("text", "llm"),
)
def tx01(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim(F.col("text")), _TOKEN_RE))
    n_stop = _count("text", _STOP_RE)
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_calc"),
        n_tokens.cast("long").alias("n_tokens"),
        _count("text", _BPE_RE).cast("long").alias("n_bpe_tokens"),
        _count("text", _PUNCT_RE).cast("long").alias("n_punct"),
        n_stop.cast("long").alias("n_stopwords"),
        F.round(n_stop.cast("double") / n_tokens, 6).alias("stopword_ratio"),
    )


def _lang_guess_spark() -> Column:
    scores = {lang: _count("text", pat) for lang, pat in _LANG_MARKERS.items()}
    order = list(_LANG_MARKERS)  # fixed tie order: en > es > fr > de > zh
    expr = F.lit(order[-1])
    for lang in reversed(order[:-1]):
        cond = None
        for other in order:
            if other == lang:
                continue
            c = (
                scores[lang] >= scores[other]
                if order.index(other) > order.index(lang)
                else scores[lang] > scores[other]
            )
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def _lang_guess_sql() -> str:
    order = list(_LANG_MARKERS)
    scores = {lang: _sql_count("text", pat) for lang, pat in _LANG_MARKERS.items()}
    # Identical argmax w/ fixed tie-break: lang wins over laters with >=, over earliers with >.
    branches = []
    for lang in order[:-1]:
        conds = []
        for other in order:
            if other == lang:
                continue
            op = ">=" if order.index(other) > order.index(lang) else ">"
            conds.append(f"{scores[lang]} {op} {scores[other]}")
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(branches) + f" ELSE '{order[-1]}' END"


@REGISTRY.register(
    "tx02_lang_id",
    oracle=f"""
    SELECT doc_id, lang, {_lang_guess_sql()} AS lang_guess
    FROM documents
    """,
    doc="Stopword/n-gram-marker language ID: per-language regex hit counts, "
    "deterministic argmax with a fixed tie order.",
    tags=("text", "llm", "lang-id"),
)
def tx02(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "documents").select(
        "doc_id", "lang", _lang_guess_spark().alias("lang_guess")
    )


@REGISTRY.register(
    "tx04_quality_filter",
    oracle=f"""
    WITH stats AS (
      SELECT doc_id,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
             CAST({_sql_count('text', _STOP_RE)} AS DOUBLE)
               / len(string_split_regex(trim(text), '\\s+')) AS stop_ratio,
             CAST(length(text) AS DOUBLE)
               / len(string_split_regex(trim(text), '\\s+')) AS mean_tok_len
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN n_tokens < 10 THEN 'too_short'
                WHEN n_tokens > 5000 THEN 'too_long'
                WHEN stop_ratio < 0.01 THEN 'no_stopwords'
                WHEN mean_tok_len > 12 THEN 'gibberish'
                ELSE 'keep' END AS verdict,
           CAST(CASE WHEN n_tokens BETWEEN 10 AND 5000
                      AND stop_ratio >= 0.01 AND mean_tok_len <= 12
                     THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM stats
    """,
    doc="C4-style quality gate: length bounds, stopword-ratio floor, mean-"
    "token-length ceiling; first failing rule becomes the verdict. Pure "
    "column expressions — filters 100 TB at scan speed.",
    tags=("text", "llm", "quality"),
)
def tx04(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim(F.col("text")), _TOKEN_RE))
    stop_ratio = _count("text", _STOP_RE).cast("double") / n_tokens
    mean_tok_len = F.length("text").cast("double") / n_tokens
    verdict = (
        F.when(n_tokens < 10, "too_short")
        .when(n_tokens > 5000, "too_long")
        .when(stop_ratio < 0.01, "no_stopwords")
        .when(mean_tok_len > 12, "gibberish")
        .otherwise("keep")
    )
    keep = (
        F.when(
            n_tokens.between(10, 5000) & (stop_ratio >= 0.01) & (mean_tok_len <= 12), 1
        )
        .otherwise(0)
        .cast("long")
    )
    return docs.select("doc_id", verdict.alias("verdict"), keep.alias("keep"))


# Winnowing parameters: k-gram size and window width (Schleimer/Wilkerson/
# Aiken "Winnowing: Local Algorithms for Document Fingerprinting"). Any two
# documents sharing a run of ≥ k+w-1 chars share ≥1 fingerprint.
_WIN_K = 5
_WIN_W = 4
_WIN_P = 1_000_000_007
_WIN_B = 31


@REGISTRY.register(
    "tx05_winnow_fingerprint",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS s
      FROM documents
    ),
    cps AS (
      SELECT doc_id,
             list_transform(range(1, length(s) + 1),
                            i -> CAST(unicode(substr(s, CAST(i AS INT), 1)) AS BIGINT)) AS cp
      FROM norm
    ),
    kg AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(cp) - {_WIN_K - 1}, 1) + 1),
                            i -> list_reduce(
                                   list_prepend(CAST(0 AS BIGINT),
                                                list_slice(cp, i, i + {_WIN_K - 1})),
                                   (acc, x) -> (acc * {_WIN_B} + x) % {_WIN_P})) AS hs
      FROM cps
    ),
    fp AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(hs) - {_WIN_W - 1}, 1) + 1),
               j -> list_aggregate(list_slice(hs, j, j + {_WIN_W - 1}), 'min'))) AS fps
      FROM kg
    )
    SELECT doc_id,
           CAST(len(fps) AS BIGINT) AS n_fp,
           CAST(list_aggregate(fps, 'min') AS BIGINT) AS fp_min,
           CAST(list_aggregate(fps, 'sum') AS BIGINT) AS fp_sum
    FROM fp
    """,
    doc="Winnowing document fingerprints: rolling polynomial hash over "
    "5-gram codepoints of normalized text, min-of-4-window selection, "
    "distinct set. Pure higher-order column expressions (JVM, no shuffle); "
    "shared fingerprints detect local overlap that whole-doc hashing "
    "(tx03) misses.",
    tags=("text", "llm", "fingerprint", "winnowing"),
)
def tx05(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Each stage is materialized as its own column in a separate projection.
    # An expression tree captured inside a higher-order-function lambda is
    # re-evaluated on every element, so inlining `cp` into the `hs` lambda
    # (and `hs` into the `fps` lambda) turns an O(n·w) computation into
    # O(n^3) per document — a column reference inside the lambda is O(1).
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")).alias("_s"),
    )
    # per-char codepoints (substring with a *column* start needs expr form)
    cps = docs.select(
        "doc_id",
        F.expr(
            "transform(sequence(1, length(_s), 1), "
            "i -> CAST(ascii(substring(_s, i, 1)) AS BIGINT))"
        ).alias("_cp"),
    )
    cp = F.col("_cp")
    kg = cps.select(
        "doc_id",
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.size(cp) - (_WIN_K - 1), F.lit(1)), F.lit(1)
            ),
            lambda i: F.aggregate(
                F.slice(cp, i, _WIN_K),
                F.lit(0).cast("long"),
                lambda acc, x: (acc * _WIN_B + x) % _WIN_P,
            ),
        ).alias("_hs"),
    )
    hs = F.col("_hs")
    fp = kg.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size(hs) - (_WIN_W - 1), F.lit(1)), F.lit(1)
                ),
                lambda j: F.array_min(F.slice(hs, j, _WIN_W)),
            )
        ).alias("_fps"),
    )
    fps = F.col("_fps")
    return fp.select(
        "doc_id",
        F.size(fps).cast("long").alias("n_fp"),
        F.array_min(fps).cast("long").alias("fp_min"),
        F.aggregate(fps, F.lit(0).cast("long"), lambda a, x: a + x).alias("fp_sum"),
    )


@REGISTRY.register(
    "tx03_fingerprint",
    oracle="""
    SELECT doc_id,
           sha256(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
    doc="Document fingerprint: sha256 over whitespace-normalized, lowercased "
    "text — the exact-dedup key for content-addressed pipelines.",
    tags=("text", "llm", "fingerprint"),
)
def tx03(spark: SparkSession, sf_dir: str) -> DataFrame:
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return t(spark, sf_dir, "documents").select(
        "doc_id", F.sha2(norm, 256).alias("fp")
    )


@REGISTRY.register(
    "tx06_edit_distance",
    oracle="""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist,
           round(1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
                       / greatest(length(a.text), length(b.text)), 6) AS sim
    FROM documents a JOIN documents b ON a.doc_id < b.doc_id
    WHERE a.doc_id < 40 AND b.doc_id < 40
    ORDER BY dist, doc_a, doc_b
    LIMIT 50
    """,
    doc="Pairwise Levenshtein distance + normalized similarity over a "
    "bounded document slice (the exact-verification tier under the "
    "sketch-based dedup ops, like dd02's n-gram Jaccard). O(n^2) pairs x "
    "O(len^2) DP is intrinsically quadratic — the scale path is running "
    "it only on LSH candidate pairs (dd03/dd04), never all-pairs; the "
    "slice keeps the oracle check tractable. JVM-side levenshtein "
    "expression — no Python in the loop.",
    tags=("text", "llm", "similarity", "edit-distance"),
)
def tx06(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", "text")
    )
    a, b = docs.alias("a"), docs.alias("b")
    dist = F.levenshtein(F.col("a.text"), F.col("b.text"))
    sim = F.round(
        F.lit(1.0)
        - dist.cast("double")
        / F.greatest(F.length(F.col("a.text")), F.length(F.col("b.text"))),
        6,
    )
    return (
        a.join(F.broadcast(b), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.cast("long").alias("dist"),
            sim.alias("sim"),
        )
        .orderBy("dist", "doc_a", "doc_b")
        .limit(50)
    )


@REGISTRY.register(
    "tx07_hash_split",
    oracle="""
    SELECT doc_id,
           CAST(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100
                AS BIGINT) AS bucket,
           CASE WHEN CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 < 80
                THEN 'train'
                WHEN CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 < 90
                THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
    doc="Deterministic content-hash dataset split (train/val/test 80/10/10): "
    "the reproducible alternative to rand()-based sampling — a document "
    "lands in the same split on every run, every engine, every "
    "partitioning, and (critically for dedup-then-split pipelines) "
    "duplicate texts land in the SAME split, so no train/test leakage "
    "from near-copies that exact-dedup missed. Pure column expressions "
    "(md5 + hex decode) in codegen; no shuffle, no RNG state.",
    tags=("text", "llm", "sampling", "split"),
)
def tx07(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = (
        F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long") % 100
    )
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


@REGISTRY.register(
    "tx08_quality_suite",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents
    ),
    wc AS (SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY 1, 2),
    perdoc AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_words,
             CAST(MAX(c) AS BIGINT) AS top_word_count,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_words
      FROM wc GROUP BY 1
    ),
    grams AS (
      SELECT doc_id,
             string_split_regex(trim(text), '\\s+') AS l
      FROM documents
    ),
    g2 AS (
      SELECT doc_id,
             greatest(len(l) - 1, 0) AS n_2grams,
             len(list_distinct(list_transform(
                 range(1, greatest(len(l) - 1, 0) + 1),
                 i -> l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT) + 1])))
                 AS n_distinct_2grams,
             list_aggregate(list_transform(l, x -> CAST(length(x) AS DOUBLE)),
                            'sum') / len(l) AS mean_word_len
      FROM grams
    )
    SELECT p.doc_id,
           p.n_words,
           round(CAST(p.top_word_count AS DOUBLE) / p.n_words, 6)
               AS top_word_frac,
           round(1.0 - CAST(g.n_distinct_2grams AS DOUBLE)
                       / greatest(g.n_2grams, 1), 6) AS dup_2gram_frac,
           round(g.mean_word_len, 6) AS mean_word_len,
           round(CAST(p.n_distinct_words AS DOUBLE) / p.n_words, 6)
               AS uniq_word_ratio,
           (CAST(p.top_word_count AS DOUBLE) / p.n_words) <= 0.2
               AND (1.0 - CAST(g.n_distinct_2grams AS DOUBLE)
                          / greatest(g.n_2grams, 1)) <= 0.2
               AND p.n_words >= 10
               AND g.mean_word_len BETWEEN 2 AND 12
               AND (CAST(p.n_distinct_words AS DOUBLE) / p.n_words) >= 0.2
               AS keep
    FROM perdoc p JOIN g2 g ON p.doc_id = g.doc_id
    """,
    doc="Document quality suite — Gopher repetition filters (Rae et al. "
    "2021 §A1.1: top-word fraction, duplicate-2-gram fraction) plus the "
    "C4-style composite signals (word count, mean word length, unique-"
    "word ratio) and one combined keep gate (round-3 merge of "
    "tx08_gopher_repetition and tx09_quality_gate — one corpus pass "
    "instead of two). Two scale shapes on purpose: the word-mode signals "
    "(top-word, distinct-word) use a (doc_id, word) shuffle with "
    "map-side combine (a 100k-word doc must not build a per-row Python "
    "dict), while the 2-gram fraction and mean word length are "
    "shuffle-free array expressions inside one codegen stage.",
    tags=("text", "llm", "quality", "gopher"),
)
def tx08(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), _TOKEN_RE)
    # word-mode via explode + two-level agg (combiner-friendly at scale)
    perdoc = (
        docs.select("doc_id", F.explode(words).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.max("c").cast("long").alias("top_word_count"),
            F.count("*").cast("long").alias("n_distinct_words"),
        )
    )
    # 2-gram dup fraction + mean word length: pure array expressions, no shuffle
    l = words
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(l) - 1, F.lit(0))),
        lambda i: F.concat_ws(" ", F.element_at(l, i), F.element_at(l, i + 1)),
    )
    mean_len = (
        F.aggregate(
            F.transform(l, lambda w: F.length(w).cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        / F.size(l)
    )
    g2 = docs.select(
        "doc_id",
        F.greatest(F.size(l) - 1, F.lit(0)).alias("n_2grams"),
        F.size(F.array_distinct(grams)).alias("n_distinct_2grams"),
        mean_len.alias("mean_word_len"),
    )
    top_frac = F.col("top_word_count").cast("double") / F.col("n_words")
    dup_frac = F.lit(1.0) - F.col("n_distinct_2grams").cast("double") / F.greatest(
        F.col("n_2grams"), F.lit(1)
    )
    uniq = F.col("n_distinct_words").cast("double") / F.col("n_words")
    keep = (
        (top_frac <= 0.2)
        & (dup_frac <= 0.2)
        & (F.col("n_words") >= 10)
        & F.col("mean_word_len").between(2, 12)
        & (uniq >= 0.2)
    )
    return perdoc.join(g2, "doc_id").select(
        "doc_id",
        "n_words",
        F.round(top_frac, 6).alias("top_word_frac"),
        F.round(dup_frac, 6).alias("dup_2gram_frac"),
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round(uniq, 6).alias("uniq_word_ratio"),
        keep.alias("keep"),
    )


@REGISTRY.register(
    "tx10_vocab_topk",
    oracle="""
    SELECT word, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
          FROM documents)
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 50
    """,
    doc="Corpus-wide vocabulary top-k (the tokenizer-training word count): "
    "explode words, hash-aggregate with map-side partial counts, "
    "TakeOrderedAndProject for the top slice — the canonical "
    "shuffle-light wordcount at 100 TB (combiner shrinks the shuffle to "
    "|vocab| per partition, the sort never materializes).",
    tags=("text", "llm", "vocab"),
)
def tx10(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.trim(F.col("text")), _TOKEN_RE)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(50)
    )


@REGISTRY.register(
    "tx11_tfidf_keywords",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents
    ),
    tf AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
           FROM w GROUP BY 1, 2),
    df AS (SELECT word, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
           FROM w GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.word,
             round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) DESC,
                        tf.word) AS rk
      FROM tf JOIN df USING (word) CROSS JOIN n
    )
    SELECT doc_id, word, tfidf, CAST(rk AS BIGINT) AS rk
    FROM scored WHERE rk <= 3
    """,
    doc="TF-IDF keyword extraction: top-3 terms per document by "
    "tf * ln(N/df). The document-frequency table is |vocab| rows "
    "(combiner-shrunk, broadcast back to the TF side), the per-doc top-k "
    "is WindowGroupLimit — no global sort of the scored pairs. Scores "
    "round to 6dp before ranking so JVM/libm last-ulp differences in ln "
    "can't flip ranks between engines; ties break on the word itself.",
    tags=("text", "llm", "tfidf", "keywords"),
)
def tx11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.explode(F.split(F.trim(F.col("text")), _TOKEN_RE)).alias("word"))
    tf = w.groupBy("doc_id", "word").agg(F.count("*").cast("long").alias("tf"))
    df = w.groupBy("word").agg(F.count_distinct("doc_id").cast("long").alias("df"))
    # N stays IN the plan as a broadcast one-row scalar (no eager
    # docs.count() driver job at build time — building this query
    # launches zero Spark jobs).
    n = docs.agg(F.count("*").cast("double").alias("n_docs"))
    tfidf = F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6)
    win = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "word")
    return (
        tf.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "word", tfidf.alias("tfidf"))
        .withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "word", "tfidf", F.col("rk").cast("long").alias("rk"))
    )


@REGISTRY.register(
    "tx12_sequence_pack",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             CAST(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 16
                  AS BIGINT) AS shard,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
      FROM documents
    ),
    packed AS (
      SELECT shard, doc_id, n_tok,
             (SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - n_tok) // 2048
               AS seq_id
      FROM tok
    )
    SELECT shard, CAST(seq_id AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS seq_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM packed
    GROUP BY shard, seq_id
    ORDER BY shard, seq_id
    """,
    doc="Sequence packing for training-data assembly: documents are packed "
    "greedily (contiguous fill, in deterministic doc_id order) into "
    "~2048-token training sequences, independently inside each of 16 "
    "content-hash shards. This is the step between dedup/quality "
    "filtering and the shard writer (sources/layout.py): loaders want "
    "fixed-budget sequences, and packing must be reproducible so a "
    "re-run resumes into identical shards. The plan is one shuffle on "
    "the shard key, then a per-shard ordered window cumsum - packing "
    "parallelism equals shard count, so at 100 TB you raise the modulus "
    "(e.g. 64k shards) and every shard's window stays executor-sized; "
    "no global sort, no driver state. Sequence boundaries come from "
    "integer division of the exclusive running total - exact integer "
    "arithmetic, so Spark and the oracle agree bit-for-bit.",
    tags=("text", "llm", "packing", "window"),
)
def tx12(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    shard = (
        F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long") % 16
    )
    n_tok = F.size(F.split(F.trim(F.col("text")), _TOKEN_RE)).cast("long")
    tok = t(spark, sf_dir, "documents").select(
        "doc_id", shard.alias("shard"), n_tok.alias("n_tok")
    )
    w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    packed = (
        tok.withColumn("cum", F.sum("n_tok").over(w))
        .withColumn("seq_id", F.expr("(cum - n_tok) div 2048").cast("long"))
    )
    return (
        packed.groupBy("shard", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("seq_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("shard", "seq_id")
    )


@REGISTRY.register(
    "tx13_char_entropy",
    oracle="""
    WITH chars AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
    ),
    counts AS (
      SELECT doc_id, ch, COUNT(*) AS n FROM chars GROUP BY 1, 2
    ),
    tot AS (
      SELECT doc_id, CAST(SUM(n) AS DOUBLE) AS total, COUNT(*) AS n_distinct
      FROM counts GROUP BY 1
    )
    SELECT doc_id,
           CAST(total AS BIGINT) AS n_chars_seen,
           CAST(n_distinct AS BIGINT) AS n_distinct_chars,
           round(-SUM((n / total) * log2(n / total)), 6) AS char_entropy
    FROM counts JOIN tot USING (doc_id)
    GROUP BY doc_id, total, n_distinct
    """,
    doc="Per-document character-level Shannon entropy — a cheap, "
    "language-agnostic quality signal (boilerplate / binary-garbage / "
    "repeated-char documents score low; natural text sits near the "
    "language's typical entropy band). Two hash aggregations: "
    "(doc_id, char) counts, then a per-doc fold of -sum(p*log2 p). Both "
    "shuffles key on doc_id so at scale this is one exchange of "
    "(docs x alphabet) rows — the alphabet factor is a small constant, "
    "never corpus-sized. Rounded to 6dp so the two engines' summation "
    "orders cannot flip the value.",
    tags=("text", "llm", "quality", "entropy"),
)
def tx13(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    chars = docs.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
    counts = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("n"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("n").cast("double").alias("total"),
            F.count("*").cast("long").alias("n_distinct_chars"),
            F.sum(F.col("n") * F.log2("n")).alias("_sum_nlogn"),
        )
        .select(
            "doc_id",
            F.col("total").cast("long").alias("n_chars_seen"),
            "n_distinct_chars",
            # -sum(p log2 p) = log2(total) - sum(n log2 n)/total
            F.round(
                F.log2("total") - F.col("_sum_nlogn") / F.col("total"), 6
            ).alias("char_entropy"),
        )
    )


@REGISTRY.register(
    "tx14_zipf_audit",
    oracle="""
    WITH words AS (
      SELECT lang, unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents
    ),
    freq AS (
      SELECT lang, word, COUNT(*) AS n FROM words GROUP BY 1, 2
    ),
    ranked AS (
      SELECT lang, word, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, word) AS rk
      FROM freq
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           round(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rk AS DOUBLE))), 6)
               AS zipf_slope,
           round(regr_r2(ln(CAST(n AS DOUBLE)), ln(CAST(rk AS DOUBLE))), 6)
               AS zipf_r2
    FROM ranked WHERE rk <= 100
    GROUP BY lang
    """,
    doc="Zipf-law corpus audit: per language, the log-log regression slope "
    "of term frequency against frequency rank over the top-100 terms. "
    "Natural language sits near slope -1; a flat slope flags synthetic or "
    "template-heavy corpora, a cliff flags boilerplate domination — a "
    "distribution-level quality gate to complement the per-document ones "
    "(tx04/tx08/tx09). Wordcount is a combiner-shrunk aggregate; the "
    "per-language rank window runs on |vocab| rows (already corpus-"
    "independent), and regr_slope/regr_r2 are single-pass moment "
    "aggregates in both engines. Ranks tie-break on the word so the "
    "top-100 set is unique and both engines regress identical points.",
    tags=("text", "llm", "quality", "regression"),
)
def tx14(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    words = docs.select(
        "lang", F.explode(F.split(F.trim(F.col("text")), _TOKEN_RE)).alias("word")
    )
    freq = words.groupBy("lang", "word").agg(F.count("*").alias("n"))
    rk = F.row_number().over(Window.partitionBy("lang").orderBy(F.desc("n"), "word"))
    ranked = freq.withColumn("rk", rk).filter(F.col("rk") <= 100)
    ln_n = F.log(F.col("n").cast("double"))
    ln_rk = F.log(F.col("rk").cast("double"))
    return ranked.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_terms"),
        F.round(F.regr_slope(ln_n, ln_rk), 6).alias("zipf_slope"),
        F.round(F.regr_r2(ln_n, ln_rk), 6).alias("zipf_r2"),
    )


# PII / deny-list redaction patterns. The e-mail / IPv4 / long-number
# classes are the standard pre-training scrub set (C4 / RefinedWeb style);
# the deny-term class is the same machinery pointed at a configurable
# lexicon (here two corpus words, so the replacement path is actually
# exercised by the fixture — the synthetic corpus contains no real PII).
# Patterns are RE2-compatible and escape-free so Spark (Java regex) and
# DuckDB (RE2) interpret them identically.
_PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    ("number", r"\b\d{7,}\b", "[NUM]"),
    ("term", r"\b(spark|hash)\b", "[TERM]"),
)


def _tx15_oracle() -> str:
    red = "text"
    counts = []
    for name, pat, repl in _PII_PATTERNS:
        p = pat.replace("'", "''")
        red = f"regexp_replace({red}, '{p}', '{repl}', 'g')"
        counts.append(
            f"CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT) AS n_{name}"
        )
    return f"""
    WITH red AS (
      SELECT doc_id, {red} AS redacted, {', '.join(counts)}
      FROM documents
    )
    SELECT doc_id, n_email, n_ip, n_number, n_term,
           CAST(length(redacted) AS BIGINT) AS redacted_len,
           sha256(redacted) AS redacted_sha,
           (n_email + n_ip + n_number + n_term) = 0 AS clean
    FROM red
    """


@REGISTRY.register(
    "tx15_pii_redaction",
    oracle=_tx15_oracle(),
    doc="PII scrubbing pass: redact e-mail addresses, IPv4 addresses, long "
    "digit runs (phone/account numbers) and a deny-listed term lexicon, "
    "emitting per-class hit counts, the redacted text's length + sha256, "
    "and a `clean` gate for docs needing no redaction. Pure chained "
    "regexp_replace/regexp_count column expressions — map-only, zero "
    "shuffles, whole-stage codegen; at 100 TB this is scan-tier work that "
    "scales with input splits. Redaction order is fixed (email -> ip -> "
    "number -> term) so both engines transform identical intermediates; "
    "the sha256 of the redacted text makes the oracle compare the FULL "
    "output string without hauling it through the hash comparison.",
    tags=("text", "llm", "pii", "redaction"),
)
def tx15(spark: SparkSession, sf_dir: str) -> DataFrame:
    return redact_frame(t(spark, sf_dir, "documents"))


def redact_frame(docs: DataFrame) -> DataFrame:
    """The tx15 projection over any frame with (doc_id, text) — batch or
    STREAMING: pure stateless column expressions, so the same pack runs
    unchanged inside a Structured Streaming micro-batch (parity pinned by
    test_s20)."""
    red = F.col("text")
    cols = []
    for name, pat, repl in _PII_PATTERNS:
        red = F.regexp_replace(red, pat, repl)
        cols.append(F.regexp_count(F.col("text"), F.lit(pat)).cast("long").alias(f"n_{name}"))
    step = docs.select("doc_id", *cols, red.alias("redacted"))
    return step.select(
        "doc_id",
        "n_email",
        "n_ip",
        "n_number",
        "n_term",
        F.length("redacted").cast("long").alias("redacted_len"),
        F.sha2("redacted", 256).alias("redacted_sha"),
        (F.col("n_email") + F.col("n_ip") + F.col("n_number") + F.col("n_term") == 0).alias(
            "clean"
        ),
    )


@REGISTRY.register(
    "tx16_chunk_dedup",
    oracle=r"""
    WITH base AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(w, g*8+1, g*8+8), ' ')) AS chunk_key
      FROM base,
           LATERAL (SELECT unnest(range(0, CAST(floor(len(w)/8.0) AS BIGINT))) AS g)
    ),
    freq AS (
      SELECT chunk_key, COUNT(DISTINCT doc_id) AS df FROM chunks GROUP BY 1
    )
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared_chunks,
           round(SUM(CASE WHEN f.df >= 2 THEN 1.0 ELSE 0 END) / COUNT(*), 6)
               AS shared_chunk_frac
    FROM chunks c JOIN freq f USING (chunk_key)
    GROUP BY 1
    """,
    doc="Paragraph/segment-level exact dedup (the sub-document analog of "
    "dd01): split each doc into consecutive 8-word chunks, key each chunk "
    "by md5, and score every doc by the fraction of its chunks that also "
    "appear in at least one OTHER doc — the standard boilerplate / "
    "cross-site template detector that document-level fingerprints miss. "
    "Chunking is a shuffle-free array expression (slice over a sequence, "
    "no Python); the two aggregations key on the 16-byte md5 and doc_id, "
    "so at 100 TB the chunk-frequency exchange moves fixed-width hashes, "
    "never chunk text. Docs shorter than one chunk drop out (consistent "
    "in both engines).",
    tags=("text", "llm", "dedup", "chunk"),
)
def tx16(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), _TOKEN_RE)
    n_chunks = F.floor(F.size(w) / F.lit(8.0)).cast("int")
    idx = F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    chunk_keys = F.transform(
        idx, lambda g: F.md5(F.concat_ws(" ", F.slice(w, g * 8 + 1, 8)))
    )
    chunks = docs.select("doc_id", F.explode(chunk_keys).alias("chunk_key"))
    freq = chunks.groupBy("chunk_key").agg(
        F.count_distinct("doc_id").alias("df")
    )
    shared = F.when(F.col("df") >= 2, 1).otherwise(0)
    return (
        chunks.join(freq, "chunk_key")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(shared).cast("long").alias("n_shared_chunks"),
            F.round(
                F.sum(shared.cast("double")) / F.count("*"), 6
            ).alias("shared_chunk_frac"),
        )
    )


@REGISTRY.register(
    "tx17_bpe_pair_freq",
    oracle=r"""
    WITH words AS (
      SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
      FROM documents
    ),
    pairs AS (
      SELECT word[i:i+1] AS pair
      FROM words,
           LATERAL (SELECT unnest(range(1, CAST(length(word) AS BIGINT))) AS i)
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY 1 ORDER BY n DESC, pair LIMIT 20
    """,
    doc="BPE merge-candidate counting: the corpus-wide frequency of every "
    "adjacent character pair inside words, top-20 — the inner loop of "
    "byte-pair-encoding tokenizer training (Sennrich et al. 2016): each "
    "BPE iteration merges the argmax of exactly this table. One explode "
    "per word into length-1 two-char slices (shuffle-free array "
    "expression), one combiner-shrunk count keyed on the pair (alphabet"
    "^2-bounded key space — the exchange moves a few KB regardless of "
    "corpus size), and TakeOrderedAndProject for the top-20. At 100 TB "
    "this is the canonical map-side-combine aggregation: per-task "
    "partial counts over a tiny key domain, one fixed-size exchange. "
    "Ties break on the pair string so both engines pick the same set.",
    tags=("text", "llm", "tokenizer", "bpe"),
)
def tx17(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.trim(F.col("text")), _TOKEN_RE)).alias("word")
    )
    # sequence(1, 0) would DESCEND in Spark (not return empty), so words of
    # length < 2 must be excluded before the pair expansion
    idx = F.when(
        F.length("word") >= 2, F.sequence(F.lit(1), F.length("word") - 1)
    ).otherwise(F.array().cast("array<int>"))
    pairs = words.select(
        F.explode(
            F.transform(idx, lambda i: F.substring(F.col("word"), i, F.lit(2)))
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(20)
    )


@REGISTRY.register(
    "tx18_length_buckets",
    oracle=r"""
    WITH d AS (
      SELECT doc_id,
             len(string_split_regex(trim(text), '\s+')) AS n_tokens
      FROM documents
    ),
    b AS (
      SELECT doc_id, n_tokens,
             least(CAST(floor(n_tokens/16.0) AS BIGINT), 8) AS bucket
      FROM d
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           round(1.0 - CAST(SUM(n_tokens) AS DOUBLE)
                       / (COUNT(*) * MAX(n_tokens)), 6) AS pad_waste_frac
    FROM b GROUP BY 1
    """,
    doc="Length-bucketed batching audit: assign every doc to a 16-token-"
    "wide length bucket (capped at bucket 8) and report per-bucket doc "
    "count, max/sum token counts, and the pad-to-max waste fraction — "
    "the number that decides between static length-bucketed batching "
    "and tx12's sequence packing for a training run (waste ≈ tokens "
    "burned on padding if each bucket pads to its max). Scan-tier "
    "tokenize + one combiner-shrunk aggregation on a 9-value key: at "
    "100 TB the exchange carries 9 rows per task. The bucket cap bounds "
    "the key domain so a single pathological long doc cannot create a "
    "singleton bucket per length.",
    tags=("text", "llm", "batching", "audit"),
)
def tx18(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim(F.col("text")), _TOKEN_RE))
    b = docs.select(
        n_tokens.alias("n_tokens"),
        F.least(F.floor(n_tokens / F.lit(16.0)), F.lit(8)).cast("long").alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.round(
            F.lit(1.0)
            - F.sum("n_tokens").cast("double")
            / (F.count("*") * F.max("n_tokens")),
            6,
        ).alias("pad_waste_frac"),
    )


@REGISTRY.register(
    "tx19_split_oov",
    oracle="""
    WITH split AS (
      SELECT doc_id, text,
             CASE WHEN CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 < 80
                  THEN 'train'
                  WHEN CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 < 90
                  THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    words AS (
      SELECT split, unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM split
    ),
    train_vocab AS (
      SELECT DISTINCT word FROM words WHERE split = 'train'
    ),
    scored AS (
      SELECT w.split, w.word,
             CASE WHEN t.word IS NULL THEN 1 ELSE 0 END AS oov
      FROM words w LEFT JOIN train_vocab t ON w.word = t.word
      WHERE w.split <> 'train'
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(oov) AS BIGINT) AS n_oov_tokens,
           round(CAST(SUM(oov) AS DOUBLE) / COUNT(*), 6) AS oov_token_rate,
           CAST(COUNT(DISTINCT word) AS BIGINT) AS n_types,
           CAST(COUNT(DISTINCT CASE WHEN oov = 1 THEN word END) AS BIGINT)
               AS n_oov_types,
           round(CAST(COUNT(DISTINCT CASE WHEN oov = 1 THEN word END) AS DOUBLE)
                 / COUNT(DISTINCT word), 6) AS oov_type_rate
    FROM scored GROUP BY 1
    """,
    doc="Out-of-vocabulary audit across splits: token- and type-level OOV "
    "rates of the val/test splits against the TRAIN split's vocabulary, "
    "using tx07's deterministic md5 content split — the number that "
    "predicts eval-time tokenizer fallback/UNK rates and catches a split "
    "whose distribution drifted from train (a high type-OOV with low "
    "token-OOV means rare-word drift; both high means domain drift). "
    "Composition of existing primitives: hash split (tx07) + vocab "
    "derivation (tx10's wordcount shape) + a membership join. The vocab "
    "side is distinct words (combiner-shrunk); the membership join keys "
    "on the word — at 100 TB both sides shuffle once on the word (or "
    "the vocab broadcasts when it fits, the common case at ~10^6 "
    "types), and the per-split aggregates are 2-key combiner work.",
    tags=("text", "llm", "vocab", "split", "audit"),
)
def tx19(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long") % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    words = docs.select(
        split.alias("split"),
        F.explode(F.split(F.trim(F.col("text")), _TOKEN_RE)).alias("word"),
    )
    train_vocab = words.filter(F.col("split") == "train").select("word").distinct()
    scored = (
        words.filter(F.col("split") != "train")
        .join(
            train_vocab.withColumn("_in_vocab", F.lit(1)),
            "word",
            "left",
        )
        .select(
            "split", "word", F.when(F.col("_in_vocab").isNull(), 1).otherwise(0).alias("oov")
        )
    )
    oov_word = F.when(F.col("oov") == 1, F.col("word"))
    return scored.groupBy("split").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum("oov").cast("long").alias("n_oov_tokens"),
        F.round(F.sum("oov").cast("double") / F.count("*"), 6).alias("oov_token_rate"),
        F.count_distinct("word").cast("long").alias("n_types"),
        F.count_distinct(oov_word).cast("long").alias("n_oov_types"),
        F.round(
            F.count_distinct(oov_word).cast("double") / F.count_distinct("word"), 6
        ).alias("oov_type_rate"),
    )


@REGISTRY.register(
    "tx20_bigram_perplexity",
    oracle=r"""
    WITH words AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS word
      FROM documents
    ),
    pairs AS (
      SELECT doc_id, word[i:i+1] AS pair
      FROM words,
           LATERAL (SELECT unnest(range(1, CAST(length(word) AS BIGINT))) AS i)
    ),
    freq AS (
      SELECT pair, CAST(COUNT(*) AS BIGINT) AS n FROM pairs GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS nn FROM freq)
    SELECT p.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           round(-SUM(log2(f.n / t.nn)) / COUNT(*), 6) AS bits_per_bigram
    FROM pairs p JOIN freq f USING (pair) CROSS JOIN tot t
    GROUP BY 1
    """,
    doc="Character-bigram cross-entropy quality score: a unigram-over-"
    "bigrams language model trained on the corpus itself scores every "
    "document by average -log2 p(bigram) — the simplified form of the "
    "CCNet/RefinedWeb LM-perplexity quality tier (docs whose character "
    "statistics diverge from the corpus — binary junk, foreign scripts, "
    "codes — score high bits/bigram; typical text sits near the corpus "
    "entropy). Reuses tx17's pair expansion; the bigram model is an "
    "alphabet²-bounded frequency table that joins BROADCAST back to the "
    "per-doc pair stream, so at 100 TB the only corpus-sized work is "
    "the scan-side expansion and a doc_id-keyed combiner aggregation — "
    "the 'LM' itself is a few KB, exactly why this tier is so cheap to "
    "run corpus-wide. A real deployment swaps in a KenLM scorer behind "
    "the same join-free per-partition shape.",
    tags=("text", "llm", "quality", "perplexity"),
)
def tx20(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), _TOKEN_RE)).alias("word")
    )
    idx = F.when(
        F.length("word") >= 2, F.sequence(F.lit(1), F.length("word") - 1)
    ).otherwise(F.array().cast("array<int>"))
    pairs = words.select(
        "doc_id",
        F.explode(
            F.transform(idx, lambda i: F.substring(F.col("word"), i, F.lit(2)))
        ).alias("pair"),
    )
    freq = pairs.groupBy("pair").agg(F.count("*").cast("long").alias("n"))
    tot = freq.agg(F.sum("n").cast("double").alias("nn"))
    scored = pairs.join(F.broadcast(freq), "pair").crossJoin(F.broadcast(tot))
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(
            -F.sum(F.log2(F.col("n") / F.col("nn"))) / F.count("*"), 6
        ).alias("bits_per_bigram"),
    )


@REGISTRY.register(
    "tx21_word_dropout",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents
    ),
    kept AS (
      SELECT doc_id,
             list_filter(list_transform(range(1, len(toks) + 1),
                 i -> CASE WHEN CAST(('0x' || substr(md5(
                               CAST(doc_id AS VARCHAR) || ':' ||
                               CAST(i AS VARCHAR)), 1, 8)) AS BIGINT)
                               % 10 <> 0
                           THEN toks[CAST(i AS INT)] END),
                 x -> x IS NOT NULL) AS aug,
             len(toks) AS n_orig
      FROM w
    )
    SELECT doc_id, CAST(n_orig AS BIGINT) AS n_tokens,
           CAST(len(aug) AS BIGINT) AS n_kept,
           md5(array_to_string(aug, ' ')) AS aug_md5
    FROM kept
    """,
    doc="Deterministic data augmentation: 10% word dropout where the mask "
    "comes from md5(doc_id:position) instead of RNG — the augmentation "
    "counterpart of tx07's hash split, giving reproducible augmented "
    "corpora (same doc -> same augmented text on every run, engine, and "
    "partitioning, so training jobs are re-runnable and augmented dedup "
    "is meaningful). Emits per-doc original/kept token counts and the "
    "md5 of the augmented text so the oracle checks the full output "
    "string. Pure array expressions in one codegen stage — zero "
    "shuffles, scan-tier cost; a seed column swap gives fresh epochs "
    "(md5(seed:doc:pos)) with the same machinery.",
    tags=("text", "llm", "augmentation", "dropout"),
)
def tx21(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), _TOKEN_RE)
    staged = docs.select("doc_id", toks.alias("toks"))
    keep = lambda i: (  # noqa: E731 — md5-derived positional mask
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), i.cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 10
        != 0
    )
    aug = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.size("toks")),
            lambda i: F.when(keep(i), F.element_at("toks", i)),
        ),
        lambda x: x.isNotNull(),
    )
    return staged.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(aug).cast("long").alias("n_kept"),
        F.md5(F.concat_ws(" ", aug)).alias("aug_md5"),
    )


def remove_boilerplate(docs: DataFrame, min_df: int = 2) -> DataFrame:
    """Frame-level boilerplate removal: returns (doc_id, n_chunks, n_kept,
    clean_text) with corpus-frequent chunks (md5 seen in >= min_df
    distinct docs) cut and survivors re-joined in original order — the
    reusable pipeline stage behind tx22 (which hashes clean_text for the
    oracle compare). Same plan shape: one md5-keyed frequency exchange +
    one per-doc reassembly."""
    w = F.split(F.trim(F.col("text")), _TOKEN_RE)
    n_chunks = F.floor(F.size(w) / F.lit(8.0)).cast("int")
    idx = F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    chunk_structs = F.transform(
        idx,
        lambda g: F.struct(
            g.alias("chunk_idx"), F.concat_ws(" ", F.slice(w, g * 8 + 1, 8)).alias("ctext")
        ),
    )
    chunks = docs.select("doc_id", F.inline(chunk_structs))
    freq = chunks.groupBy(F.md5("ctext").alias("chunk_key")).agg(
        F.count_distinct("doc_id").alias("df")
    )
    kept = F.col("df") < min_df
    joined = chunks.withColumn("chunk_key", F.md5("ctext")).join(freq, "chunk_key")
    surv = F.array_sort(
        F.collect_list(F.when(kept, F.struct("chunk_idx", "ctext")))
    )
    return joined.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum(kept.cast("int")).cast("long").alias("n_kept"),
        F.array_join(F.transform(surv, lambda s: s["ctext"]), " ").alias("clean_text"),
    )


@REGISTRY.register(
    "tx22_boilerplate_removal",
    oracle=r"""
    WITH base AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ),
    chunks AS (
      SELECT doc_id, g AS chunk_idx,
             array_to_string(list_slice(w, g*8+1, g*8+8), ' ') AS ctext
      FROM base,
           LATERAL (SELECT unnest(range(0, CAST(floor(len(w)/8.0) AS BIGINT))) AS g)
    ),
    freq AS (
      SELECT md5(ctext) AS chunk_key, COUNT(DISTINCT doc_id) AS df
      FROM chunks GROUP BY 1
    )
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN f.df < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(md5(string_agg(c.ctext, ' ' ORDER BY c.chunk_idx)
                            FILTER (WHERE f.df < 2)),
                    md5('')) AS clean_md5
    FROM chunks c JOIN freq f ON f.chunk_key = md5(c.ctext)
    GROUP BY 1
    """,
    doc="Corpus-frequency boilerplate REMOVAL — the write side of tx16's "
    "detector (C4's 'discard any line seen more than once' rule, Raffel "
    "et al. 2020, applied at the 8-word-chunk granularity this corpus "
    "supports): every chunk whose md5 appears in >= 2 distinct docs is "
    "cut, the surviving chunks are re-joined IN ORIGINAL ORDER, and the "
    "cleaned text is emitted as counts + md5 so the oracle verifies the "
    "exact reconstructed string without shipping full texts through the "
    "compare. Chunking is the same shuffle-free array expression as "
    "tx16/x42; the df table keys on the 16-byte md5 (combiner-shrunk "
    "exchange); reassembly is collect_list of (idx, text) structs under "
    "a doc_id agg — array_sort makes the order deterministic under ANY "
    "shuffle partitioning, which is what makes the md5 comparable at "
    "all. At 100 TB the chunk-frequency frame is the only corpus-wide "
    "exchange (fixed-width keys), and the per-doc reassembly shuffles "
    "each doc's surviving chunk texts once — the same cost profile as "
    "the dedup pass a crawl pipeline already runs. Docs shorter than "
    "one chunk drop out (consistent in both engines).",
    tags=("text", "llm", "boilerplate", "dedup", "c4"),
)
def tx22(spark: SparkSession, sf_dir: str) -> DataFrame:
    cleaned = remove_boilerplate(t(spark, sf_dir, "documents"))
    return cleaned.select(
        "doc_id", "n_chunks", "n_kept", F.md5("clean_text").alias("clean_md5")
    )


@REGISTRY.register(
    "tx23_vocab_coverage",
    oracle=r"""
    WITH words AS (
      SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
      FROM documents
    ),
    counts AS (SELECT word, COUNT(*) AS n FROM words GROUP BY 1),
    ranked AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, word) AS r FROM counts
    ),
    agg AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total_tokens,
             CAST(SUM(CASE WHEN r <= 1 THEN n ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN r <= 4 THEN n ELSE 0 END) AS BIGINT) AS c4,
             CAST(SUM(CASE WHEN r <= 8 THEN n ELSE 0 END) AS BIGINT) AS c8,
             CAST(SUM(CASE WHEN r <= 16 THEN n ELSE 0 END) AS BIGINT) AS c16
      FROM ranked
    )
    SELECT k, covered_tokens, total_tokens,
           round(CAST(covered_tokens AS DOUBLE) / total_tokens, 6) AS coverage
    FROM (
      SELECT CAST(1 AS BIGINT) AS k, c1 AS covered_tokens, total_tokens FROM agg
      UNION ALL SELECT 4, c4, total_tokens FROM agg
      UNION ALL SELECT 8, c8, total_tokens FROM agg
      UNION ALL SELECT 16, c16, total_tokens FROM agg
    )
    """,
    doc="Vocabulary-coverage curve: the fraction of all token occurrences "
    "covered by the top-k most frequent words, at a ladder of cutoffs — "
    "THE sizing input for tokenizer vocab selection and for tx19's UNK "
    "analysis (pick the k where the curve's marginal gain collapses; "
    "real corpora ladder 32k/64k/128k — the fixture's 31-word soup uses "
    "1/4/8/16 so the curve actually bends). One combiner-shrunk word "
    "count; only the top-max(k) words can contribute to any cutoff, so "
    "they arrive via TakeOrderedAndProject (per-partition top-k, no "
    "global vocab sort — at web scale the vocabulary is 10^8+ rows, and "
    "the full-frame rank window this replaced was the round-5 verdict's "
    "tx23 scale flag) and rank by a 16-row broadcast triangular join. "
    "Ties rank by (count desc, word) so both engines pick identical "
    "prefixes.",
    tags=("text", "llm", "tokenizer", "vocab", "coverage"),
)
def tx23(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyconnect_spark.operators.rankops import rank_small_frame

    docs = t(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split(F.trim(F.col("text")), _TOKEN_RE)).alias("word"))
    counts = words.groupBy("word").agg(F.count("*").alias("n"))
    ks = (1, 4, 8, 16)
    # only the top-max(ks) words can ever contribute to a covered_tokens
    # cutoff, so take THAT slice via TakeOrderedAndProject (per-partition
    # top-k — the full-vocab row_number this replaces was a single
    # partition sorting 10^8+ rows at web scale) and rank the 16 survivors
    # with a broadcast triangular join the optimizer can see through
    top = counts.orderBy(F.desc("n"), "word").limit(max(ks))
    ranked_top = rank_small_frame(
        top, F.struct((-F.col("n")).alias("nn"), F.col("word").alias("w")), rank_col="r"
    )
    cov = ranked_top.agg(
        *[
            F.sum(F.when(F.col("r") <= k, F.col("n")).otherwise(0))
            .cast("long")
            .alias(f"c{k}")
            for k in ks
        ],
    )
    tot = counts.agg(F.sum("n").cast("long").alias("total_tokens"))
    agg = cov.crossJoin(F.broadcast(tot))
    tall = agg.select(
        F.expr(
            "stack(4, CAST(1 AS BIGINT), c1, CAST(4 AS BIGINT), c4,"
            " CAST(8 AS BIGINT), c8, CAST(16 AS BIGINT), c16)"
            " AS (k, covered_tokens)"
        ),
        "total_tokens",
    )
    return tall.select(
        "k",
        "covered_tokens",
        "total_tokens",
        F.round(F.col("covered_tokens").cast("double") / F.col("total_tokens"), 6).alias(
            "coverage"
        ),
    )


def _textrank_oracle(n_iter: int = 5, damping: float = 0.85) -> str:
    """Unrolled power-iteration CTE chain: r0..r{n_iter} — PageRank needs
    an aggregate per step, which recursive CTEs disallow, so the oracle
    unrolls the fixed iteration count instead (bit-comparable after 6dp
    rounding)."""
    steps = []
    for i in range(1, n_iter + 1):
        steps.append(
            f"""r{i} AS (
      SELECT nodes.word AS word,
             {1 - damping:.2f}/nn.n + {damping:.2f}*COALESCE(c.c, 0) AS r
      FROM nodes CROSS JOIN nn
      LEFT JOIN (
        SELECT t.dst AS word, SUM(t.p * r{i-1}.r) AS c
        FROM trans t JOIN r{i-1} ON r{i-1}.word = t.src GROUP BY 1
      ) c USING (word)
    )"""
        )
    return rf"""
    WITH tok AS (
      SELECT doc_id, i AS pos, w[CAST(i AS INT)] AS word
      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
            FROM documents),
           LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i)
    ),
    edges AS (
      SELECT a.word AS src, b.word AS dst, CAST(COUNT(*) AS DOUBLE) AS w
      FROM tok a JOIN tok b
        ON a.doc_id = b.doc_id AND a.word <> b.word
       AND b.pos - a.pos IN (-2, -1, 1, 2)
      GROUP BY 1, 2
    ),
    outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY 1),
    trans AS (SELECT e.src, e.dst, e.w / o.ow AS p
              FROM edges e JOIN outw o USING (src)),
    nodes AS (SELECT DISTINCT src AS word FROM edges),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    r0 AS (SELECT word, 1.0/nn.n AS r FROM nodes CROSS JOIN nn),
    {",".join(steps)}
    SELECT word, round(r, 6) AS pagerank FROM r{n_iter}
    """


@REGISTRY.register(
    "tx24_textrank_keywords",
    oracle=_textrank_oracle(),
    doc="TextRank keyword centrality (Mihalcea & Tarau 2004): PageRank "
    "over the word co-occurrence graph (edges = word pairs within a "
    "±2-token window, weighted by co-occurrence count; damping 0.85, 5 "
    "power iterations from a uniform start) — the unsupervised keyword/ "
    "keyphrase scorer that needs no training data, and the third "
    "keyword tier here after tx10's raw counts and tx11's TF-IDF. "
    "Distribution shape: tokenization + windowed pair expansion are "
    "scan-tier array ops; the edge aggregation keys on word pairs "
    "(vocab²-bounded exchange, like tx17); each power iteration is one "
    "broadcast-sized join + one vocab-keyed aggregation over the "
    "TRANSITION table, never the corpus — iteration cost is graph-"
    "sized, so 100 TB of documents pay only the one edge-extraction "
    "pass, exactly the shape of dd05's label propagation and x43's "
    "recursive walk. The oracle unrolls the 5 iterations as chained "
    "CTEs (aggregates are illegal in recursive CTEs), so the whole "
    "fixed-point computation is value-checked in DuckDB.",
    tags=("text", "llm", "keywords", "graph", "pagerank"),
)
def tx24(spark: SparkSession, sf_dir: str, n_iter: int = 5, damping: float = 0.85) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), _TOKEN_RE)
    # Windowed co-occurrence pairs generated MAP-SIDE from the token array
    # (guide §2.4: remove shuffles outright): the former posexplode +
    # positional self-join shuffled the exploded token frame twice and
    # joined it against itself; the ±1/±2 window only ever pairs
    # positions inside one document, so both directions of every ordered
    # pair come straight out of the array — one narrow stage into the
    # vocab²-keyed edge aggregation, zero joins. Pair multiset is
    # identical: forward offsets (+1, +2) emitted as (x, y), their
    # mirrored (-1, -2) rows as (y, x).
    toks = spread(docs.select("doc_id", "text"), "doc_id").select(
        w.alias("w")
    )
    n = F.size("w")

    def _fwd(j: int):
        idx = F.when(n > j, F.sequence(F.lit(1), n - j)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            idx,
            lambda i: F.struct(
                F.element_at("w", i).alias("x"),
                F.element_at("w", i + j).alias("y"),
            ),
        )

    edges = (
        toks.select(F.explode(F.concat(_fwd(1), _fwd(2))).alias("pr"))
        .where(F.col("pr.x") != F.col("pr.y"))
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("pr.x").alias("src"), F.col("pr.y").alias("dst")
                    ),
                    F.struct(
                        F.col("pr.y").alias("src"), F.col("pr.x").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("w"))
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    trans = edges.join(outw, "src").select("src", "dst", (F.col("w") / F.col("ow")).alias("p"))
    # Materialize the graph ONCE: every power iteration references trans
    # and nodes, and an uncached lazy plan would re-run the corpus
    # self-join PER REFERENCE (~44 document scans for 5 iterations — the
    # plan test pins this closed). The cached frames are vocab²-bounded,
    # which is the whole reason iteration cost is graph-sized; at 100 TB
    # the equivalent move is writing the edge table to parquet once.
    from pyconnect_spark.cachereg import track

    trans = track(trans.cache())
    trans.count()
    nodes = track(trans.select(F.col("src").alias("word")).distinct().cache())
    nn = nodes.agg(F.count("*").cast("double").alias("n"))
    ranks = nodes.crossJoin(F.broadcast(nn)).select("word", (F.lit(1.0) / F.col("n")).alias("r"))
    # Iteration frames are vocab-bounded — broadcast them so the cached
    # transition table is never re-shuffled (same move as x70, guide §3.1).
    for _ in range(n_iter):
        contrib = (
            trans.join(F.broadcast(ranks.withColumnRenamed("word", "src")), "src")
            .groupBy(F.col("dst").alias("word"))
            .agg(F.sum(F.col("p") * F.col("r")).alias("c"))
        )
        ranks = (
            nodes.crossJoin(F.broadcast(nn))
            .join(F.broadcast(contrib), "word", "left")
            .select(
                "word",
                (
                    F.lit(1 - damping) / F.col("n")
                    + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return ranks.select("word", F.round("r", 6).alias("pagerank"))


@REGISTRY.register(
    "tx25_effective_tokens",
    oracle=r"""
    WITH base AS (
      SELECT doc_id, source, md5(text) AS f,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                 AS n_tok
      FROM documents
    ),
    uniq AS (
      SELECT source, f, MIN(n_tok) AS n_tok, MIN(doc_id) AS keeper
      FROM base GROUP BY 1, 2
    )
    SELECT b.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(b.n_tok) AS BIGINT) AS raw_tokens,
           CAST((SELECT SUM(u.n_tok) FROM uniq u WHERE u.source = b.source)
                AS BIGINT) AS effective_tokens,
           round(1 - (SELECT SUM(u.n_tok) FROM uniq u
                      WHERE u.source = b.source) * 1.0 / SUM(b.n_tok), 6)
               AS dup_token_frac
    FROM base b GROUP BY 1
    """,
    doc="Effective-token accounting: per source, raw token volume vs the "
    "token volume surviving exact dedup — THE number a training-data "
    "plan is sized from (epochs and mixture weights are quoted in "
    "effective tokens, and a source whose dup_token_frac is high "
    "contributes far less signal than its raw bytes suggest). Token "
    "counts ride the same scan as the md5 fingerprint; the dedup "
    "collapse aggregates on (source, 16-byte fp) — the dd01 exchange "
    "with a token-sum payload — and identical texts are counted once "
    "per source (keeper = min doc_id, deterministic). Raw and "
    "effective sums come from one scan + one hash-keyed agg; no text "
    "moves.",
    tags=("text", "llm", "tokens", "dedup", "accounting"),
)
def tx25(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        F.md5("text").alias("f"),
        F.size(F.split(F.trim(F.col("text")), _TOKEN_RE)).cast("long").alias("n_tok"),
    )
    raw = base.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("raw_tokens"),
    )
    uniq = base.groupBy("source", "f").agg(F.min("n_tok").alias("n_tok"))
    eff = uniq.groupBy("source").agg(F.sum("n_tok").cast("long").alias("effective_tokens"))
    return raw.join(eff, "source").select(
        "source",
        "n_docs",
        "raw_tokens",
        "effective_tokens",
        F.round(
            1 - F.col("effective_tokens").cast("double") / F.col("raw_tokens"), 6
        ).alias("dup_token_frac"),
    )


@REGISTRY.register(
    "tx26_lang_leakage",
    oracle="""
    WITH fp AS (
      SELECT md5(text) AS f, lang, doc_id FROM documents
    ),
    grp AS (
      SELECT f,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
      FROM fp GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct_texts,
           CAST(SUM(CASE WHEN n_langs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cross_lang_texts,
           CAST(SUM(CASE WHEN n_langs > 1 THEN n_docs ELSE 0 END) AS BIGINT)
               AS n_docs_affected,
           round(SUM(CASE WHEN n_langs > 1 THEN 1.0 ELSE 0 END) / COUNT(*), 6)
               AS leakage_frac
    FROM grp
    """,
    doc="Language-label leakage audit: identical text appearing under "
    "MORE THAN ONE language label — always a labeling bug (the same "
    "bytes cannot be two languages), and a quiet poisoner of "
    "per-language mixture weights, tx02-style lang-ID training "
    "sets, and tx19's per-split vocabularies. One fingerprint "
    "aggregation carrying a distinct-lang count (16-byte keys, the "
    "dd01 exchange with a lang payload); reports affected distinct "
    "texts, affected doc rows, and the leakage fraction. The same "
    "shape audits ANY label column against content identity — swap "
    "lang for source (dd11 does the pairwise version) or license tag.",
    tags=("text", "llm", "lang", "audit", "labels"),
)
def tx26(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    grp = docs.groupBy(F.md5("text").alias("f")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
    )
    multi = F.col("n_langs") > 1
    return grp.agg(
        F.count("*").cast("long").alias("n_distinct_texts"),
        F.sum(multi.cast("int")).cast("long").alias("n_cross_lang_texts"),
        F.sum(F.when(multi, F.col("n_docs")).otherwise(0)).cast("long").alias(
            "n_docs_affected"
        ),
        F.round(F.sum(multi.cast("double")) / F.count("*"), 6).alias("leakage_frac"),
    )


def tx27(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality score (Arrow-batched pandas UDF): each
    document's zlib-compressed size over raw size — the model-free
    repetition/junk detector used across crawl pipelines (highly
    compressible text is template/repeated filler even when tx08's
    explicit n-gram counters miss the pattern; near-incompressible text
    is often encoded blobs or noise — BOTH tails get flagged). zlib has
    no SQL analog, so this is a declared rows-only query (same tier as
    the Gaussian ANN projections) verified instead by a pytest replay
    against direct python zlib on the same strings. The UDF is an
    Arrow-batched pandas_udf (one python call per batch, not per row —
    b24 documents the per-row cost this avoids); at 100 TB this is the
    pattern every 'needs-a-C-library' scorer follows."""
    from pyspark.sql.functions import pandas_udf

    def _ratios(texts):
        import zlib

        return texts.map(
            lambda s: round(
                len(zlib.compress(s.encode("utf-8"), 6)) / max(len(s.encode("utf-8")), 1), 6
            )
        )

    # lambda form: under `from __future__ import annotations` the hinted
    # form stringifies to 'pd.Series', which pyspark cannot resolve here
    zratio = pandas_udf(_ratios, "double")

    docs = t(spark, sf_dir, "documents")
    scored = docs.select("doc_id", zratio("text").alias("zlib_ratio"))
    flagged = scored.select(
        "doc_id",
        "zlib_ratio",
        F.when((F.col("zlib_ratio") < 0.25) | (F.col("zlib_ratio") > 0.95), 1)
        .otherwise(0)
        .cast("long")
        .alias("flagged"),
    )
    return flagged


REGISTRY.register(
    "tx27_compression_quality",
    oracle=None,
    doc=tx27.__doc__,
    tags=("text", "llm", "quality", "compression", "udf"),
)(tx27)


@REGISTRY.register(
    "tx28_length_gini",
    oracle=r"""
    WITH lens AS (
      SELECT source,
             CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
                 AS n_tok
      FROM documents
    ),
    ranked AS (
      SELECT source, n_tok,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_tok, source) AS i,
             COUNT(*) OVER (PARTITION BY source) AS n,
             SUM(n_tok) OVER (PARTITION BY source) AS tot
      FROM lens
    )
    SELECT source,
           CAST(MAX(n) AS BIGINT) AS n_docs,
           round((2.0 * SUM(i * n_tok) / (MAX(n) * MAX(tot)))
                 - (MAX(n) + 1.0) / MAX(n), 6) AS gini
    FROM ranked GROUP BY 1
    """,
    doc="Gini coefficient of token mass across documents, per source — "
    "the inequality lens on corpus composition: gini near 0 means "
    "uniform doc sizes (batching and packing behave), high gini means "
    "a few giant documents carry the source's token mass (those docs "
    "dominate training exposure, skew tx12's packing, and one of them "
    "failing quality checks removes a chunk of the source). Uses the "
    "rank formulation G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over a "
    "per-source sorted window (deterministic ties), so no pairwise "
    "|x_i - x_j| blowup — one window pass on the per-doc length frame, "
    "corpus cost is the token-count scan tx01 already prices.",
    tags=("text", "llm", "gini", "inequality", "composition"),
)
def tx28(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    lens = docs.select(
        "source",
        F.size(F.split(F.trim(F.col("text")), _TOKEN_RE)).cast("double").alias("n_tok"),
    )
    wp = Window.partitionBy("source")
    ranked = lens.select(
        "source",
        "n_tok",
        F.row_number().over(wp.orderBy("n_tok", "source")).alias("i"),
        F.count("*").over(wp).alias("n"),
        F.sum("n_tok").over(wp).alias("tot"),
    )
    return ranked.groupBy("source").agg(
        F.max("n").cast("long").alias("n_docs"),
        F.round(
            (2.0 * F.sum(F.col("i") * F.col("n_tok")) / (F.max("n") * F.max("tot")))
            - (F.max("n") + 1.0) / F.max("n"),
            6,
        ).alias("gini"),
    )


@REGISTRY.register(
    "tx29_charset_profile",
    oracle="""
    WITH d AS (
      SELECT source,
             CAST(length(text) AS DOUBLE) AS n,
             length(regexp_replace(text, '[^A-Z]', '', 'g')) AS upper_n,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS digit_n,
             length(regexp_replace(text, '[^ \\t\\n\\r]', '', 'g')) AS ws_n,
             length(regexp_replace(text, '[A-Za-z0-9 \\t\\n\\r]', '', 'g')) AS other_n
      FROM documents WHERE length(text) > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(AVG(upper_n / n), 6) AS upper_ratio,
           round(AVG(digit_n / n), 6) AS digit_ratio,
           round(AVG(ws_n / n), 6) AS whitespace_ratio,
           round(AVG(other_n / n), 6) AS symbol_ratio
    FROM d GROUP BY 1
    """,
    doc="Character-class profile per source: mean uppercase / digit / "
    "whitespace / non-alphanumeric-symbol ratios — the charset "
    "fingerprint that separates prose from code dumps, shouting spam, "
    "tables, and minified blobs BEFORE tokenization (a source whose "
    "symbol_ratio jumps release-over-release usually changed its "
    "extractor, not its content). Pure map-side expressions (four "
    "regexp_replace lengths per doc inside one codegen stage) into one "
    "combiner-shrunk per-source aggregate; no shuffle carries text. "
    "Both engines strip with the same POSIX character classes so the "
    "counts agree byte-for-byte on the fixture corpus.",
    tags=("text", "llm", "quality", "charset"),
)
def tx29(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n = F.length("text").cast("double")
    cls = lambda pat: F.length(F.regexp_replace("text", pat, ""))  # noqa: E731
    d = docs.select(
        "source",
        (cls(r"[^A-Z]") / n).alias("ur"),
        (cls(r"[^0-9]") / n).alias("dr"),
        (cls("[^ \t\n\r]") / n).alias("wr"),
        (cls("[A-Za-z0-9 \t\n\r]") / n).alias("sr"),
    )
    return d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("ur"), 6).alias("upper_ratio"),
        F.round(F.avg("dr"), 6).alias("digit_ratio"),
        F.round(F.avg("wr"), 6).alias("whitespace_ratio"),
        F.round(F.avg("sr"), 6).alias("symbol_ratio"),
    )


def normalize_text(col):
    """Canonical text form for dedup keys: lowercase, every non-
    alphanumeric run collapsed to one space, trimmed. Pure column
    expression (one codegen stage) with an exact DuckDB twin, so
    normalized fingerprints replay in oracles."""
    return F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "))


@REGISTRY.register(
    "tx30_normalization_gain",
    oracle="""
    WITH n AS (
      SELECT source, md5(text) AS raw_f,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
                 AS norm_f
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT raw_f) AS BIGINT) AS distinct_raw,
           CAST(COUNT(DISTINCT norm_f) AS BIGINT) AS distinct_norm,
           CAST(COUNT(DISTINCT raw_f) - COUNT(DISTINCT norm_f) AS BIGINT)
               AS extra_dupes_found
    FROM n GROUP BY 1
    """,
    doc="Normalization gain audit: per source, how many additional "
    "duplicate groups casing/punctuation/whitespace normalization "
    "exposes over raw-byte fingerprints (distinct_raw - distinct_norm) "
    "— the measurement that decides whether the dedup pipeline keys on "
    "raw md5 (dd01) or normalized md5, and the first thing to check "
    "when a crawl source re-encodes its output (gain jumps while "
    "content is unchanged). Both fingerprints are 16-byte md5 columns "
    "computed map-side from one scan; the aggregate's distinct counts "
    "shuffle hashes, never text. At 100 TB this is the same one-pass "
    "shape as dd01 with a second key column.",
    tags=("text", "llm", "dedup", "normalization"),
)
def tx30(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    n = docs.select(
        "source",
        F.md5("text").alias("raw_f"),
        F.md5(normalize_text(F.col("text"))).alias("norm_f"),
    )
    return n.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count_distinct("raw_f").cast("long").alias("distinct_raw"),
        F.count_distinct("norm_f").cast("long").alias("distinct_norm"),
        (F.count_distinct("raw_f") - F.count_distinct("norm_f"))
        .cast("long")
        .alias("extra_dupes_found"),
    )


@REGISTRY.register(
    "tx31_cms_heavy_hitters",
    oracle="""
    WITH w AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents
    ),
    keyed AS (
      SELECT word, r.r,
             CAST(('0x' || substr(md5('cms' || r.r || ':' || word), 1, 15))
                  AS BIGINT) % 1024 AS bucket
      FROM w, (SELECT unnest(range(4)) AS r) r
    ),
    sketch AS (
      SELECT r, bucket, COUNT(*) AS c FROM keyed GROUP BY 1, 2
    ),
    exact AS (
      SELECT word, COUNT(*) AS n FROM w GROUP BY 1
      ORDER BY n DESC, word LIMIT 20
    ),
    probes AS (
      SELECT e.word, e.n, r.r,
             CAST(('0x' || substr(md5('cms' || r.r || ':' || e.word), 1, 15))
                  AS BIGINT) % 1024 AS bucket
      FROM exact e, (SELECT unnest(range(4)) AS r) r
    )
    SELECT p.word, CAST(p.n AS BIGINT) AS exact_n,
           CAST(MIN(s.c) AS BIGINT) AS cms_est,
           round((MIN(s.c) - p.n) / CAST(p.n AS DOUBLE), 6) AS rel_overcount
    FROM probes p JOIN sketch s ON s.r = p.r AND s.bucket = p.bucket
    GROUP BY p.word, p.n
    """,
    doc="Count-Min sketch heavy hitters: a 4x1024 CMS built in one "
    "combiner-shrunk aggregate (≤4096 counters per map task reach the "
    "exchange regardless of corpus size), then the true top-20 words' "
    "estimates read back as min-over-rows, with the guaranteed-"
    "nonnegative overcount reported. The md5-derived row hashes make "
    "the sketch REPLAYABLE — DuckDB builds the identical counters, so "
    "even the approximate tier is hash-checked (the x49-HLL trade, "
    "where only a tolerance test is possible, doesn't apply). CMS is "
    "the mergeable frequency sketch for streaming/sharded heavy "
    "hitters at 100 TB: counters add across shards and days, the "
    "ε=e/1024 overcount bound is corpus-relative, and the exact top-k "
    "here doubles as the audit of that bound on this corpus (tx10 is "
    "the exact tier).",
    tags=("text", "llm", "sketch", "cms", "heavy-hitters"),
)
def tx31(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"))

    def bucket(r, word_col):
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"cms{r}:"), word_col)), 1, 15), 16, 10
            ).cast("long")
            % 1024
        )

    keyed = words.select(
        F.posexplode(F.array(*[bucket(r, F.col("word")) for r in range(4)])).alias(
            "r", "bucket"
        )
    )
    sketch = keyed.groupBy("r", "bucket").agg(F.count("*").alias("c"))
    exact = (
        words.groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(20)
    )
    probes = exact.select(
        "word",
        "n",
        F.posexplode(F.array(*[bucket(r, F.col("word")) for r in range(4)])).alias(
            "r", "bucket"
        ),
    )
    return (
        probes.join(sketch, ["r", "bucket"])
        .groupBy("word", "n")
        .agg(F.min("c").alias("cms_est"))
        .select(
            "word",
            F.col("n").cast("long").alias("exact_n"),
            F.col("cms_est").cast("long").alias("cms_est"),
            F.round(
                (F.col("cms_est") - F.col("n")) / F.col("n").cast("double"), 6
            ).alias("rel_overcount"),
        )
    )


@REGISTRY.register(
    "tx32_bpe_train",
    oracle=r"""
    WITH RECURSIVE wf AS (
      SELECT array_to_string(string_split(word, ''), ' ') AS syms,
             CAST(COUNT(*) AS BIGINT) AS wc
      FROM (
        SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
        FROM documents
      )
      GROUP BY 1
    ),
    packed AS (
      SELECT list(struct_pack(syms := syms, wc := wc)) AS tbl FROM wf
    ),
    steps(step, tbl, pair, merged, pair_count) AS (
      SELECT 0, tbl, '', '', CAST(0 AS BIGINT) FROM packed
      UNION ALL
      SELECT s.step + 1,
             list_transform(s.tbl, r -> struct_pack(
               syms := list_reduce(string_split(r.syms, ' '),
                 (acc, x) -> CASE
                   WHEN x = string_split(best.pair, ' ')[2]
                    AND (acc = string_split(best.pair, ' ')[1]
                         OR right(acc,
                                  length(string_split(best.pair, ' ')[1]) + 1)
                            = ' ' || string_split(best.pair, ' ')[1])
                   THEN left(acc, length(acc)
                                  - length(string_split(best.pair, ' ')[1]))
                        || replace(best.pair, ' ', '')
                   ELSE acc || ' ' || x END),
               wc := r.wc)),
             best.pair, replace(best.pair, ' ', ''), best.n
      FROM steps s, LATERAL (
        SELECT p.pair, CAST(SUM(p.wc) AS BIGINT) AS n
        FROM (
          SELECT u.r.wc AS wc,
                 unnest(list_transform(
                   range(1, len(string_split(u.r.syms, ' '))),
                   i -> string_split(u.r.syms, ' ')[CAST(i AS INT)] || ' ' ||
                        string_split(u.r.syms, ' ')[CAST(i AS INT) + 1])) AS pair
          FROM unnest(s.tbl) u(r)
        ) p
        GROUP BY p.pair
        ORDER BY n DESC, p.pair
        LIMIT 1
      ) best
      WHERE s.step < 8
    )
    SELECT CAST(step AS INT) AS step, pair, merged, pair_count
    FROM steps WHERE step > 0 ORDER BY step
    """,
    doc="BPE tokenizer training, the actual merge loop (Sennrich et al. "
    "2016) — tx17 counts one iteration's candidates; this runs 8 full "
    "iterations and emits the learned merge table (step, pair, merged "
    "symbol, winning pair count), i.e. the tokenizer artifact itself. "
    "Spark-first shape for iterative algorithms: ONE corpus pass "
    "builds the distinct-word frequency table (the classic BPE trick — "
    "training never re-reads the corpus, it re-reads the vocab-bounded "
    "word-shape table, ~10^6-10^7 rows even at 100 TB); each iteration "
    "is a combiner-shrunk pair-count aggregate over that table, a "
    "1-row argmax collect (ties break on the pair string so both "
    "engines pick the same merge), and a JVM-codegen left-fold "
    "(aggregate()) that applies the merge greedily left-to-right "
    "inside each word — identical semantics to list_reduce in the "
    "oracle's recursive-CTE replay, which carries the whole word-shape "
    "table as a LIST of structs. Per-iteration persist/unpersist keeps "
    "lineage flat, so iteration k never recomputes merges 1..k-1 "
    "(the KMeans/MLlib pattern). Driver traffic is 8 rows total.",
    tags=("text", "llm", "tokenizer", "bpe", "iterative"),
)
def tx32(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    wf = (
        docs.select(
            F.explode(F.split(F.trim(F.col("text")), _TOKEN_RE)).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("wc"))
        .select(F.concat_ws(" ", F.split("word", "")).alias("syms"), "wc")
    )
    merges = bpe_merges(wf, n_merges=8)
    return spark.createDataFrame(
        merges, "step int, pair string, merged string, pair_count long"
    )


def bpe_merges(wf: DataFrame, n_merges: int) -> list[tuple]:
    """Run the BPE merge loop over a (syms, wc) word-shape frame.

    ``syms`` is the space-joined symbol string of a distinct word, ``wc``
    its corpus frequency. Returns [(step, pair, merged, pair_count)].
    Split out of tx32 so tests can drive it with hand-built frames
    against a pure-Python reference implementation."""
    cur = wf.persist()
    live = [cur]  # parent + child only — O(1) cache, any n_merges
    merges: list[tuple] = []
    try:
        for step in range(1, n_merges + 1):
            syms_arr = F.split("syms", " ")
            idx = F.when(
                F.size(syms_arr) >= 2, F.sequence(F.lit(1), F.size(syms_arr) - 1)
            ).otherwise(F.array().cast("array<int>"))
            best = (
                cur.select(
                    F.explode(
                        F.transform(
                            idx,
                            lambda i: F.concat_ws(
                                " ",
                                F.element_at(syms_arr, i),
                                F.element_at(syms_arr, i + 1),
                            ),
                        )
                    ).alias("pair"),
                    "wc",
                )
                .groupBy("pair")
                .agg(F.sum("wc").cast("long").alias("n"))
                .orderBy(F.desc("n"), "pair")
                .limit(1)
                .collect()
            )
            if not best:  # no pairs left anywhere (all words fully merged)
                break
            # The collect above materialized `cur`; anything older than
            # `cur` can never be recomputed from again — release it so the
            # live cache is parent+child regardless of n_merges (real BPE
            # training runs 10^4+ merges; holding every generation would
            # grow the cache linearly and thrash eviction).
            while len(live) > 1:
                live.pop(0).unpersist()
            best = best[0]
            a, b = best["pair"].split(" ")
            merged = a + b
            merges.append((step, best["pair"], merged, best["n"]))
            nxt = cur.select(
                F.aggregate(
                    F.split("syms", " "),
                    F.lit(""),
                    lambda acc, x: F.when(acc == "", x)
                    .when(
                        (x == F.lit(b))
                        & ((acc == F.lit(a)) | acc.endswith(" " + a)),
                        F.concat(
                            acc.substr(
                                F.lit(1), F.length(acc) - F.lit(len(a))
                            ),
                            F.lit(merged),
                        ),
                    )
                    .otherwise(F.concat(acc, F.lit(" "), x)),
                ).alias("syms"),
                "wc",
            ).persist()
            # No materializing count here: the NEXT iteration's argmax
            # collect computes nxt while its parent is still persisted, so
            # materialization rides a job that runs anyway — halves the
            # loop's job count (guide §1.2).
            live.append(nxt)
            cur = nxt
    finally:
        for p in live:
            p.unpersist()
    return merges


@REGISTRY.register(
    "tx33_langid_confusion",
    oracle=f"""
    WITH pred AS (
      SELECT lang, {_lang_guess_sql()} AS guess FROM documents
    ),
    cm AS (
      SELECT lang, guess, CAST(COUNT(*) AS BIGINT) AS n
      FROM pred GROUP BY 1, 2
    ),
    tot AS (SELECT lang, SUM(n) AS lang_n FROM cm GROUP BY 1)
    SELECT c.lang, c.guess, c.n,
           round(c.n / CAST(t.lang_n AS DOUBLE), 6) AS frac_of_lang,
           CAST(CASE WHEN c.lang = c.guess THEN 1 ELSE 0 END AS BIGINT)
               AS correct
    FROM cm c JOIN tot t USING (lang)
    """,
    doc="Language-ID confusion matrix — the evaluation leg of tx02: the "
    "classifier's guesses crossed with the labeled lang column, with "
    "each cell's share of its true language. The diagonal fraction is "
    "per-language recall; off-diagonal mass names the confusable pairs "
    "(which then seed tx26's leakage audit thresholds). Classifier and "
    "evaluation in one pass: the |langs|^2-bounded cell table is all "
    "that ever reaches the exchange — at 100 TB this is a scan plus a "
    "few-KB aggregate, the shape every model-vs-label audit should "
    "have (the same crossing evaluates any doc-level classifier by "
    "swapping the guess expression).",
    tags=("text", "llm", "lang-id", "evaluation", "confusion"),
)
def tx33(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents")
    pred = docs.select("lang", _lang_guess_spark().alias("guess"))
    cm = pred.groupBy("lang", "guess").agg(
        F.count("*").cast("long").alias("n")
    )
    lang_n = Window.partitionBy("lang")
    return cm.select(
        "lang",
        "guess",
        "n",
        F.round(
            F.col("n") / F.sum("n").over(lang_n).cast("double"), 6
        ).alias("frac_of_lang"),
        F.when(F.col("lang") == F.col("guess"), 1)
        .otherwise(0)
        .cast("long")
        .alias("correct"),
    )


@REGISTRY.register(
    "tx34_packing_curve",
    # The next-fit fold is a recursive CTE over each shard's doc_id-ordered
    # rows, one step per document. (A list_reduce fold with a struct
    # accumulator gave DuckDB 1.0.0 a wrong count for one shard when all
    # shards were reduced in one query; tests/test_oracle_folds.py replays
    # every fold in Python.)
    oracle=r"""
    WITH RECURSIVE toks AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 16 AS shard,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
      FROM documents
    ),
    ctxs AS (SELECT CAST(ctx AS BIGINT) AS ctx
             FROM (VALUES (512), (1024), (2048), (4096)) v(ctx)),
    seq AS (
      SELECT shard, least(n_tok, ctx) AS n, ctx,
             row_number() OVER (PARTITION BY ctx, shard ORDER BY doc_id) AS rn
      FROM toks CROSS JOIN ctxs
    ),
    fold(ctx, shard, rn, s, f) AS (
      SELECT ctx, shard, rn, CAST(1 AS BIGINT), n FROM seq WHERE rn = 1
      UNION ALL
      SELECT p.ctx, p.shard, q.rn,
             CASE WHEN p.f + q.n <= p.ctx THEN p.s ELSE p.s + 1 END,
             CASE WHEN p.f + q.n <= p.ctx THEN p.f + q.n ELSE q.n END
      FROM fold p JOIN seq q
        ON q.ctx = p.ctx AND q.shard = p.shard AND q.rn = p.rn + 1
    ),
    per_ctx AS (
      SELECT ctx, CAST(SUM(s) AS BIGINT) AS n_seqs
      FROM (SELECT ctx, shard, MAX(s) AS s FROM fold GROUP BY 1, 2)
      GROUP BY 1
    ),
    tokens AS (
      SELECT ctx, CAST(SUM(least(n_tok, ctx)) AS BIGINT) AS packed_tokens,
             CAST(SUM(CASE WHEN n_tok > ctx THEN n_tok - ctx ELSE 0 END)
                  AS BIGINT) AS truncated_tokens
      FROM toks CROSS JOIN ctxs GROUP BY 1
    )
    SELECT ctx, n_seqs, packed_tokens, truncated_tokens,
           round(1.0 - CAST(packed_tokens AS DOUBLE) / (n_seqs * ctx), 6)
               AS pad_frac
    FROM per_ctx JOIN tokens USING (ctx)
    """,
    doc="Sequence-packing efficiency curve — the sizing study behind "
    "choosing a training context length: for ctx in 512/1k/2k/4k, pack "
    "whole documents next-fit (no doc splitting — the padding-relevant "
    "regime, unlike tx12's concat packing which never pads but splits "
    "docs) into fixed windows and report sequences, packed tokens, "
    "truncation loss (docs longer than ctx lose their tail), and the "
    "padding fraction 1 - packed/(seqs*ctx). Short contexts waste "
    "little padding but truncate more; long contexts invert it — the "
    "curve shows the crossover for THIS corpus. The fold is sequential "
    "by construction (next-fit depends on running fill), so docs pack "
    "in md5-shard streams (tx12's sharding): each shard's fold is one "
    "JVM aggregate over its (doc_id-ordered) sizes, shards run in "
    "parallel, and the oracle replays the identical left fold as a "
    "recursive CTE. At 100 TB shard count scales with the corpus "
    "(16 here) — packing is embarrassingly parallel ACROSS shards by "
    "design, which is exactly how a real tokenizer-sharded pipeline "
    "packs.",
    tags=("text", "llm", "packing", "context", "curve"),
)
def tx34(spark: SparkSession, sf_dir: str) -> DataFrame:
    shard = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long") % 16
    n_tok = F.size(F.split(F.trim(F.col("text")), _TOKEN_RE)).cast("long")
    toks = t(spark, sf_dir, "documents").select(
        "doc_id", shard.alias("shard"), n_tok.alias("n_tok")
    )
    per_shard = toks.groupBy("shard").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "n_tok"))),
            lambda s: s["n_tok"],
        ).alias("sizes")
    )
    out = []
    for ctx in (512, 1024, 2048, 4096):
        capped = F.transform("sizes", lambda n: F.least(n, F.lit(ctx)))
        st = F.aggregate(
            capped,
            F.struct(
                F.lit(0).cast("long").alias("s"), F.lit(ctx).cast("long").alias("f")
            ),
            lambda a, n: F.when(
                a["f"] + n <= ctx,
                F.struct(a["s"].alias("s"), (a["f"] + n).alias("f")),
            ).otherwise(F.struct((a["s"] + 1).alias("s"), n.alias("f"))),
        )
        trunc = F.aggregate(
            F.col("sizes"),
            F.lit(0).cast("long"),
            lambda acc, n: acc + F.when(n > ctx, n - ctx).otherwise(F.lit(0).cast("long")),
        )
        out.append(
            per_shard.select(
                F.lit(ctx).cast("long").alias("ctx"),
                st["s"].alias("s"),
                F.aggregate(
                    capped, F.lit(0).cast("long"), lambda acc, n: acc + n
                ).alias("kept"),
                trunc.alias("truncated"),
            )
        )
    allf = out[0]
    for o in out[1:]:
        allf = allf.unionAll(o)
    per_ctx = allf.groupBy("ctx").agg(
        F.sum("s").cast("long").alias("n_seqs"),
        F.sum("kept").cast("long").alias("packed_tokens"),
        F.sum("truncated").cast("long").alias("truncated_tokens"),
    )
    return per_ctx.select(
        "ctx",
        "n_seqs",
        "packed_tokens",
        "truncated_tokens",
        F.round(
            1.0 - F.col("packed_tokens") / (F.col("n_seqs") * F.col("ctx")), 6
        ).alias("pad_frac"),
    )


@REGISTRY.register(
    "tx35_repetition_profile",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source,
             string_split_regex(trim(text), '\s+') AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id, source, len(w) AS n_tok,
             unnest(list_transform(range(1, len(w)),
                                   i -> w[i] || ' ' || w[i + 1])) AS gram
      FROM toks WHERE len(w) >= 2
    ),
    gc AS (
      SELECT doc_id, source, ANY_VALUE(n_tok) AS n_tok, gram,
             COUNT(*) AS c
      FROM grams GROUP BY doc_id, source, gram
    ),
    per_doc AS (
      SELECT doc_id, source,
             2.0 * MAX(c) / ANY_VALUE(n_tok) AS top2_frac,
             CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
                 / SUM(c) AS dup2_frac
      FROM gc GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(AVG(top2_frac), 6) AS avg_top2gram_frac,
           round(AVG(dup2_frac), 6) AS avg_dup2gram_frac,
           CAST(SUM(CASE WHEN round(top2_frac, 9) > 0.2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flag_top2,
           CAST(SUM(CASE WHEN round(dup2_frac, 9) > 0.6 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flag_dup2
    FROM per_doc GROUP BY source
    """,
    doc="Gopher-style repetition audit (Rae et al. 2021 repetition "
    "filters, adapted to token fractions): per doc, the fraction of "
    "tokens covered by the single most frequent word 2-gram "
    "(2*max_count/n_tokens) and the fraction of 2-gram instances whose "
    "gram repeats within the doc; per source, the averages plus counts "
    "of docs over the filter thresholds (top2 > 0.20, dup2 > 0.60). "
    "Catches template/boilerplate-dominated sources that per-doc "
    "quality scores (tx04/tx08) miss because their length and "
    "stopword mix look normal. Plan: 2-grams come from a single "
    "slice+transform over the split array (no self-join), explode "
    "shuffles (doc_id, gram) with map-side combine, then two bounded "
    "aggs; everything JVM-side. At 100 TB the gram explosion is "
    "linear in corpus tokens and partitions by doc hash — no skew "
    "beyond document length, which the length buckets (tx18) bound. "
    "Both engines round to 9 dp before the threshold decisions (ulp "
    "convention).",
    tags=("text", "llm", "quality", "repetition", "gopher"),
)
def tx35(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), _TOKEN_RE)
    toks = docs.select("doc_id", "source", w.alias("w")).filter(
        F.size("w") >= 2
    )
    grams = toks.select(
        "doc_id",
        "source",
        F.size("w").cast("long").alias("n_tok"),
        F.explode(
            F.transform(
                F.slice(F.col("w"), 1, F.size("w") - 1),
                lambda x, i: F.concat_ws(
                    " ", x, F.element_at(F.col("w"), i + 2)
                ),
            )
        ).alias("gram"),
    )
    gc = grams.groupBy("doc_id", "source", "gram").agg(
        F.first("n_tok").alias("n_tok"), F.count("*").alias("c")
    )
    per_doc = gc.groupBy("doc_id", "source").agg(
        (2.0 * F.max("c") / F.first("n_tok")).alias("top2_frac"),
        (
            F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0)).cast(
                "double"
            )
            / F.sum("c")
        ).alias("dup2_frac"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("top2_frac"), 6).alias("avg_top2gram_frac"),
        F.round(F.avg("dup2_frac"), 6).alias("avg_dup2gram_frac"),
        F.sum(
            (F.round(F.col("top2_frac"), 9) > 0.2).cast("int")
        ).cast("long").alias("n_flag_top2"),
        F.sum(
            (F.round(F.col("dup2_frac"), 9) > 0.6).cast("int")
        ).cast("long").alias("n_flag_dup2"),
    )


@REGISTRY.register(
    "tx36_source_kl_divergence",
    oracle=r"""
    WITH words AS (
      SELECT source,
             unnest(string_split_regex(trim(text), '\s+')) AS word
      FROM documents
    ),
    sw AS (
      SELECT source, word, CAST(COUNT(*) AS DOUBLE) AS n
      FROM words GROUP BY source, word
    ),
    stot AS (SELECT source, SUM(n) AS ns FROM sw GROUP BY source),
    cw AS (SELECT word, SUM(n) AS nc FROM sw GROUP BY word),
    ctot AS (SELECT SUM(n) AS nt FROM sw)
    SELECT s.source,
           CAST(t.ns AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_vocab,
           round(SUM((s.n / t.ns)
                     * log2((s.n / t.ns) / (c.nc / ct.nt))), 6)
               AS kl_bits
    FROM sw s
    JOIN stot t USING (source)
    JOIN cw c USING (word)
    CROSS JOIN ctot ct
    GROUP BY s.source, t.ns
    """,
    doc="Per-source unigram KL divergence vs the corpus distribution "
    "KL(q_source || p_corpus) in bits — the mixing diagnostic that "
    "quantifies how far each source's token distribution sits from "
    "the blend it feeds (sources with high KL shift the trained "
    "model's unigram prior; near-zero KL sources are redundant with "
    "the mix). Every source vocabulary is a subset of the corpus "
    "vocabulary by construction, so no smoothing is needed and the "
    "sum is exact. Plan: ONE token explode feeds a (source, word) "
    "combiner-shrunk agg; corpus totals re-aggregate FROM that "
    "per-source frame (never re-exploding), then an equi-join on "
    "word and a bounded per-source sum — at 100 TB the join carries "
    "(source x vocab) rows, orders of magnitude below the token "
    "stream, and the grand total broadcasts as a scalar. Double "
    "sums round to 6 dp (well above accumulation-order noise at "
    "this vocab size).",
    tags=("text", "llm", "mixing", "kl-divergence", "distribution"),
)
def tx36(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), _TOKEN_RE)).alias("word"),
    )
    sw = words.groupBy("source", "word").agg(
        F.count("*").cast("double").alias("n")
    )
    stot = sw.groupBy("source").agg(F.sum("n").alias("ns"))
    cw = sw.groupBy("word").agg(F.sum("n").alias("nc"))
    ctot = sw.agg(F.sum("n").alias("nt"))
    q = F.col("n") / F.col("ns")
    p = F.col("nc") / F.col("nt")
    return (
        sw.join(stot, "source")
        .join(cw, "word")
        .crossJoin(F.broadcast(ctot))
        .groupBy("source")
        .agg(
            F.first("ns").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_vocab"),
            F.round(F.sum(q * F.log2(q / p)), 6).alias("kl_bits"),
        )
    )


@REGISTRY.register(
    "tx37_token_budget_allocator",
    oracle=r"""
    WITH per_doc AS (
      SELECT source,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                 AS n_tok
      FROM documents
    ),
    src AS (
      SELECT source, SUM(n_tok) AS toks,
             AVG(CASE WHEN n_tok BETWEEN 50 AND 1000
                      THEN 1.0 ELSE 0.0 END) AS quality
      FROM per_doc GROUP BY source
    ),
    tot AS (
      SELECT SUM(toks) AS t_all, SUM(toks * quality) AS w_all FROM src
    )
    SELECT s.source,
           CAST(s.toks AS BIGINT) AS n_tokens,
           round(s.quality, 6) AS quality,
           round(s.toks * s.quality / t.w_all, 6) AS weight_share,
           round(LEAST(4.0, round(2.0 * t.t_all
                 * (s.toks * s.quality / t.w_all) / s.toks, 9)), 6)
               AS epochs,
           round(LEAST(4.0, round(2.0 * t.t_all
                 * (s.toks * s.quality / t.w_all) / s.toks, 9))
                 * s.toks, 2) AS allocated_tokens
    FROM src s CROSS JOIN tot t
    """,
    doc="Quality-weighted token-budget allocator — the mixing-recipe op "
    "that turns per-source stats into per-source sampling epochs for a "
    "training run (the deterministic one-shot core of DoReMi-style "
    "reweighting): each source's weight is tokens x quality (quality = "
    "share of docs in the 50..1000-token band, the tx04 filter's "
    "length gate), the global budget is a 2-epoch-equivalent of the "
    "corpus, and per-source epochs = budget x weight_share / tokens, "
    "capped at 4 (the repetition ceiling the Muennighoff et al. 2023 "
    "data-constrained scaling results motivate; one-shot cap, no "
    "redistribution — documented, deterministic). dd23's temperature "
    "mixing reweights by SIZE alone; this op folds quality in, which "
    "is what an actual pretraining mix does. Plan: one token-count "
    "pass (map-only per doc), a source-grain agg, and broadcast "
    "scalar totals — nothing beyond |sources| rows ever shuffles; "
    "both engines round epochs to 9 dp before the 4.0 cap decision "
    "(ulp convention).",
    tags=("text", "llm", "mixing", "budget", "doremi"),
)
def tx37(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim(F.col("text")), _TOKEN_RE)).cast("long")
    per_doc = docs.select("source", n_tok.alias("n_tok"))
    src = per_doc.groupBy("source").agg(
        F.sum("n_tok").alias("toks"),
        F.avg(
            F.when(F.col("n_tok").between(50, 1000), 1.0).otherwise(0.0)
        ).alias("quality"),
    )
    tot = src.agg(
        F.sum("toks").alias("t_all"),
        F.sum(F.col("toks") * F.col("quality")).alias("w_all"),
    )
    share = F.col("toks") * F.col("quality") / F.col("w_all")
    epochs = F.least(
        F.lit(4.0),
        F.round(2.0 * F.col("t_all") * share / F.col("toks"), 9),
    )
    return src.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("toks").cast("long").alias("n_tokens"),
        F.round("quality", 6).alias("quality"),
        F.round(share, 6).alias("weight_share"),
        F.round(epochs, 6).alias("epochs"),
        F.round(epochs * F.col("toks"), 2).alias("allocated_tokens"),
    )


@REGISTRY.register(
    "tx38_bigram_source_perplexity",
    oracle=r"""
    WITH toks AS (
      SELECT source,
             string_split_regex(trim(text), '\s+') AS w
      FROM documents
    ),
    bg AS (
      SELECT source,
             unnest(list_transform(range(1, len(w)),
                                   i -> w[i] || ' ' || w[i + 1])) AS gram
      FROM toks WHERE len(w) >= 2
    ),
    sg AS (
      SELECT source, gram, CAST(COUNT(*) AS DOUBLE) AS n
      FROM bg GROUP BY source, gram
    ),
    cg AS (SELECT gram, SUM(n) AS c_ab FROM sg GROUP BY gram),
    ctx AS (
      SELECT string_split(gram, ' ')[1] AS a, SUM(n) AS c_a
      FROM sg GROUP BY 1
    ),
    vocab AS (
      SELECT CAST(COUNT(DISTINCT word) AS DOUBLE) AS v
      FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
            FROM documents)
    )
    SELECT s.source,
           CAST(SUM(s.n) AS BIGINT) AS n_bigrams,
           round(SUM(s.n * -log2((c.c_ab + 0.5) / (x.c_a + 0.5 * vb.v)))
                 / SUM(s.n), 6) AS bits_per_bigram,
           round(power(2.0, SUM(s.n * -log2((c.c_ab + 0.5)
                 / (x.c_a + 0.5 * vb.v))) / SUM(s.n)), 4) AS perplexity
    FROM sg s
    JOIN cg c USING (gram)
    JOIN ctx x ON x.a = string_split(s.gram, ' ')[1]
    CROSS JOIN vocab vb
    GROUP BY s.source
    """,
    doc="Per-source WORD-bigram perplexity under the corpus LM with "
    "add-0.5 Laplace smoothing — the CCNet-style quality signal "
    "(sources whose text the corpus LM finds surprising are either "
    "novel or junk; crossing with tx08's quality suite separates the "
    "two). Distinct from tx20, which scores CHARACTER bigrams per "
    "document; this is source-grain over the word stream, the grain "
    "mixing decisions (tx37) consume. p(b|a) = (c(ab)+0.5) / "
    "(c(a)+0.5V): every count comes from ONE bigram explode "
    "aggregated to (source, gram) — the corpus totals re-aggregate "
    "from that frame, never re-exploding — then an equi-join on gram "
    "(source x vocab-squared rows, bounded far below the token "
    "stream) and a bounded per-source sum; V broadcasts as a scalar. "
    "Double sums round to 6 dp, well above accumulation noise.",
    tags=("text", "llm", "perplexity", "quality", "ccnet"),
)
def tx38(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), _TOKEN_RE)
    toks = docs.select("source", w.alias("w")).filter(F.size("w") >= 2)
    bg = toks.select(
        "source",
        F.explode(
            F.transform(
                F.slice(F.col("w"), 1, F.size("w") - 1),
                lambda x, i: F.concat_ws(
                    " ", x, F.element_at(F.col("w"), i + 2)
                ),
            )
        ).alias("gram"),
    )
    sg = bg.groupBy("source", "gram").agg(
        F.count("*").cast("double").alias("n")
    )
    cg = sg.groupBy("gram").agg(F.sum("n").alias("c_ab"))
    ctx = sg.groupBy(
        F.split(F.col("gram"), " ")[0].alias("a")
    ).agg(F.sum("n").alias("c_a"))
    vocab = docs.select(
        F.explode(F.split(F.trim(F.col("text")), _TOKEN_RE)).alias("word")
    ).agg(F.countDistinct("word").cast("double").alias("v"))
    nll = F.col("n") * -F.log2(
        (F.col("c_ab") + 0.5) / (F.col("c_a") + 0.5 * F.col("v"))
    )
    return (
        sg.join(cg, "gram")
        .join(ctx, F.split(F.col("gram"), " ")[0] == F.col("a"))
        .crossJoin(F.broadcast(vocab))
        .groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_bigrams"),
            F.round(F.sum(nll) / F.sum("n"), 6).alias("bits_per_bigram"),
            F.round(
                F.pow(F.lit(2.0), F.sum(nll) / F.sum("n")), 4
            ).alias("perplexity"),
        )
    )


@REGISTRY.register(
    "tx39_ccnet_buckets",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source,
             string_split_regex(trim(text), '\s+') AS w
      FROM documents
    ),
    dg AS (
      SELECT doc_id, source,
             unnest(list_transform(range(1, len(w)),
                                   i -> w[i] || ' ' || w[i + 1])) AS gram
      FROM toks WHERE len(w) >= 2
    ),
    dgc AS (
      SELECT doc_id, source, gram, CAST(COUNT(*) AS DOUBLE) AS n
      FROM dg GROUP BY 1, 2, 3
    ),
    cg AS (SELECT gram, SUM(n) AS c_ab FROM dgc GROUP BY 1),
    ctx AS (
      SELECT string_split(gram, ' ')[1] AS a, SUM(n) AS c_a
      FROM dgc GROUP BY 1
    ),
    vocab AS (
      SELECT CAST(COUNT(DISTINCT word) AS DOUBLE) AS v
      FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
            FROM documents)
    ),
    docbits AS (
      SELECT d.doc_id, d.source,
             round(SUM(d.n * -log2((c.c_ab + 0.5) / (x.c_a + 0.5 * vb.v)))
                   / SUM(d.n), 6) AS bits
      FROM dgc d
      JOIN cg c USING (gram)
      JOIN ctx x ON x.a = string_split(d.gram, ' ')[1]
      CROSS JOIN vocab vb
      GROUP BY 1, 2
    ),
    dtok AS (
      SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens
      FROM toks WHERE len(w) >= 2
    ),
    bucketed AS (
      SELECT b.source, b.doc_id, b.bits, t.n_tokens,
             ntile(3) OVER (PARTITION BY b.source
                            ORDER BY b.bits, b.doc_id) AS bucket
      FROM docbits b JOIN dtok t USING (doc_id)
    )
    SELECT source, CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           round(AVG(bits), 6) AS mean_bits,
           round(MAX(bits), 6) AS cutoff_bits
    FROM bucketed GROUP BY 1, 2
    ORDER BY source, bucket
    """,
    doc="CCNet head/middle/tail bucketing — the per-DOCUMENT completion "
    "of tx38's per-source perplexity: every document scores its word-"
    "bigram bits-per-gram under the SAME corpus LM (add-0.5 Laplace, "
    "one bigram explode at doc grain; the corpus c_ab/c_a totals "
    "re-aggregate from that frame), rounds to 6 dp (the cross-engine "
    "determinism barrier BEFORE any rank decision), and ranks into "
    "per-source terciles: head = most-fluent third, tail = the "
    "surprising third a pipeline drops or down-weights first (CCNet's "
    "exact split). Emits per (source, bucket) doc/token counts, mean "
    "bits and the cutoff (the bucket's max bits = the threshold a "
    "production filter would freeze and reuse). The tercile is NOT a "
    "per-source ntile window — sources are few but each source's doc "
    "frame is unbounded, so that window is a single-task sort at "
    "scale; instead one rankops.with_global_order pass over (source, "
    "bits, doc_id) yields exact global ranks, per-source start/count "
    "broadcast back (|sources| rows), and ntile_from_rank reconstructs "
    "SQL-standard ntile arithmetic from the rank — fully distributed, "
    "pinned by the repo-wide no-unpartitioned-window plan test.",
    tags=("text", "llm", "perplexity", "quality", "ccnet", "buckets"),
)
def tx39(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyconnect_spark.operators.rankops import ntile_from_rank, with_global_order

    docs = t(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), _TOKEN_RE)
    # No spread() here: measured neutral-to-negative (interleaved A/B
    # min 5.3 s without vs 6.0 s with at sf0.1) — the explode feeds a
    # (doc, gram)-keyed aggregation whose partial agg fuses with the
    # scan, and the three downstream consumers replan the subtree from
    # the exchange either way.
    toks = docs.select("doc_id", "source", w.alias("w")).filter(F.size("w") >= 2)
    dg = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.slice(F.col("w"), 1, F.size("w") - 1),
                lambda x, i: F.concat_ws(" ", x, F.element_at(F.col("w"), i + 2)),
            )
        ).alias("gram"),
    )
    dgc = dg.groupBy("doc_id", "source", "gram").agg(
        F.count("*").cast("double").alias("n")
    )
    # NOT cached, though three consumers read it: dgc is gram-grain — the
    # same exploded-string scale dd14 measured as slower to rescan from a
    # deserialized cache than to recompute through the codegen-fused
    # explode (tried here: min-of-4 15.3 s cached vs 2.8 s uncached).
    # tx41's db differs because its grain is (doc, bucket<=512).
    cg = dgc.groupBy("gram").agg(F.sum("n").alias("c_ab"))
    # ctx re-aggregates cg instead of re-deriving dgc from the raw text:
    # c_a = SUM(n) grouped by first word == SUM(c_ab) over the grams
    # sharing that first word, and the n values are COUNT(*)s carried in
    # doubles — integer sums far below 2^53, so the reassociation is
    # bitwise exact. This drops one full tokenize+explode+aggregate chain
    # from the plan (guide §1.2: don't compute things twice); the oracle
    # still groups dgc directly, which is the same exact integer sum.
    ctx = cg.groupBy(F.split(F.col("gram"), " ")[0].alias("a")).agg(
        F.sum("c_ab").alias("c_a")
    )
    vocab = docs.select(
        F.explode(F.split(F.trim(F.col("text")), _TOKEN_RE)).alias("word")
    ).agg(F.countDistinct("word").cast("double").alias("v"))
    nll = F.col("n") * -F.log2(
        (F.col("c_ab") + 0.5) / (F.col("c_a") + 0.5 * F.col("v"))
    )
    docbits = (
        dgc.join(cg, "gram")
        .join(ctx, F.split(F.col("gram"), " ")[0] == F.col("a"))
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id", "source")
        .agg(F.round(F.sum(nll) / F.sum("n"), 6).alias("bits"))
    )
    dtok = toks.select("doc_id", F.size("w").cast("long").alias("n_tokens"))
    scored = docbits.join(dtok, "doc_id")
    g = with_global_order(
        scored,
        [F.col("source"), F.col("bits"), F.col("doc_id")],
        rank_col="_rk",
    )
    src = g.groupBy("source").agg(
        F.min("_rk").alias("_r0"), F.count("*").cast("long").alias("_nsrc")
    )
    bucketed = (
        g.join(F.broadcast(src), "source")
        .withColumn("_rs", F.col("_rk") - F.col("_r0") + 1)
        .withColumn("bucket", ntile_from_rank("_rs", "_nsrc", 3).cast("long"))
    )
    return (
        bucketed.groupBy("source", "bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.round(F.avg("bits"), 6).alias("mean_bits"),
            F.round(F.max("bits"), 6).alias("cutoff_bits"),
        )
        .orderBy("source", "bucket")
    )


@REGISTRY.register(
    "tx40_dsir_selection",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source, lang,
             string_split_regex(trim(text), '\s+') AS w
      FROM documents
    ),
    dg AS (
      SELECT doc_id, source, lang,
             unnest(list_transform(range(1, len(w)),
                                   i -> w[i] || ' ' || w[i + 1])) AS gram
      FROM toks WHERE len(w) >= 2
    ),
    db AS (
      SELECT doc_id, source, lang,
             CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) % 1024 AS b,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM dg GROUP BY 1, 2, 3, 4
    ),
    tc AS (SELECT b, SUM(n) AS ct FROM db WHERE lang = 'en' GROUP BY 1),
    rc AS (SELECT b, SUM(n) AS cr FROM db GROUP BY 1),
    tots AS (
      SELECT (SELECT SUM(n) FROM db WHERE lang = 'en') AS nt,
             (SELECT SUM(n) FROM db) AS nr
    ),
    lr AS (
      SELECT r.b,
             round(ln((COALESCE(t.ct, 0) + 1) / (o.nt + 1024))
                   - ln((r.cr + 1) / (o.nr + 1024)), 9) AS lr
      FROM rc r LEFT JOIN tc t USING (b) CROSS JOIN tots o
    ),
    docw AS (
      SELECT d.doc_id, d.source, d.lang,
             CAST(SUM(CAST(d.n AS BIGINT)) AS BIGINT) AS n_bigrams,
             round(CAST(SUM(CAST(round(d.n * l.lr, 9) AS DECIMAL(20, 9)))
                        AS DOUBLE), 6) AS logw
      FROM db d JOIN lr l USING (b)
      GROUP BY 1, 2, 3
    )
    SELECT doc_id, source, lang, n_bigrams, logw
    FROM docw
    ORDER BY logw DESC, doc_id
    LIMIT 20
    """,
    doc="DSIR data selection (Xie et al. 2023, 'Data Selection for "
    "Language Models via Importance Resampling'): every document gets "
    "an importance weight = its hashed-n-gram likelihood ratio between "
    "a TARGET distribution (here the lang='en' slice, standing in for "
    "the curated target corpus) and the RAW pool — log w(x) = sum over "
    "the doc's bigrams of ln p_target(bucket)/p_raw(bucket), with "
    "word bigrams hashed into 1024 buckets (the paper's hashed n-gram "
    "features; md5 low bits, the repo's oracle-replayable hash idiom) "
    "and add-1 smoothing over the bucket vocabulary. Emits the top-20 "
    "selection — the resampling step takes these weights into a "
    "Gumbel/exp draw; the WEIGHT computation is the distributed part "
    "and is exact here. Plan: ONE bigram explode aggregated to "
    "(doc, bucket) feeds all three consumers (target counts, raw "
    "counts, per-doc stream); the 1024-row log-ratio table broadcasts; "
    "per-doc weights are DECIMAL-exact sums of 9dp-rounded terms "
    "(order-independent under any partitioning) and the top-20 is "
    "TakeOrdered, no global sort. At 100 TB this is two passes over "
    "the token stream and a bucket-table broadcast — the same shape "
    "DSIR runs at pretraining scale.",
    tags=("text", "llm", "selection", "dsir", "importance-sampling"),
)
def tx40(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), _TOKEN_RE)
    toks = docs.select("doc_id", "source", "lang", w.alias("w")).filter(
        F.size("w") >= 2
    )
    dg = toks.select(
        "doc_id",
        "source",
        "lang",
        F.explode(
            F.transform(
                F.slice(F.col("w"), 1, F.size("w") - 1),
                lambda x, i: F.concat_ws(" ", x, F.element_at(F.col("w"), i + 2)),
            )
        ).alias("gram"),
    )
    db = dg.groupBy(
        "doc_id",
        "source",
        "lang",
        (F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10).cast("long") % 1024).alias(
            "b"
        ),
    ).agg(F.count("*").cast("double").alias("n"))
    tc = db.filter(F.col("lang") == "en").groupBy("b").agg(F.sum("n").alias("ct"))
    rc = db.groupBy("b").agg(F.sum("n").alias("cr"))
    tots = db.agg(
        F.sum(F.when(F.col("lang") == "en", F.col("n")).otherwise(0.0)).alias("nt"),
        F.sum("n").alias("nr"),
    )
    lr = (
        rc.join(tc, "b", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "b",
            F.round(
                F.log((F.coalesce("ct", F.lit(0.0)) + 1) / (F.col("nt") + 1024))
                - F.log((F.col("cr") + 1) / (F.col("nr") + 1024)),
                9,
            ).alias("lr"),
        )
    )
    docw = (
        db.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "source", "lang")
        .agg(
            F.sum(F.col("n").cast("long")).cast("long").alias("n_bigrams"),
            F.round(
                F.sum(
                    F.round(F.col("n") * F.col("lr"), 9).cast("decimal(20,9)")
                ).cast("double"),
                6,
            ).alias("logw"),
        )
    )
    return docw.orderBy(F.desc("logw"), "doc_id").limit(20).select(
        "doc_id", "source", "lang", "n_bigrams", "logw"
    )


@REGISTRY.register(
    "tx41_nb_source_classifier",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source,
             unnest(string_split_regex(trim(text), '\s+')) AS w
      FROM documents
    ),
    db AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 512 AS b,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM toks GROUP BY 1, 2, 3
    ),
    cb AS (SELECT source AS cls, b, SUM(n) AS nsb FROM db GROUP BY 1, 2),
    cs AS (SELECT source AS cls, SUM(n) AS ns FROM db GROUP BY 1),
    ds AS (SELECT source AS cls, COUNT(DISTINCT doc_id) AS nd FROM db GROUP BY 1),
    tot AS (SELECT COUNT(DISTINCT doc_id) AS d FROM db),
    grid AS (
      SELECT c.cls, u.b,
             round(ln((COALESCE(cb.nsb, 0) + 1) / (c.ns + 512)), 9) AS ll
      FROM cs c CROSS JOIN (SELECT DISTINCT b FROM db) u
      LEFT JOIN cb ON cb.cls = c.cls AND cb.b = u.b
    ),
    prior AS (
      SELECT d2.cls,
             CAST(round(ln(CAST(d2.nd AS DOUBLE) / t.d), 9)
                  AS DECIMAL(20, 9)) AS lp
      FROM ds d2 CROSS JOIN tot t
    ),
    score AS (
      SELECT d.doc_id, d.source, g.cls,
             p.lp + SUM(CAST(round(d.n * g.ll, 9) AS DECIMAL(20, 9))) AS sc
      FROM db d JOIN grid g USING (b) JOIN prior p ON p.cls = g.cls
      GROUP BY 1, 2, 3, p.lp
    ),
    pred AS (
      SELECT doc_id, source, cls AS pred_source, sc,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY sc DESC, cls) AS rn
      FROM score QUALIFY rn = 1
    )
    SELECT source, pred_source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(CAST(SUM(sc) AS DOUBLE) / COUNT(*), 6) AS mean_logscore
    FROM pred
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Trained multinomial Naive Bayes source classifier over hashed "
    "unigrams — the fasttext-style linear text classifier every "
    "CCNet-descended pipeline trains to score quality/domain, here "
    "trained on the `source` label and read out as a self-"
    "classification confusion matrix (true source x predicted source, "
    "doc counts + mean winning log-score). Words hash into 512 md5 "
    "buckets (oracle-replayable feature hashing); per-class bucket "
    "log-likelihoods use add-1 smoothing and round to 9 dp (libm "
    "barrier); per-doc scores are prior + a DECIMAL-exact sum of "
    "9 dp-rounded count*loglik terms, so the argmax (tie-break: class "
    "name ascending) replays bit-for-bit in both engines. Plan: ONE "
    "token explode aggregated to (doc, bucket) feeds both the trainer "
    "and the scorer; the model — a (<=512 x n_classes) grid plus "
    "n_classes priors — broadcasts; scoring is a map-side join + one "
    "(doc, class)-keyed agg; the argmax window partitions by doc_id "
    "(millions of partitions, never global). At 100 TB: training is a "
    "bounded-width agg (512 x classes cells regardless of corpus "
    "size), scoring is linear in tokens — the same two-pass shape "
    "DSIR (tx40) runs; this is its multi-class generative twin.",
    tags=("text", "llm", "classifier", "naive-bayes", "quality"),
)
def tx41(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from pyconnect_spark.cachereg import track

    docs = t(spark, sf_dir, "documents")
    # tokenize+md5 explode is the heavy map chain: floor its parallelism
    # (guide §2.5 — single-row-group scans arrive as one task).
    toks = spread(docs.select("doc_id", "source", "text"), "doc_id").select(
        "doc_id",
        "source",
        F.explode(F.split(F.trim(F.col("text")), _TOKEN_RE)).alias("w"),
    )
    db = toks.groupBy(
        "doc_id",
        "source",
        (F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long") % 512).alias(
            "b"
        ),
    ).agg(F.count("*").cast("double").alias("n"))
    # db feeds SIX consumers (cb/cs/ds/tot/buckets + the scorer); uncached,
    # the tokenize+hash+aggregate subtree plans and runs once per consumer
    # (12 scans of documents in the before-plan). Unlike the exploded
    # shingle frames dd14 measured (cache slower than re-scan), db is the
    # POST-aggregation frame — (doc, bucket)-bounded, far smaller than the
    # token stream — so caching it is the guide §5 "reused AND cheaper
    # than recompute" case.
    db = track(db.cache())
    cb = db.groupBy(F.col("source").alias("cls"), "b").agg(
        F.sum("n").alias("nsb")
    )
    cs = db.groupBy(F.col("source").alias("cls")).agg(F.sum("n").alias("ns"))
    ds = db.groupBy(F.col("source").alias("cls")).agg(
        F.countDistinct("doc_id").alias("nd")
    )
    tot = db.agg(F.countDistinct("doc_id").alias("d"))
    buckets = db.select("b").distinct()
    grid = (
        cs.crossJoin(buckets)
        .join(cb, ["cls", "b"], "left")
        .select(
            "cls",
            "b",
            F.round(
                F.log((F.coalesce("nsb", F.lit(0.0)) + 1) / (F.col("ns") + 512)), 9
            ).alias("ll"),
        )
    )
    prior = ds.crossJoin(F.broadcast(tot)).select(
        "cls",
        F.round(F.log(F.col("nd").cast("double") / F.col("d")), 9)
        .cast("decimal(20,9)")
        .alias("lp"),
    )
    score = (
        db.join(F.broadcast(grid), "b")
        .groupBy("doc_id", "source", "cls")
        .agg(
            F.sum(
                F.round(F.col("n") * F.col("ll"), 9).cast("decimal(20,9)")
            ).alias("s0")
        )
        .join(F.broadcast(prior), "cls")
        .select("doc_id", "source", "cls", (F.col("lp") + F.col("s0")).alias("sc"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("sc"), F.asc("cls"))
    pred = score.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        pred.groupBy("source", F.col("cls").alias("pred_source"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(
                F.sum("sc").cast("double") / F.count("*"), 6
            ).alias("mean_logscore"),
        )
        .orderBy("source", "pred_source")
    )


@REGISTRY.register(
    "tx42_ngram_novelty_rate",
    oracle=r"""
    WITH split AS (
      SELECT doc_id, source, text,
             CASE WHEN CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT)
                       % 100 < 80
                  THEN 'train' ELSE 'eval' END AS split
      FROM documents
    ),
    toks AS (
      SELECT doc_id, source, split,
             string_split_regex(trim(text), '\s+') AS w
      FROM split
    ),
    grams AS (
      SELECT doc_id, source, split,
             unnest(list_transform(range(1, len(w) - 2),
                    i -> md5(w[i] || ' ' || w[i + 1] || ' '
                             || w[i + 2] || ' ' || w[i + 3]))) AS g
      FROM toks WHERE len(w) >= 4
    ),
    train_set AS (SELECT DISTINCT g FROM grams WHERE split = 'train'),
    ev AS (
      SELECT e.source, e.g,
             CASE WHEN t.g IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM grams e LEFT JOIN train_set t USING (g)
      WHERE e.split = 'eval'
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_eval_grams,
           CAST(SUM(hit) AS BIGINT) AS n_seen_in_train,
           round(1.0 - CAST(SUM(hit) AS DOUBLE) / COUNT(*), 6)
               AS novelty_rate
    FROM ev GROUP BY source
    ORDER BY source
    """,
    doc="Corpus-level n-gram novelty / memorization-overlap rate (the "
    "GPT-3-paper benchmark-contamination statistic, and the "
    "memorization denominator extraction-rate studies start from): "
    "with the deterministic md5 content split (tx07/dd08 convention), "
    "what fraction of the EVAL slice's word-4-gram INSTANCES already "
    "occur anywhere in the TRAIN slice, per source. Complements "
    "dd07/dd08, which rank per-document-PAIR containment: this is the "
    "corpus-grain rate a data card reports, computed over every "
    "instance rather than top-k suspects. Grams travel as md5 digests "
    "(16-byte join keys, never the raw text); the train side "
    "deduplicates to a distinct-digest set before the probe join. "
    "Plan: one explode feeding both sides, a digest-keyed distinct, "
    "one digest-keyed left join (Bloom-prunable at scale: the train "
    "digest set is exactly what a runtime row-filter digests down "
    "to), then a source-grain agg. At 100 TB both sides shuffle "
    "16-byte keys only; the join is the dd01 fingerprint shape over "
    "grams instead of documents.",
    tags=("text", "llm", "contamination", "memorization", "ngram"),
)
def tx42(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long") % 100
    split = docs.select(
        "doc_id",
        "source",
        "text",
        F.when(bucket < 80, "train").otherwise("eval").alias("split"),
    )
    w = F.split(F.trim(F.col("text")), _TOKEN_RE)
    toks = split.select("doc_id", "source", "split", w.alias("w")).filter(
        F.size("w") >= 4
    )
    grams = toks.select(
        "doc_id",
        "source",
        "split",
        F.explode(
            F.transform(
                F.slice(F.col("w"), 1, F.size("w") - 3),
                lambda x, i: F.md5(
                    F.concat_ws(
                        " ",
                        x,
                        F.element_at(F.col("w"), i + 2),
                        F.element_at(F.col("w"), i + 3),
                        F.element_at(F.col("w"), i + 4),
                    )
                ),
            )
        ).alias("g"),
    )
    train_set = grams.filter(F.col("split") == "train").select("g").distinct()
    ev = (
        grams.filter(F.col("split") == "eval")
        .join(train_set.withColumn("hit", F.lit(1)), "g", "left")
        .select("source", F.coalesce("hit", F.lit(0)).alias("hit"))
    )
    return (
        ev.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_eval_grams"),
            F.sum("hit").cast("long").alias("n_seen_in_train"),
            F.round(
                1.0 - F.sum("hit").cast("double") / F.count("*"), 6
            ).alias("novelty_rate"),
        )
        .orderBy("source")
    )



@REGISTRY.register(
    "tx43_filter_ablation_grid",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars_c,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                 AS n_tokens,
             {_sql_count('text', _STOP_RE)} AS n_stop,
             {_sql_count('text', _PUNCT_RE)} AS n_punct
      FROM documents
    ),
    flags AS (
      SELECT n_tokens,
             n_chars_c >= 200 AS len_ok,
             n_stop * 20 >= n_tokens AS stop_ok,
             n_punct * 5 <= n_chars_c AS punct_ok
      FROM scored
    ),
    combos(filters, need_len, need_stop, need_punct) AS (
      VALUES ('none', false, false, false),
             ('len', true, false, false),
             ('stop', false, true, false),
             ('punct', false, false, true),
             ('len+stop', true, true, false),
             ('len+punct', true, false, true),
             ('stop+punct', false, true, true),
             ('len+stop+punct', true, true, true)
    ),
    grid AS (
      SELECT c.filters,
             CAST(SUM(CASE WHEN (NOT c.need_len OR f.len_ok)
                            AND (NOT c.need_stop OR f.stop_ok)
                            AND (NOT c.need_punct OR f.punct_ok)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN (NOT c.need_len OR f.len_ok)
                            AND (NOT c.need_stop OR f.stop_ok)
                            AND (NOT c.need_punct OR f.punct_ok)
                           THEN f.n_tokens ELSE 0 END) AS BIGINT) AS n_tokens
      FROM flags f CROSS JOIN combos c
      GROUP BY 1
    ),
    tot AS (SELECT n_docs AS d, n_tokens AS t FROM grid WHERE filters = 'none')
    SELECT g.filters, g.n_docs, g.n_tokens,
           round(CAST(g.n_docs AS DOUBLE) / tot.d, 6) AS doc_share,
           round(CAST(g.n_tokens AS DOUBLE) / tot.t, 6) AS token_share
    FROM grid g CROSS JOIN tot
    ORDER BY g.filters
    """,
    doc="Quality-filter ablation grid — the 2^3 attribution matrix a "
    "pipeline runs BEFORE freezing its filter stack (which rule "
    "removes what, and how do rules overlap?): every subset of "
    "{{length >= 200 chars, stopword ratio >= 5%, punctuation ratio "
    "<= 20%}} reports surviving docs, surviving tokens, and shares. "
    "All three predicates are INTEGER comparisons (stop*20 >= tokens "
    "encodes the 5% ratio with no division), so the grid is exact in "
    "both engines with no rounding barrier at all; the only doubles "
    "are the final shares. Plan: ONE scan computes the three flags "
    "per document, an 8-row combo table cross-joins (row explosion "
    "x8, map-side), and a single combiner agg produces the whole "
    "grid — at 100 TB this is exactly one pass over text regardless "
    "of how many filter subsets are audited, vs the naive 8 scans. "
    "The operating-curve companion to tx04/tx08 (which apply ONE "
    "frozen stack) and dd17 (the dedup funnel's sequential stages).",
    tags=("text", "llm", "quality", "ablation", "filters"),
)
def tx43(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim(F.col("text")), _TOKEN_RE)).cast("long")
    flags = docs.select(
        n_tokens.alias("n_tokens"),
        (F.length("text").cast("long") >= 200).alias("len_ok"),
        (_count("text", _STOP_RE).cast("long") * 20 >= n_tokens).alias(
            "stop_ok"
        ),
        (
            _count("text", _PUNCT_RE).cast("long") * 5
            <= F.length("text").cast("long")
        ).alias("punct_ok"),
    )
    combos = [
        ("none", False, False, False),
        ("len", True, False, False),
        ("stop", False, True, False),
        ("punct", False, False, True),
        ("len+stop", True, True, False),
        ("len+punct", True, False, True),
        ("stop+punct", False, True, True),
        ("len+stop+punct", True, True, True),
    ]
    cdf = docs.sparkSession.createDataFrame(
        combos, "filters string, need_len boolean, need_stop boolean, need_punct boolean"
    )
    keep = (
        (~F.col("need_len") | F.col("len_ok"))
        & (~F.col("need_stop") | F.col("stop_ok"))
        & (~F.col("need_punct") | F.col("punct_ok"))
    )
    grid = (
        flags.crossJoin(F.broadcast(cdf))
        .groupBy("filters")
        .agg(
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_docs"),
            F.sum(F.when(keep, F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("n_tokens"),
        )
    )
    tot = grid.filter(F.col("filters") == "none").select(
        F.col("n_docs").alias("d"), F.col("n_tokens").alias("t")
    )
    return (
        grid.crossJoin(F.broadcast(tot))
        .select(
            "filters",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_docs").cast("double") / F.col("d"), 6).alias(
                "doc_share"
            ),
            F.round(F.col("n_tokens").cast("double") / F.col("t"), 6).alias(
                "token_share"
            ),
        )
        .orderBy("filters")
    )


@REGISTRY.register(
    "tx44_heaps_law",
    oracle=r"""
    WITH sp AS (
      SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 8 + 1 AS bkt,
             string_split_regex(trim(text), '\s+') AS wl
      FROM documents
    ),
    toks AS (
      SELECT bkt,
             unnest(list_transform(range(1, len(wl) - 1),
                    i -> md5(wl[i] || ' ' || wl[i + 1] || ' ' || wl[i + 2])))
                 AS w
      FROM sp WHERE len(wl) >= 3
    ),
    wmin AS (SELECT w, MIN(bkt) AS fb FROM toks GROUP BY 1),
    newv AS (SELECT fb AS bkt, COUNT(*) AS nv FROM wmin GROUP BY 1),
    tokc AS (SELECT bkt, COUNT(*) AS nt FROM toks GROUP BY 1),
    grid AS (
      SELECT k.k,
             (SELECT SUM(nt) FROM tokc WHERE bkt <= k.k) AS n_tokens,
             (SELECT SUM(nv) FROM newv WHERE bkt <= k.k) AS vocab
      FROM (SELECT unnest(range(1, 9)) AS k) k
    ),
    pts AS (
      SELECT CAST(round(ln(CAST(n_tokens AS DOUBLE)), 9) AS DECIMAL(20,9))
                 AS x,
             CAST(round(ln(CAST(vocab AS DOUBLE)), 9) AS DECIMAL(20,9)) AS y
      FROM grid
    ),
    fit AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM pts
    )
    SELECT CAST(8 AS BIGINT) AS n_prefixes,
           CAST((SELECT MAX(n_tokens) FROM grid) AS BIGINT) AS n_tokens,
           CAST((SELECT MAX(vocab) FROM grid) AS BIGINT) AS vocab,
           round((n * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) + 0.0
               AS beta,
           round(exp(CAST(sy AS DOUBLE) / n
                     - ((n * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                        / (n * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                       * CAST(sx AS DOUBLE) / n), 6) AS k_coef
    FROM fit
    """,
    doc="Heaps'-law vocabulary-growth fit V(n) = K * n^beta — the "
    "sublinearity constant that sizes tokenizer vocabularies and "
    "predicts how much NEW vocabulary the next 10x of corpus brings "
    "(the capacity-planning twin of tx14's Zipf audit — Heaps and "
    "Zipf exponents are duals); the vocabulary unit here is the word "
    "TRIGRAM digest (the synthetic fixture's unigram vocabulary "
    "saturates in the first prefix — real Heaps needs an open unit "
    "class, and n-gram growth is what packing/dedup planning actually "
    "consumes): documents land in 8 md5-ordered corpus prefixes, each "
    "unit contributes to the vocabulary at its FIRST prefix (one "
    "min-agg — cumulative-distinct without any running distinct "
    "state), the 8 (ln instances, ln vocab) points get "
    "the ts51 closed-form OLS through the 9 dp DECIMAL barrier, and "
    "the readout is beta, K, and the endpoint corpus totals. Plan: "
    "one token explode feeds the word-min agg and the per-prefix "
    "token counts; the grid/fit frames are 8 rows. At 100 TB the "
    "word-min agg is the vocabulary-sized shuffle dd01 already "
    "ships (16-byte-ish keys), and the prefix count is a combiner "
    "agg — one corpus pass total.",
    tags=("text", "llm", "heaps", "vocabulary", "scaling-law"),
)
def tx44(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    bkt = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 8
        + 1
    )
    wl = F.split(F.trim(F.col("text")), _TOKEN_RE)
    sp = docs.select(bkt.alias("bkt"), wl.alias("wl")).filter(
        F.size("wl") >= 3
    )
    toks = sp.select(
        "bkt",
        F.explode(
            F.transform(
                F.slice(F.col("wl"), 1, F.size("wl") - 2),
                lambda x, i: F.md5(
                    F.concat_ws(
                        " ",
                        x,
                        F.element_at(F.col("wl"), i + 2),
                        F.element_at(F.col("wl"), i + 3),
                    )
                ),
            )
        ).alias("w"),
    )
    wmin = toks.groupBy("w").agg(F.min("bkt").alias("fb"))
    newv = wmin.groupBy(F.col("fb").alias("bkt")).agg(
        F.count("*").alias("nv")
    )
    tokc = toks.groupBy("bkt").agg(F.count("*").alias("nt"))
    ks = docs.sparkSession.range(1, 9).select(F.col("id").alias("k"))
    grid = (
        ks.join(F.broadcast(tokc), F.col("bkt") <= F.col("k"))
        .groupBy("k")
        .agg(F.sum("nt").alias("n_tokens"))
        .join(
            ks.join(F.broadcast(newv), F.col("bkt") <= F.col("k"))
            .groupBy("k")
            .agg(F.sum("nv").alias("vocab")),
            "k",
        )
    )
    pts = grid.select(
        F.round(F.log(F.col("n_tokens").cast("double")), 9)
        .cast("decimal(20,9)")
        .alias("x"),
        F.round(F.log(F.col("vocab").cast("double")), 9)
        .cast("decimal(20,9)")
        .alias("y"),
    )
    fit = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    tots = grid.agg(
        F.max("n_tokens").cast("long").alias("n_tokens"),
        F.max("vocab").cast("long").alias("vocab"),
    )
    beta = (
        F.col("n") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        F.col("n") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    return fit.crossJoin(F.broadcast(tots)).select(
        F.lit(8).cast("long").alias("n_prefixes"),
        "n_tokens",
        "vocab",
        (F.round(beta, 6) + F.lit(0.0)).alias("beta"),
        F.round(
            F.exp(
                F.col("sy").cast("double") / F.col("n")
                - beta * F.col("sx").cast("double") / F.col("n")
            ),
            6,
        ).alias("k_coef"),
    )


@REGISTRY.register(
    "tx45_data_card",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, source, text,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                 AS n_tok,
             CAST(length(text) AS BIGINT) AS n_ch,
             {_sql_count('text', _STOP_RE)} AS n_stop,
             {_sql_count('text', _PUNCT_RE)} AS n_punct,
             md5(text) AS fp
      FROM documents
    ),
    base AS (
      SELECT COUNT(*) AS n_docs,
             SUM(n_tok) AS n_tokens,
             COUNT(DISTINCT lang) AS n_langs,
             COUNT(DISTINCT source) AS n_sources,
             COUNT(DISTINCT fp) AS n_distinct,
             median(CAST(n_tok AS DOUBLE)) AS p50_tokens,
             SUM(CASE WHEN n_ch >= 200 AND n_stop * 20 >= n_tok
                       AND n_punct * 5 <= n_ch THEN 1 ELSE 0 END) AS n_pass
      FROM scored
    ),
    topsrc AS (
      SELECT source, COUNT(*) AS c FROM scored GROUP BY 1
      ORDER BY c DESC, source LIMIT 1
    )
    SELECT CAST(b.n_docs AS BIGINT) AS n_docs,
           CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(b.n_langs AS BIGINT) AS n_langs,
           CAST(b.n_sources AS BIGINT) AS n_sources,
           round(1.0 - CAST(b.n_distinct AS DOUBLE) / b.n_docs, 6)
               AS exact_dup_rate,
           round(CAST(b.n_tokens AS DOUBLE) / b.n_docs, 6) AS mean_tokens,
           round(b.p50_tokens, 6) AS p50_tokens,
           round(CAST(b.n_pass AS DOUBLE) / b.n_docs, 6) AS quality_pass_rate,
           t.source AS top_source,
           round(CAST(t.c AS DOUBLE) / b.n_docs, 6) AS top_source_share
    FROM base b CROSS JOIN topsrc t
    """,
    doc="The one-row corpus data card — the summary block every dataset "
    "release publishes (datasheets / data cards), composed from the "
    "repo's own primitives in ONE text scan: doc and token counts, "
    "language/source cardinalities, the exact-duplicate rate (dd01's "
    "md5 fingerprint distinct), median doc length, the share passing "
    "the tx43 quality stack (integer predicates, no rounding "
    "lottery), and the dominant source with its share (x38's "
    "de-domination input). Every ratio is a single division of exact "
    "counts rounded once. Plan: one scan feeds a global agg (count-"
    "distincts expand internally to two-stage partial aggs — still "
    "one pass over text) plus a |sources|-row top-1; at 100 TB this "
    "is the cheapest query in the repo per byte scanned, and the one "
    "a user runs FIRST.",
    tags=("text", "llm", "data-card", "summary"),
)
def tx45(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim(F.col("text")), _TOKEN_RE)).cast("long")
    scored = docs.select(
        "lang",
        "source",
        n_tok.alias("n_tok"),
        F.length("text").cast("long").alias("n_ch"),
        _count("text", _STOP_RE).cast("long").alias("n_stop"),
        _count("text", _PUNCT_RE).cast("long").alias("n_punct"),
        F.md5("text").alias("fp"),
    )
    qpass = (
        (F.col("n_ch") >= 200)
        & (F.col("n_stop") * 20 >= F.col("n_tok"))
        & (F.col("n_punct") * 5 <= F.col("n_ch"))
    )
    base = scored.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("fp").alias("n_distinct"),
        F.expr("percentile(CAST(n_tok AS DOUBLE), 0.5)").alias("p50"),
        F.sum(F.when(qpass, 1).otherwise(0)).alias("n_pass"),
    )
    topsrc = (
        scored.groupBy("source")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "source")
        .limit(1)
    )
    return base.crossJoin(F.broadcast(topsrc)).select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_langs").cast("long").alias("n_langs"),
        F.col("n_sources").cast("long").alias("n_sources"),
        F.round(
            1.0 - F.col("n_distinct").cast("double") / F.col("n_docs"), 6
        ).alias("exact_dup_rate"),
        F.round(
            F.col("n_tokens").cast("double") / F.col("n_docs"), 6
        ).alias("mean_tokens"),
        F.round(F.col("p50"), 6).alias("p50_tokens"),
        F.round(
            F.col("n_pass").cast("double") / F.col("n_docs"), 6
        ).alias("quality_pass_rate"),
        F.col("source").alias("top_source"),
        F.round(F.col("c").cast("double") / F.col("n_docs"), 6).alias(
            "top_source_share"
        ),
    )


@REGISTRY.register(
    "tx46_span_corruption_plan",
    oracle=r"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
      FROM documents
    ),
    planned AS (
      SELECT doc_id, source, n,
             CAST(floor(n * 0.15 / 3) AS BIGINT) AS n_spans
      FROM d
    ),
    spans AS (
      SELECT doc_id, source, n, n_spans,
             1 + CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-'
                                       || CAST(k AS VARCHAR)), 1, 15))
                      AS BIGINT) % greatest(n - 2, 1) AS start
      FROM planned, LATERAL (SELECT unnest(range(1, n_spans + 1)) AS k) s
      WHERE n_spans >= 1
    ),
    pos AS (
      SELECT DISTINCT doc_id, source, n, least(start + o, n) AS p
      FROM spans, LATERAL (SELECT unnest(range(0, 3)) AS o) t
    ),
    per_doc AS (
      SELECT doc_id, source, MAX(n) AS n,
             COUNT(*) AS n_masked
      FROM pos GROUP BY 1, 2
    )
    SELECT p.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs_masked,
           CAST(SUM(p.n) AS BIGINT) AS n_tokens,
           CAST(SUM(pl.n_spans) AS BIGINT) AS n_spans,
           CAST(SUM(p.n_masked) AS BIGINT) AS n_masked,
           round(CAST(SUM(p.n_masked) AS DOUBLE) / SUM(p.n), 6)
               AS realized_rate
    FROM per_doc p JOIN planned pl USING (doc_id)
    GROUP BY 1
    ORDER BY 1
    """,
    doc="T5/UL2-style span-corruption mask planning — the denoising-"
    "pretraining data-prep step that decides WHICH token spans each "
    "document masks (15% corruption budget, mean span 3), made "
    "deterministic and oracle-replayable: span starts are md5(doc_id, "
    "span_index) draws over the token range, span positions explode "
    "and DISTINCT-merge (overlapping spans collapse exactly like the "
    "real packer's sentinel merge), and the per-source readout reports "
    "docs/tokens/spans/masked counts and the realized rate — which "
    "lands BELOW 15% exactly where span overlap and short docs bite, "
    "the number a pretraining run monitors. Plan: one token-count "
    "scan, a per-doc span-index explode (n*0.05 rows/doc), a "
    "(doc, pos) distinct, a source-grain agg — all integer md5 "
    "arithmetic, no RNG. At 100 TB the mask PLAN ships as (doc, pos) "
    "pairs next to the packed sequences (tx12), and replaying the "
    "same md5 draws reproduces it bit-for-bit on any cluster.",
    tags=("text", "llm", "span-corruption", "t5", "masking"),
)
def tx46(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    n = F.size(F.split(F.trim(F.col("text")), _TOKEN_RE)).cast("long")
    planned = docs.select(
        "doc_id",
        "source",
        n.alias("n"),
        F.floor(n * 0.15 / 3).cast("long").alias("n_spans"),
    )
    start = 1 + F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "-",
                    F.col("doc_id").cast("string"),
                    F.col("k").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long") % F.greatest(F.col("n") - 2, F.lit(1))
    spans = (
        planned.filter(F.col("n_spans") >= 1)
        .select(
            "doc_id",
            "source",
            "n",
            "n_spans",
            F.explode(F.sequence(F.lit(1), F.col("n_spans"))).alias("k"),
        )
        .select("doc_id", "source", "n", start.alias("start"))
    )
    pos = spans.select(
        "doc_id",
        "source",
        "n",
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("o"),
        "start",
    ).select(
        "doc_id",
        "source",
        "n",
        F.least(F.col("start") + F.col("o"), F.col("n")).alias("p"),
    ).distinct()
    per_doc = pos.groupBy("doc_id", "source").agg(
        F.max("n").alias("n"), F.count("*").alias("n_masked")
    )
    return (
        per_doc.join(planned.select("doc_id", "n_spans"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs_masked"),
            F.sum("n").cast("long").alias("n_tokens"),
            F.sum("n_spans").cast("long").alias("n_spans"),
            F.sum("n_masked").cast("long").alias("n_masked"),
            F.round(
                F.sum("n_masked").cast("double") / F.sum("n"), 6
            ).alias("realized_rate"),
        )
        .orderBy("source")
    )


@REGISTRY.register(
    "tx47_collocations_pmi",
    oracle=r"""
    WITH toks AS (
      SELECT string_split_regex(trim(text), '\s+') AS w FROM documents
    ),
    uni AS (
      SELECT u.word, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks, unnest(w) AS u(word) GROUP BY 1
    ),
    n AS (SELECT SUM(c) AS n FROM uni),
    bi AS (
      SELECT w[i] AS w1, w[i + 1] AS w2, CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM toks, unnest(range(1, greatest(len(w) - 1, 0) + 1)) AS u(i)
      GROUP BY 1, 2 HAVING COUNT(*) >= 5
    ),
    b AS (SELECT SUM(c_ab) AS b FROM (
      SELECT COUNT(*) AS c_ab
      FROM toks, unnest(range(1, greatest(len(w) - 1, 0) + 1)) AS u(i)
      GROUP BY w[i], w[i + 1]
    )),
    scored AS (
      SELECT bi.w1, bi.w2, bi.c_ab, ua.c AS c_a, ub.c AS c_b,
             round(ln((bi.c_ab * 1.0 / b.b)
                      / ((ua.c * 1.0 / n.n) * (ub.c * 1.0 / n.n))), 9) AS pmi9
      FROM bi JOIN uni ua ON ua.word = bi.w1
              JOIN uni ub ON ub.word = bi.w2
      CROSS JOIN n CROSS JOIN b
    )
    SELECT w1, w2, c_ab, c_a, c_b, round(pmi9, 6) AS pmi
    FROM scored
    ORDER BY pmi9 DESC, w1, w2 LIMIT 20
    """,
    doc="Collocation extraction by pointwise mutual information over "
    "adjacent word bigrams (min count 5, top-20 by PMI): the classic "
    "multiword-expression detector (Church & Hanks 1990) a tokenizer/"
    "vocab pipeline runs to decide which word pairs deserve merged "
    "tokens — the corpus-statistics complement of tx32's learned BPE "
    "merges (BPE merges by raw frequency; PMI surfaces pairs that are "
    "RARE but always together). PMI = ln(p(ab)/(p(a)p(b))) with "
    "probabilities as single divisions of exact integer counts (bigram "
    "count over total bigrams, unigram counts over total tokens), "
    "rounded to 9 dp before the rank decision, (w1, w2) tie-break. "
    "Plan: ONE token explode feeds both gram aggs (combiner-shrunk: "
    "at most |vocab| and |vocab-pair| rows reach the exchanges), the "
    "two scalar totals broadcast, the bigram->unigram joins key on the "
    "vocab-bounded words, and the top-20 is TakeOrdered — never a "
    "global sort. At 100 TB this is two word-keyed exchanges over "
    "fixed-width gram counts, the tx10/tx38 posture.",
    tags=("text", "llm", "collocations", "pmi", "vocab"),
)
def tx47(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.trim(F.col("text")), r"\s+").alias("w"))
    words = toks.select(F.explode("w").alias("word"))
    uni = words.groupBy("word").agg(F.count("*").cast("long").alias("c"))
    n = uni.agg(F.sum("c").alias("n"))
    # Guard: a <2-token doc has zero bigrams. Without the filter,
    # sequence(1, 0) is the DESCENDING [1, 0] in Spark, so the transform
    # would index w[1]/w[-1] — INVALID_ARRAY_INDEX under ANSI mode
    # (phantom NULL bigrams with ANSI off). The DuckDB oracle's
    # range(1, 1) is empty, so the engines agree only with this filter.
    bigrams = (
        toks.where(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(1, size(w) - 1), i -> struct(w[i-1] AS w1, w[i] AS w2))")
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    bi_all = bigrams.groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("c_ab")
    )
    b = bi_all.agg(F.sum("c_ab").alias("b"))
    bi = bi_all.where(F.col("c_ab") >= 5)
    ua = uni.select(F.col("word").alias("w1"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("word").alias("w2"), F.col("c").alias("c_b"))
    pmi9 = F.round(
        F.log(
            (F.col("c_ab") * 1.0 / F.col("b"))
            / ((F.col("c_a") * 1.0 / F.col("n")) * (F.col("c_b") * 1.0 / F.col("n")))
        ),
        9,
    )
    return (
        bi.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(b))
        .withColumn("pmi9", pmi9)
        .orderBy(F.desc("pmi9"), "w1", "w2")
        .limit(20)
        .select(
            "w1", "w2", "c_ab", "c_a", "c_b",
            F.round("pmi9", 6).alias("pmi"),
        )
    )


@REGISTRY.register(
    "tx48_readability_scores",
    oracle=r"""
    WITH d AS (
      SELECT doc_id, source, trim(text) AS tx FROM documents
    ),
    counts AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(tx, '\s+')) AS BIGINT) AS words,
             CAST(greatest(len(regexp_extract_all(tx, '[.!?]+')), 1)
                  AS BIGINT) AS sents,
             CAST(greatest(len(regexp_extract_all(lower(tx),
                                                  '[aeiouy]+')), 1)
                  AS BIGINT) AS syls
      FROM d
    ),
    scored AS (
      SELECT source, words, sents, syls,
             round(206.835 - 1.015 * (words * 1.0 / sents)
                           - 84.6 * (syls * 1.0 / words), 9) AS fre9,
             round(0.39 * (words * 1.0 / sents)
                   + 11.8 * (syls * 1.0 / words) - 15.59, 9) AS fkgl9
      FROM counts
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(CAST(SUM(CAST(fre9 AS DECIMAL(20,9))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_flesch,
           round(CAST(SUM(CAST(fkgl9 AS DECIMAL(20,9))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_fk_grade,
           CAST(SUM(CASE WHEN fre9 < 30.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_very_hard,
           round(SUM(CASE WHEN fre9 < 30.0 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS very_hard_share
    FROM scored GROUP BY 1 ORDER BY 1
    """,
    doc="Readability scoring per source — Flesch Reading Ease and "
    "Flesch-Kincaid grade level, the classic complexity signals a "
    "curriculum/quality pipeline mixes next to tx08's surface ratios "
    "(FineWeb-Edu-style educational-value filtering starts from "
    "exactly these): words from the whitespace split, sentences from "
    "terminal-punctuation runs, syllables from the standard "
    "vowel-group heuristic (runs of [aeiouy] — the published cheap "
    "approximation; a real syllabifier slots into the same per-doc "
    "arithmetic), all floored at 1 so empty/fragment docs score "
    "rather than divide by zero. Per-doc scores are two divisions of "
    "exact integer counts rounded to 9 dp; per-source means cross the "
    "DECIMAL-sum barrier (order-free at any parallelism); the "
    "very-hard share (FRE < 30, the 'college graduate' band) gives "
    "the filterable tail. Plan: ONE map-only pass over text (regexp "
    "counts, no explode at all — cheaper than any tokenizing query "
    "here) into a per-source combiner agg; at 100 TB this is the "
    "tx08 posture: linear scan, |sources|-row output.",
    tags=("text", "llm", "quality", "readability", "flesch"),
)
def tx48(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    tx = F.trim(F.col("text"))
    words = F.size(F.split(tx, r"\s+")).cast("long")
    sents = F.greatest(
        F.size(F.expr(r"regexp_extract_all(trim(text), '[.!?]+', 0)")),
        F.lit(1),
    ).cast("long")
    syls = F.greatest(
        F.size(F.expr(r"regexp_extract_all(lower(trim(text)), '[aeiouy]+', 0)")),
        F.lit(1),
    ).cast("long")
    counts = docs.select(
        "source", words.alias("words"), sents.alias("sents"), syls.alias("syls")
    )
    fre9 = F.round(
        206.835
        - 1.015 * (F.col("words") * 1.0 / F.col("sents"))
        - 84.6 * (F.col("syls") * 1.0 / F.col("words")),
        9,
    )
    fkgl9 = F.round(
        0.39 * (F.col("words") * 1.0 / F.col("sents"))
        + 11.8 * (F.col("syls") * 1.0 / F.col("words"))
        - 15.59,
        9,
    )
    scored = counts.select("source", fre9.alias("fre9"), fkgl9.alias("fkgl9"))
    dec = "decimal(20,9)"
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(
                F.sum(F.col("fre9").cast(dec)).cast("double") / F.count("*"), 6
            ).alias("mean_flesch"),
            F.round(
                F.sum(F.col("fkgl9").cast(dec)).cast("double") / F.count("*"), 6
            ).alias("mean_fk_grade"),
            F.sum(F.when(F.col("fre9") < 30.0, 1).otherwise(0))
            .cast("long")
            .alias("n_very_hard"),
            F.round(
                F.sum(F.when(F.col("fre9") < 30.0, 1).otherwise(0)) * 1.0
                / F.count("*"),
                6,
            ).alias("very_hard_share"),
        )
        .orderBy("source")
    )


@REGISTRY.register(
    "tx49_word_burstiness",
    oracle=r"""
    WITH d AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
    w AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS word
      FROM documents
    ),
    stats AS (
      SELECT word,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM w GROUP BY 1
    ),
    top AS (
      SELECT word, n, df FROM stats
      ORDER BY n DESC, word LIMIT 20
    )
    SELECT t.word, t.n, t.df,
           round(d.nd * (1.0 - exp(-(t.n * 1.0 / d.nd))), 6)
               AS expected_df,
           round(t.df / (d.nd * (1.0 - exp(-(t.n * 1.0 / d.nd)))), 6)
               AS dispersion,
           round(t.n * 1.0 / t.df, 6) AS burst_rate
    FROM top t CROSS JOIN d
    ORDER BY t.n DESC, t.word
    """,
    doc="Word burstiness audit (Church & Gale 1995): for the top-20 corpus "
    "words, the observed document frequency against the Poisson "
    "expectation D*(1-exp(-n/D)) — dispersion near 1 means the word "
    "spreads independently (function-word behavior), well below 1 means "
    "it BURSTS (content words cluster in few documents: once a word "
    "appears it repeats), and burst_rate = n/df is the mean occurrences "
    "per containing document. This is the statistic behind burst-aware "
    "TF weighting and stopword induction — tx14's Zipf audit ranks by "
    "total frequency, tx31 sketches it; this measures HOW each word's "
    "mass distributes across documents, a signal total frequency cannot "
    "carry. Exact integer (n, df) counts from one token explode "
    "(combiner-shrunk to |vocab| rows); the expectation is one "
    "exp/divide chain over the broadcast doc count, computed on the "
    "20-row TakeOrdered slice only. At 100 TB: tx10's posture — one "
    "gram exchange, never a global sort.",
    tags=("text", "llm", "burstiness", "dispersion", "stopwords"),
)
def tx49(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
    )
    stats = w.groupBy("word").agg(
        F.count("*").cast("long").alias("n"),
        F.count_distinct("doc_id").cast("long").alias("df"),
    )
    top = stats.orderBy(F.desc("n"), "word").limit(20)
    nd = docs.agg(F.count("*").cast("long").alias("nd"))
    exp_df = F.col("nd") * (1.0 - F.exp(-(F.col("n") * 1.0 / F.col("nd"))))
    return (
        top.crossJoin(F.broadcast(nd))
        .select(
            "word",
            "n",
            "df",
            F.round(exp_df, 6).alias("expected_df"),
            F.round(F.col("df") / exp_df, 6).alias("dispersion"),
            F.round(F.col("n") * 1.0 / F.col("df"), 6).alias("burst_rate"),
        )
        .orderBy(F.desc("n"), "word")
    )


_TX50_K = 50


@REGISTRY.register(
    "tx50_rank_stability",
    oracle=f"""
    WITH w AS (
      SELECT source,
             unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents
    ),
    corpus AS (
      SELECT word, row_number() OVER (ORDER BY COUNT(*) DESC, word) AS cr
      FROM w GROUP BY word
      ORDER BY COUNT(*) DESC, word LIMIT {_TX50_K}
    ),
    per_src AS (
      SELECT source, word,
             row_number() OVER (PARTITION BY source
                                ORDER BY COUNT(*) DESC, word) AS sr,
             COUNT(*) AS c
      FROM w GROUP BY source, word
    ),
    srcs AS (SELECT DISTINCT source FROM documents),
    joined AS (
      SELECT s.source, c.cr,
             CASE WHEN p.sr IS NULL THEN {_TX50_K + 1} ELSE p.sr END AS sr
      FROM corpus c CROSS JOIN srcs s
      LEFT JOIN per_src p
        ON p.word = c.word AND p.source = s.source AND p.sr <= {_TX50_K}
    ),
    stats AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM((cr - sr) * (cr - sr)) AS BIGINT) AS d2,
             CAST(SUM(CASE WHEN sr <= {_TX50_K} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_shared
      FROM joined GROUP BY 1
    )
    SELECT source, n_shared,
           round(1.0 - 6.0 * d2 / (k * (CAST(k AS DOUBLE) * k - 1)), 6)
               AS spearman_rho,
           round(n_shared * 1.0 / k, 6) AS topk_overlap
    FROM stats
    ORDER BY source
    """,
    doc="Lexical rank stability per source: Spearman's rho between the "
    f"corpus-wide top-{_TX50_K} word frequency ranking and each "
    "source's own ranking of those words (corpus head words a source "
    "ranks outside its own top-k take rank k+1 — the standard "
    "truncated-list convention), plus the plain top-k overlap share — "
    "the drift detector that catches a source whose LANGUAGE USE "
    "diverges from the mix even when tx36's KL on raw frequencies "
    "stays flat (rank correlation ignores mass, so a source that "
    "uses the same words at very different relative intensities "
    "lights up here first). Determinism: both rankings order by "
    "(count DESC, word) — total orders of exact integer counts — so "
    "rho's d² sum is pure integer arithmetic with ONE final division. "
    "Plan: one token explode feeds the corpus agg (TakeOrdered to "
    f"{_TX50_K} rows, broadcast) and the per-(source, word) agg whose "
    "rank window partitions by source; everything after the joins is "
    f"|sources| x {_TX50_K} rows. At 100 TB: two vocab-bounded gram "
    "exchanges, the tx10/tx47 posture.",
    tags=("text", "llm", "drift", "spearman", "rank-stability"),
)
def tx50(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    w = docs.select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
    )
    corpus = (
        w.groupBy("word")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "word")
        .limit(_TX50_K)
    )
    from pyconnect_spark.operators.rankops import rank_small_frame

    corpus_r = rank_small_frame(
        corpus,
        F.struct((-F.col("c")).alias("nc"), F.col("word").alias("kw")),
        rank_col="cr",
    ).select("word", "cr")
    per_src = (
        w.groupBy("source", "word")
        .agg(F.count("*").alias("c"))
        .withColumn(
            "sr",
            F.row_number().over(
                Window.partitionBy("source").orderBy(F.desc("c"), "word")
            ),
        )
    )
    joined = (
        corpus_r.crossJoin(
            per_src.select("source").distinct()
        )
        .join(
            per_src.where(F.col("sr") <= _TX50_K).select(
                "source", "word", "sr"
            ),
            ["source", "word"],
            "left",
        )
        .select(
            "source",
            "cr",
            F.coalesce("sr", F.lit(_TX50_K + 1)).alias("sr"),
        )
    )
    stats = joined.groupBy("source").agg(
        F.count("*").cast("long").alias("k"),
        F.sum((F.col("cr") - F.col("sr")) * (F.col("cr") - F.col("sr")))
        .cast("long")
        .alias("d2"),
        F.sum(F.when(F.col("sr") <= _TX50_K, 1).otherwise(0))
        .cast("long")
        .alias("n_shared"),
    )
    return stats.select(
        "source",
        "n_shared",
        F.round(
            1.0
            - 6.0
            * F.col("d2")
            / (F.col("k") * (F.col("k").cast("double") * F.col("k") - 1)),
            6,
        ).alias("spearman_rho"),
        F.round(F.col("n_shared") * 1.0 / F.col("k"), 6).alias("topk_overlap"),
    ).orderBy("source")


@REGISTRY.register(
    "tx51_zipf_slope",
    oracle=r"""
    WITH toks AS (
      SELECT source, u.word
      FROM (SELECT source, string_split_regex(trim(text), '\s+') AS w
            FROM documents) d, unnest(w) AS u(word)
    ),
    cnt AS (
      SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY 1, 2
    ),
    ranked AS (
      SELECT source, c,
             row_number() OVER (PARTITION BY source
                                ORDER BY c DESC, word) AS r
      FROM cnt QUALIFY r <= 100
    ),
    pts AS (
      SELECT source,
             round(ln(CAST(r AS DOUBLE)), 9) AS x,
             round(ln(CAST(c AS DOUBLE)), 9) AS y
      FROM ranked
    ),
    s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(20,9))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(20,9))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(round(x * x, 9) AS DECIMAL(20,9))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(round(x * y, 9) AS DECIMAL(20,9))) AS DOUBLE) AS sxy
      FROM pts GROUP BY 1
    )
    SELECT source, n AS n_ranks,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n,
                 6) AS ln_c0
    FROM s ORDER BY source
    """,
    doc="Zipf's-law slope per source: OLS of ln(frequency) on ln(rank) "
    "over each source's top-100 word ranks. Natural text sits near "
    "slope -1 (Zipf 1949); a much flatter slope flags template/"
    "boilerplate-heavy sources (mass spread over many equally-common "
    "strings) and a much steeper one flags degenerate repetition — a "
    "one-number vocabulary-health screen next to tx44's Heaps "
    "coefficient and tx49's burstiness. Determinism: ranks are total "
    "orders (count DESC, word); every ln() is rounded to 9 dp and "
    "summed as DECIMAL; slope and intercept are the same closed-form "
    "expressions over those exact sums in both engines. Plan: ONE "
    "token explode into a combiner-shrunk (source, word) count, a "
    "source-partitioned top-100 window over vocab-bounded rows, and a "
    "|sources|-row stats agg — at 100 TB the only corpus-scale "
    "exchange is the gram count, the tx10/tx38 posture.",
    tags=("text", "llm", "zipf", "vocab", "audit"),
)
def tx51(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
    )
    cnt = toks.groupBy("source", "word").agg(
        F.count("*").cast("long").alias("c")
    )
    w = Window.partitionBy("source").orderBy(F.desc("c"), "word")
    ranked = (
        cnt.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= 100)
    )
    x = F.round(F.log(F.col("r").cast("double")), 9)
    y = F.round(F.log(F.col("c").cast("double")), 9)
    pts = ranked.select("source", x.alias("x"), y.alias("y"))
    s = pts.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(20,9)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(20,9)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("x"), 9).cast("decimal(20,9)"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.round(F.col("x") * F.col("y"), 9).cast("decimal(20,9)"))
        .cast("double")
        .alias("sxy"),
    )
    n, sx, sy, sxx, sxy = (
        F.col("n"),
        F.col("sx"),
        F.col("sy"),
        F.col("sxx"),
        F.col("sxy"),
    )
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        "source",
        F.col("n").alias("n_ranks"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 6).alias("ln_c0"),
    ).orderBy("source")


_TX52_K = 10


@REGISTRY.register(
    "tx52_hill_tail_index",
    oracle=f"""
    WITH ranked AS (
      SELECT source, n_chars, doc_id,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS r
      FROM documents QUALIFY r <= {_TX52_K} + 1
    ),
    thr AS (
      SELECT source, n_chars AS xk FROM ranked WHERE r = {_TX52_K} + 1
    ),
    s AS (
      SELECT ranked.source,
             CAST(SUM(CAST(round(ln(ranked.n_chars * 1.0 / thr.xk), 9)
                           AS DECIMAL(20,9))) AS DOUBLE) AS h
      FROM ranked JOIN thr ON thr.source = ranked.source
      WHERE ranked.r <= {_TX52_K}
      GROUP BY 1
    )
    SELECT s.source, CAST({_TX52_K} AS BIGINT) AS k,
           CAST(thr.xk AS BIGINT) AS xmin_threshold,
           round({_TX52_K} / s.h, 6) AS hill_alpha
    FROM s JOIN thr ON thr.source = s.source
    ORDER BY s.source
    """,
    doc="Hill tail-index estimator per source over document lengths "
    "(n_chars): alpha = k / sum_(i<=k) ln(x_(i) / x_(k+1)) on the k=10 "
    "largest docs — the standard heavy-tail exponent (Hill 1975). "
    "Document lengths in crawl corpora are famously Pareto-tailed; a "
    "small alpha (~1) says a handful of mega-documents dominate token "
    "mass (shard-packing hazard for tx12/tx34 and a quota-sampling "
    "hazard for dd26 — one doc can blow a 2048-token budget or a "
    "source quota), while alpha >> 2 says the tail is tame. "
    "Determinism: lengths are exact integers, the top-(k+1) is a total "
    "order (n_chars DESC, doc_id), each log-ratio crosses the 9 dp "
    "barrier into a DECIMAL sum, and alpha is one division. Plan: the "
    "scan reads ONE integer column (n_chars — no text bytes touched, "
    "column pruning does the work), a source-partitioned top-(k+1) "
    "window over |sources| balanced keys, then |sources|-row "
    "arithmetic. At 100 TB this is a metadata-column scan, nothing "
    "else.",
    tags=("text", "llm", "tail", "pareto", "audit"),
)
def tx52(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    ranked = (
        docs.select("source", "n_chars", "doc_id")
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _TX52_K + 1)
    )
    thr = ranked.filter(F.col("r") == _TX52_K + 1).select(
        "source", F.col("n_chars").alias("xk")
    )
    s = (
        ranked.filter(F.col("r") <= _TX52_K)
        .join(thr, "source")
        .groupBy("source")
        .agg(
            F.sum(
                F.round(
                    F.log(F.col("n_chars") * 1.0 / F.col("xk")), 9
                ).cast("decimal(20,9)")
            )
            .cast("double")
            .alias("h")
        )
    )
    return (
        s.join(thr, "source")
        .select(
            "source",
            F.lit(_TX52_K).cast("long").alias("k"),
            F.col("xk").cast("long").alias("xmin_threshold"),
            F.round(F.lit(_TX52_K) / F.col("h"), 6).alias("hill_alpha"),
        )
        .orderBy("source")
    )


@REGISTRY.register(
    "tx53_bigram_entropy_rate",
    oracle=r"""
    WITH toks AS (
      SELECT source, string_split_regex(trim(text), '\s+') AS w
      FROM documents
    ),
    bi AS (
      SELECT source, w[i] AS w1, w[i + 1] AS w2,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM toks, unnest(range(1, greatest(len(w) - 1, 0) + 1)) AS u(i)
      GROUP BY 1, 2, 3
    ),
    tot AS (SELECT source, SUM(c) AS n2, CAST(COUNT(*) AS BIGINT) AS n_types
            FROM bi GROUP BY 1),
    h2 AS (
      SELECT bi.source,
             CAST(SUM(CAST(round((bi.c * 1.0 / t.n2)
                                 * ln(bi.c * 1.0 / t.n2), 9)
                           AS DECIMAL(20,9))) AS DOUBLE) AS s2
      FROM bi JOIN tot t ON t.source = bi.source GROUP BY 1
    ),
    marg AS (
      SELECT source, w1, SUM(c) AS cm FROM bi GROUP BY 1, 2
    ),
    h1 AS (
      SELECT m.source,
             CAST(SUM(CAST(round((m.cm * 1.0 / t.n2)
                                 * ln(m.cm * 1.0 / t.n2), 9)
                           AS DECIMAL(20,9))) AS DOUBLE) AS s1
      FROM marg m JOIN tot t ON t.source = m.source GROUP BY 1
    )
    SELECT t.source, CAST(t.n2 AS BIGINT) AS n_bigrams, t.n_types,
           round(-h2.s2, 6) AS bigram_entropy,
           round(-h1.s1, 6) AS marginal_entropy,
           round(-h2.s2 - (-h1.s1), 6) AS cond_entropy
    FROM tot t JOIN h2 ON h2.source = t.source
               JOIN h1 ON h1.source = t.source
    ORDER BY t.source
    """,
    doc="Bigram conditional entropy rate per source: H(W2|W1) = "
    "H(bigram) - H(first-word marginal), in nats — the "
    "next-word-predictability number (Shannon's entropy-rate estimate "
    "at order 1) that separates templated/boilerplate sources (low "
    "conditional entropy: the next word is nearly determined) from "
    "natural prose, complementing tx20's cross-entropy-vs-corpus and "
    "tx38's per-source perplexity (those measure DIVERGENCE from a "
    "reference model; this measures the source's own internal "
    "predictability, reference-free). Each p*ln(p) term crosses the "
    "9 dp barrier into a DECIMAL sum; probabilities are single "
    "integer-over-integer divisions. The <2-token doc guard is "
    "inherited from the tx47 fix (range(1, 0+1) is empty in BOTH "
    "engines). Plan: one token pass into a combiner-shrunk (source, "
    "w1, w2) count — the only corpus-scale exchange; the marginal is "
    "a second rollup OF THE COUNTS (vocab-pair-bounded), totals "
    "broadcast back by source key.",
    tags=("text", "llm", "entropy", "boilerplate", "audit"),
)
def tx53(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.split(F.trim(F.col("text")), r"\s+").alias("w")
    )
    bi = (
        toks.where(F.size("w") >= 2)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), i -> struct(w[i-1] AS w1, w[i] AS w2))"
                )
            ).alias("p"),
        )
        .select("source", "p.w1", "p.w2")
        .groupBy("source", "w1", "w2")
        .agg(F.count("*").cast("long").alias("c"))
    )
    tot = bi.groupBy("source").agg(
        F.sum("c").alias("n2"), F.count("*").cast("long").alias("n_types")
    )
    term = lambda c: F.round(  # noqa: E731
        (F.col(c) * 1.0 / F.col("n2")) * F.log(F.col(c) * 1.0 / F.col("n2")), 9
    ).cast("decimal(20,9)")
    h2 = (
        bi.join(tot.select("source", "n2"), "source")
        .groupBy("source")
        .agg(F.sum(term("c")).cast("double").alias("s2"))
    )
    marg = bi.groupBy("source", "w1").agg(F.sum("c").alias("cm"))
    h1 = (
        marg.join(tot.select("source", "n2"), "source")
        .groupBy("source")
        .agg(F.sum(term("cm")).cast("double").alias("s1"))
    )
    return (
        tot.join(h2, "source")
        .join(h1, "source")
        .select(
            "source",
            F.col("n2").cast("long").alias("n_bigrams"),
            "n_types",
            F.round(-F.col("s2"), 6).alias("bigram_entropy"),
            F.round(-F.col("s1"), 6).alias("marginal_entropy"),
            F.round(-F.col("s2") - (-F.col("s1")), 6).alias("cond_entropy"),
        )
        .orderBy("source")
    )


@REGISTRY.register(
    "tx54_mattr_lexical_diversity",
    oracle=r"""
    WITH toks AS (
      SELECT source, string_split_regex(trim(text), '\s+') AS w
      FROM documents
    ),
    stats AS (
      SELECT source, len(w) AS n,
             CASE WHEN len(w) >= 20 THEN
               round(CAST(list_aggregate(list_transform(
                         range(1, len(w) - 20 + 2),
                         i -> len(list_distinct(w[i:i+19]))), 'sum')
                          AS DOUBLE)
                     / (20 * (len(w) - 20 + 1)), 9)
             ELSE round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 9)
             END AS mattr9,
             round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 9)
                 AS ttr9
      FROM toks
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(CAST(SUM(CAST(mattr9 AS DECIMAL(20,9))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_mattr,
           round(CAST(SUM(CAST(ttr9 AS DECIMAL(20,9))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_ttr,
           round(CAST(SUM(CAST(ttr9 AS DECIMAL(20,9))) AS DOUBLE)
                 / COUNT(*)
                 - CAST(SUM(CAST(mattr9 AS DECIMAL(20,9))) AS DOUBLE)
                 / COUNT(*), 6) AS length_bias
    FROM stats GROUP BY 1 ORDER BY 1
    """,
    doc="MATTR (moving-average type-token ratio, window 20) per source — "
    "the lexical-diversity score that, unlike raw TTR, does NOT "
    "collapse with document length (Covington & McFall 2010), so "
    "sources can be compared for template/boilerplate vocabulary "
    "poverty on equal footing; the ttr-minus-mattr gap per source is "
    "the measured length bias itself. Each doc reduces to two "
    "integers (sum of per-window distinct counts, window count) via "
    "transform over the token array — MATTR is exactly their ratio, "
    "so the only cross-engine barrier is the 9 dp rounding of that "
    "rational before the per-source DECIMAL fold; sub-window docs "
    "fall back to exact TTR (CASE keeps the descending-sequence "
    "branch unevaluated — the tx47 guard lesson). Plan: ONE map-only "
    "pass over documents (text never shuffles; per-doc arithmetic is "
    "O(n_tokens * 20)), then a |sources|-row agg.",
    tags=("text", "llm", "lexical-diversity", "mattr", "quality"),
)
def tx54(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(F.col("w"))
    win = 20
    win_counts = F.transform(
        F.sequence(F.lit(1), n - win + 1),
        lambda i: F.size(F.array_distinct(F.slice(F.col("w"), i, win))),
    )
    mattr_long = (
        F.aggregate(win_counts, F.lit(0), lambda acc, x: acc + x).cast(
            "double"
        )
        / (win * (n - win + 1))
    )
    ttr = F.size(F.array_distinct(F.col("w"))).cast("double") / n
    stats = docs.select("source", w.alias("w")).select(
        "source",
        F.round(F.when(n >= win, mattr_long).otherwise(ttr), 9).alias(
            "mattr9"
        ),
        F.round(ttr, 9).alias("ttr9"),
    )
    dmean = lambda c: (
        F.sum(F.col(c).cast("decimal(20,9)")).cast("double") / F.count("*")
    )
    return (
        stats.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(dmean("mattr9"), 6).alias("mean_mattr"),
            F.round(dmean("ttr9"), 6).alias("mean_ttr"),
            F.round(dmean("ttr9") - dmean("mattr9"), 6).alias("length_bias"),
        )
        .orderBy("source")
    )


@REGISTRY.register(
    "tx55_jsd_source_matrix",
    oracle=r"""
    WITH words AS (
      SELECT source,
             unnest(string_split_regex(trim(text), '\s+')) AS word
      FROM documents
    ),
    sw AS (
      SELECT source, word, CAST(COUNT(*) AS DOUBLE) AS n
      FROM words GROUP BY source, word
    ),
    stot AS (SELECT source, SUM(n) AS ns FROM sw GROUP BY source),
    p AS (
      SELECT s.source, s.word, s.n / t.ns AS p
      FROM sw s JOIN stot t USING (source)
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_common_vocab,
             SUM(a.p) AS pc, SUM(b.p) AS qc,
             SUM(a.p * log2(2 * a.p / (a.p + b.p))) AS ja,
             SUM(b.p * log2(2 * b.p / (a.p + b.p))) AS jb
      FROM p a JOIN p b ON a.word = b.word AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_common_vocab,
           round(0.5 * (ja + (1 - pc)) + 0.5 * (jb + (1 - qc)), 6)
               AS jsd_bits,
           round(0.5 * (pc + qc), 6) AS common_mass
    FROM pairs
    ORDER BY jsd_bits, source_a, source_b
    """,
    doc="Pairwise Jensen-Shannon divergence matrix between source "
    "unigram distributions (bits) — the symmetric, bounded "
    "source-vs-source redundancy measure completing the provenance "
    "family (tx36: each source vs the corpus MIX; dd36: literal "
    "near-dup copies; this: distributional closeness even when no "
    "document is shared — the signal that two crawls covered the "
    "same domain). The union-support sum splits exactly: words in "
    "BOTH sources contribute p*log2(2p/(p+q)) via an equi-join on "
    "word, and each word in only ONE source contributes 0.5*p "
    "analytically (log2(2p/p) = 1), so the inner join plus the "
    "closed-form (1 - common-mass) correction IS the exact JSD — no "
    "full-outer join, no smoothing, no dense vocab cross. Double "
    "sums round at 6 dp (tx36's convention, far above accumulation "
    "noise). Plan: ONE token explode -> (source, word) combiner agg; "
    "the pair join carries (source x vocab) rows keyed on word — at "
    "100 TB that is vocab-bounded, orders below the token stream — "
    "and the matrix is |sources|^2/2 rows.",
    tags=("text", "llm", "jsd", "provenance", "distribution"),
)
def tx55(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
    )
    sw = words.groupBy("source", "word").agg(
        F.count("*").cast("double").alias("n")
    )
    stot = sw.groupBy("source").agg(F.sum("n").alias("ns"))
    # pin the (source, word, p) frame: BOTH sides of the pair join read
    # it — unpinned lineage would re-run the token explode per side
    p = (
        sw.join(stot, "source")
        .select("source", "word", (F.col("n") / F.col("ns")).alias("p"))
        .localCheckpoint(eager=False)
    )
    a = p.select(
        F.col("source").alias("source_a"),
        F.col("word"),
        F.col("p").alias("pa"),
    )
    b = p.select(
        F.col("source").alias("source_b"),
        F.col("word").alias("word_b"),
        F.col("p").alias("pb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("word") == F.col("word_b"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("long").alias("n_common_vocab"),
            F.sum("pa").alias("pc"),
            F.sum("pb").alias("qc"),
            F.sum(
                F.col("pa")
                * F.log2(2 * F.col("pa") / (F.col("pa") + F.col("pb")))
            ).alias("ja"),
            F.sum(
                F.col("pb")
                * F.log2(2 * F.col("pb") / (F.col("pa") + F.col("pb")))
            ).alias("jb"),
        )
    )
    return pairs.select(
        "source_a",
        "source_b",
        "n_common_vocab",
        F.round(
            0.5 * (F.col("ja") + (1 - F.col("pc")))
            + 0.5 * (F.col("jb") + (1 - F.col("qc"))),
            6,
        ).alias("jsd_bits"),
        F.round(0.5 * (F.col("pc") + F.col("qc")), 6).alias("common_mass"),
    ).orderBy("jsd_bits", "source_a", "source_b")


@REGISTRY.register(
    "tx56_charclass_entropy",
    oracle="""
    WITH per_doc AS (
      SELECT source,
             length(text) AS total,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS letters,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
             length(text)
               - length(regexp_replace(text, '[ \t\n\r]', '', 'g')) AS ws
      FROM documents
    ),
    src AS (
      SELECT source,
             CAST(SUM(total) AS BIGINT) AS total,
             CAST(SUM(letters) AS BIGINT) AS letters,
             CAST(SUM(digits) AS BIGINT) AS digits,
             CAST(SUM(ws) AS BIGINT) AS ws,
             CAST(SUM(total - letters - digits - ws) AS BIGINT) AS other
      FROM per_doc GROUP BY source
    )
    SELECT source, total AS n_chars_total,
           round(CAST(letters AS DOUBLE) / total, 6) AS share_letters,
           round(CAST(digits AS DOUBLE) / total, 6) AS share_digits,
           round(CAST(ws AS DOUBLE) / total, 6) AS share_ws,
           round(CAST(other AS DOUBLE) / total, 6) AS share_other,
           round(
             - (CASE WHEN letters > 0 THEN (CAST(letters AS DOUBLE) / total)
                    * log2(CAST(letters AS DOUBLE) / total) ELSE 0 END)
             - (CASE WHEN digits > 0 THEN (CAST(digits AS DOUBLE) / total)
                    * log2(CAST(digits AS DOUBLE) / total) ELSE 0 END)
             - (CASE WHEN ws > 0 THEN (CAST(ws AS DOUBLE) / total)
                    * log2(CAST(ws AS DOUBLE) / total) ELSE 0 END)
             - (CASE WHEN other > 0 THEN (CAST(other AS DOUBLE) / total)
                    * log2(CAST(other AS DOUBLE) / total) ELSE 0 END),
             6) AS class_entropy_bits
    FROM src
    ORDER BY source
    """,
    doc="Per-source character-class composition profile: shares of "
    "letters / digits / whitespace / other plus the Shannon entropy "
    "of the 4-class distribution — the cheapest corpus-mix fingerprint "
    "(code and tables skew digit/other-heavy, prose letter-heavy; a "
    "source whose class entropy drifts between crawls changed its "
    "content type before any tokenizer sees it). Class counts are "
    "regex strip-and-measure (global replace in both engines), summed "
    "as exact integers; entropy is a FIXED-ORDER row expression over "
    "the four class terms (no aggregation of transcendentals), each "
    "zero-guarded identically, so both engines evaluate bitwise the "
    "same formula. Plan: map-only scan -> |sources|-row combiner agg; "
    "at 100 TB this is one pass over text with a 4-integer payload "
    "per source.",
    tags=("text", "llm", "quality", "entropy", "provenance"),
)
def tx56(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    txt = F.col("text")
    per_doc = docs.select(
        "source",
        F.length(txt).alias("total"),
        F.length(F.regexp_replace(txt, "[^A-Za-z]", "")).alias("letters"),
        F.length(F.regexp_replace(txt, "[^0-9]", "")).alias("digits"),
        (
            F.length(txt)
            - F.length(F.regexp_replace(txt, "[ \t\n\r]", ""))
        ).alias("ws"),
    )
    src = per_doc.groupBy("source").agg(
        F.sum("total").cast("long").alias("total"),
        F.sum("letters").cast("long").alias("letters"),
        F.sum("digits").cast("long").alias("digits"),
        F.sum("ws").cast("long").alias("ws"),
        F.sum(
            F.col("total") - F.col("letters") - F.col("digits") - F.col("ws")
        )
        .cast("long")
        .alias("other"),
    )
    tot = F.col("total")

    def ent_term(c):
        p = F.col(c).cast("double") / tot
        return F.when(F.col(c) > 0, p * F.log2(p)).otherwise(F.lit(0.0))

    return src.select(
        "source",
        tot.alias("n_chars_total"),
        F.round(F.col("letters").cast("double") / tot, 6).alias(
            "share_letters"
        ),
        F.round(F.col("digits").cast("double") / tot, 6).alias(
            "share_digits"
        ),
        F.round(F.col("ws").cast("double") / tot, 6).alias("share_ws"),
        F.round(F.col("other").cast("double") / tot, 6).alias("share_other"),
        F.round(
            -ent_term("letters")
            - ent_term("digits")
            - ent_term("ws")
            - ent_term("other"),
            6,
        ).alias("class_entropy_bits"),
    ).orderBy("source")


@REGISTRY.register(
    "tx57_token_artifact_profile",
    oracle=r"""
    WITH toks AS (
      SELECT source,
             string_split_regex(trim(text), '\s+') AS w
      FROM documents
    ),
    per_doc AS (
      SELECT source,
             CAST(len(w) AS BIGINT) AS n_tok,
             CAST(list_aggregate(list_transform(w, x -> length(x)),
                                 'sum') AS BIGINT) AS tok_chars,
             CAST(len(list_filter(w, x -> length(x) = 1)) AS BIGINT)
                 AS n_single,
             CAST(CASE WHEN len(w) >= 2 THEN list_aggregate(
                    list_transform(range(1, len(w)),
                                   i -> CASE WHEN w[i] = w[i + 1]
                                        THEN 1 ELSE 0 END), 'sum')
                  ELSE 0 END AS BIGINT) AS n_stutter,
             CAST(greatest(len(w) - 1, 0) AS BIGINT) AS n_adj
      FROM toks
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           round(SUM(tok_chars) * 1.0 / SUM(n_tok), 6) AS mean_tok_len,
           round(SUM(n_single) * 1.0 / SUM(n_tok), 6) AS single_char_share,
           round(SUM(n_stutter) * 1.0 / SUM(n_adj), 6) AS stutter_rate
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """,
    doc="Token-artifact quality profile per source: mean token length, "
    "single-character-token share (OCR shrapnel / tokenizer-hostile "
    "noise) and the adjacent-duplicate 'stutter' rate (w[i] = w[i+1] "
    "— the classic extraction artifact of repeated boilerplate spans "
    "and OCR line re-reads; tx35 profiles long-range repetition, this "
    "catches the adjacency grain it misses). The adjacent compare "
    "uses SLICE-AND-ZIP on the ascending side only (slice(w,1,n-1) "
    "zip slice(w,2,n-1)) with an explicit n_tok >= 2 gate — the tx47 "
    "ADVICE lesson: index arithmetic over sequence(1, n-1) turns "
    "descending when n < 2 and throws under ANSI. All counts are "
    "exact integers; the three final ratios are single divisions "
    "rounded at 6 dp. Plan: map-only token arithmetic inside the "
    "scan, one |sources|-row combiner agg; no explode — tokens never "
    "become rows, so the exchange is 4 integers per source.",
    tags=("text", "llm", "quality", "ocr", "artifact"),
)
def tx57(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), r"\s+")
    per_doc = docs.select(
        "source",
        F.size(w).cast("long").alias("n_tok"),
        F.expr(
            "aggregate(transform(split(trim(text), '\\\\s+'), "
            "x -> length(x)), 0L, (acc, x) -> acc + x)"
        ).alias("tok_chars"),
        F.expr(
            "CAST(size(filter(split(trim(text), '\\\\s+'), "
            "x -> length(x) = 1)) AS BIGINT)"
        ).alias("n_single"),
        F.expr(
            "CASE WHEN size(split(trim(text), '\\\\s+')) >= 2 THEN "
            "aggregate(zip_with("
            "  slice(split(trim(text), '\\\\s+'), 1, "
            "        size(split(trim(text), '\\\\s+')) - 1), "
            "  slice(split(trim(text), '\\\\s+'), 2, "
            "        size(split(trim(text), '\\\\s+')) - 1), "
            "  (a, b) -> CASE WHEN a = b THEN 1 ELSE 0 END), "
            "0L, (acc, x) -> acc + x) ELSE 0L END"
        ).alias("n_stutter"),
        F.greatest(F.size(w) - 1, F.lit(0)).cast("long").alias("n_adj"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.round(F.sum("tok_chars") * 1.0 / F.sum("n_tok"), 6).alias(
                "mean_tok_len"
            ),
            F.round(F.sum("n_single") * 1.0 / F.sum("n_tok"), 6).alias(
                "single_char_share"
            ),
            F.round(F.sum("n_stutter") * 1.0 / F.sum("n_adj"), 6).alias(
                "stutter_rate"
            ),
        )
        .orderBy("source")
    )


@REGISTRY.register(
    "tx58_char_coverage_curve",
    oracle="""
    WITH chars AS (
      SELECT lang, unnest(string_split(text, '')) AS c
      FROM documents WHERE length(text) >= 1
    ),
    cnt AS (
      SELECT lang, c, CAST(COUNT(*) AS BIGINT) AS n
      FROM chars GROUP BY 1, 2
    ),
    ranked AS (
      SELECT lang, n,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n DESC, c) AS rk,
             SUM(n) OVER (PARTITION BY lang) AS tot,
             COUNT(*) OVER (PARTITION BY lang) AS nd
      FROM cnt
    ),
    ks AS (SELECT unnest([4, 8, 16]) AS k)
    SELECT r.lang, CAST(k.k AS BIGINT) AS k,
           CAST(MAX(nd) AS BIGINT) AS n_distinct_chars,
           round(SUM(CASE WHEN rk <= k.k THEN n ELSE 0 END)
                 / CAST(MAX(tot) AS DOUBLE), 6) AS coverage
    FROM ranked r CROSS JOIN ks k
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="Character-coverage curve per language: the share of all "
    "character occurrences covered by the top-k most frequent "
    "characters (k = 4/8/16) plus the distinct-alphabet size — "
    "SentencePiece's character_coverage knob made measurable (the "
    "value that decides how many code points the tokenizer keeps "
    "before falling back to bytes; tx23 is the WORD-level twin). The "
    "explode runs at character grain but immediately collapses "
    "through a map-side combiner into a (lang, char) frame bounded "
    "by |langs| x |alphabet| — at 100 TB the exchange carries "
    "alphabet-sized partials, never corpus text, and the rank/"
    "coverage windows run on that tiny frame. Counts are exact "
    "integers, rank ties break on the character itself, and the "
    "coverage share is one identically-written IEEE division rounded "
    "6 dp. Spark side filters the empty-string token Java's "
    "empty-pattern split can emit so both engines count the same "
    "character multiset.",
    tags=("text", "llm", "tokenizer", "coverage", "alphabet"),
)
def tx58(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents")
    chars = (
        docs.filter(F.length("text") >= 1)
        .select("lang", F.explode(F.split("text", "")).alias("c"))
        # Java Pattern.split('', -1) can emit a trailing '' token that
        # DuckDB's string_split never produces — drop it so the two
        # engines count the same multiset
        .filter(F.col("c") != "")
    )
    cnt = chars.groupBy("lang", "c").agg(
        F.count("*").cast("long").alias("n")
    )
    wr = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("c"))
    wt = Window.partitionBy("lang")
    ranked = cnt.select(
        "lang",
        "n",
        F.row_number().over(wr).alias("rk"),
        F.sum("n").over(wt).alias("tot"),
        F.count("*").over(wt).alias("nd"),
    )
    ks = spark.range(1).select(
        F.explode(F.array(F.lit(4), F.lit(8), F.lit(16))).alias("k")
    )
    return (
        ranked.crossJoin(F.broadcast(ks))
        .groupBy("lang", F.col("k").cast("long").alias("k"))
        .agg(
            F.max("nd").cast("long").alias("n_distinct_chars"),
            F.round(
                F.sum(
                    F.when(F.col("rk") <= F.col("k"), F.col("n")).otherwise(
                        0
                    )
                )
                / F.max("tot").cast("double"),
                6,
            ).alias("coverage"),
        )
        .orderBy("lang", "k")
    )


@REGISTRY.register(
    "tx59_template_prefix_profile",
    oracle=r"""
    WITH pfx AS (
      SELECT source,
             md5(array_to_string(list_slice(
                 string_split_regex(trim(text), '\s+'), 1, 8), ' '))
                 AS p
      FROM documents
    ),
    grp AS (
      SELECT source, p, CAST(COUNT(*) AS BIGINT) AS c
      FROM pfx GROUP BY 1, 2
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_prefixes,
           round(SUM(CASE WHEN c >= 5 THEN c ELSE 0 END)
                 * 1.0 / SUM(c), 6) AS templated_share,
           CAST(MAX(c) AS BIGINT) AS top_template_docs,
           round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_template_share
    FROM grp GROUP BY 1 ORDER BY 1
    """,
    doc="Templated-document profile per source: bucket every document "
    "by the md5 of its first 8 whitespace tokens and report the "
    "share of docs whose opening is shared by >= 5 documents, plus "
    "the largest template cluster — the scraped-boilerplate detector "
    "that catches what LINE-frequency boilerplate removal (tx22) and "
    "full-document dedup (dd01) both miss: mail-merge/generator "
    "output whose bodies differ but whose openings are identical "
    "('Dear customer, your order...'), the stuff that teaches a "
    "model to parrot one template. Prefix hashing is md5 over an "
    "identically-constructed token join in both engines, so the "
    "bucket assignment replays bit-for-bit; all counts are exact "
    "integers and the two shares are identically-written IEEE "
    "divisions rounded 6 dp. Plan: map-only prefix hash riding the "
    "document scan, one (source, prefix) combiner agg (16-byte keys, "
    "never text), one |sources|-row rollup. At 100 TB this is dd01's "
    "exchange shape with an 8-token key — the cheapest query in the "
    "template-governance family; escalate matches to dd25's "
    "substring spans for span-level evidence.",
    tags=("text", "llm", "template", "boilerplate", "quality"),
)
def tx59(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    pfx = docs.select(
        "source",
        F.md5(
            F.concat_ws(
                " ", F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 8)
            )
        ).alias("p"),
    )
    grp = pfx.groupBy("source", "p").agg(
        F.count("*").cast("long").alias("c")
    )
    return (
        grp.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_distinct_prefixes"),
            F.round(
                F.sum(F.when(F.col("c") >= 5, F.col("c")).otherwise(0))
                * 1.0
                / F.sum("c"),
                6,
            ).alias("templated_share"),
            F.max("c").cast("long").alias("top_template_docs"),
            F.round(F.max("c").cast("double") / F.sum("c"), 6).alias(
                "top_template_share"
            ),
        )
        .orderBy("source")
    )


@REGISTRY.register(
    "tx60_length_lognormal_fit",
    oracle=r"""
    WITH tk AS (
      SELECT source,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                 AS n_tok
      FROM documents
    ),
    lt AS (
      SELECT source, n_tok,
             CAST(round(ln(n_tok), 9) AS DECIMAL(20,9)) AS l1,
             CAST(round(round(ln(n_tok), 9) * round(ln(n_tok), 9), 9)
                  AS DECIMAL(20,9)) AS l2
      FROM tk
    ),
    mom AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(l1) AS DOUBLE) AS s1,
             CAST(SUM(l2) AS DOUBLE) AS s2
      FROM lt GROUP BY 1
    ),
    med AS (
      SELECT source, n_tok, c,
             SUM(c) OVER (PARTITION BY source ORDER BY n_tok
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
             SUM(c) OVER (PARTITION BY source) AS n
      FROM (SELECT source, n_tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM tk GROUP BY 1, 2)
    ),
    p50 AS (
      SELECT source,
             CAST(MIN(CASE WHEN cc >= ceil(0.5 * n) THEN n_tok END)
                  AS BIGINT) AS median_tokens
      FROM med GROUP BY 1
    )
    SELECT m.source, m.n_docs,
           round(m.s1 / m.n_docs, 6) AS mu_log,
           round(sqrt((m.s2 - m.s1 * m.s1 / m.n_docs)
                      / (m.n_docs - 1)), 6) AS sigma_log,
           p.median_tokens,
           round(exp(m.s1 / m.n_docs), 6) AS lognormal_median
    FROM mom m JOIN p50 p ON p.source = m.source
    ORDER BY 1
    """,
    doc="Document-length lognormal fit per source: mu/sigma of "
    "ln(token count), the EXACT median token count, and the "
    "lognormal-implied median exp(mu) — web-scale doc lengths are "
    "canonically lognormal (the packing literature's working "
    "assumption behind tx12/tx34's bin planning), and the gap "
    "between the two medians is the one-glance test of whether that "
    "assumption holds per source before trusting fitted tail "
    "(tx28 scores length INEQUALITY; this fits the distribution) "
    "quantiles for max_seq_len and truncation budgets. Log moments "
    "cross the repo's libm barrier (each ln rounds at 9 dp, squares "
    "of the ROUNDED value re-round, DECIMAL sums — tx53's idiom), "
    "so accumulation order cannot flake; the exact median comes from "
    "cumulative counts at the (source, length) distinct grain — no "
    "corpus-scale sort (exact value-at-rank from cumulative counts). Plan: map-only "
    "token count + log terms on one scan, one |sources|-row moment "
    "agg, one tiny distinct-length frame with partitioned prefix "
    "windows. At 100 TB: one pass, alphabet-sized exchanges.",
    tags=("text", "llm", "lengths", "lognormal", "packing"),
)
def tx60(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents")
    tk = docs.select(
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("long")
        .alias("n_tok"),
    )
    l1 = F.round(F.log(F.col("n_tok")), 9)
    lt = tk.select(
        "source",
        "n_tok",
        l1.cast("decimal(20,9)").alias("l1"),
        F.round(l1 * l1, 9).cast("decimal(20,9)").alias("l2"),
    )
    mom = lt.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("l1").cast("double").alias("s1"),
        F.sum("l2").cast("double").alias("s2"),
    )
    hist = tk.groupBy("source", "n_tok").agg(
        F.count("*").cast("long").alias("c")
    )
    wc = (
        Window.partitionBy("source")
        .orderBy("n_tok")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("source")
    med = hist.select(
        "source",
        "n_tok",
        F.sum("c").over(wc).alias("cc"),
        F.sum("c").over(wt).alias("n"),
    )
    p50 = med.groupBy("source").agg(
        F.min(
            F.when(F.col("cc") >= F.ceil(0.5 * F.col("n")), F.col("n_tok"))
        )
        .cast("long")
        .alias("median_tokens")
    )
    n, s1, s2 = F.col("n_docs"), F.col("s1"), F.col("s2")
    return (
        mom.join(p50, "source")
        .select(
            "source",
            "n_docs",
            F.round(s1 / n, 6).alias("mu_log"),
            F.round(
                F.sqrt((s2 - s1 * s1 / n) / (n - 1)), 6
            ).alias("sigma_log"),
            "median_tokens",
            F.round(F.exp(s1 / n), 6).alias("lognormal_median"),
        )
        .orderBy("source")
    )


@REGISTRY.register(
    "tx61_k_anonymity_audit",
    oracle="""
    WITH qi AS (
      SELECT source, lang, n_chars // 500 AS len_bucket,
             CAST(COUNT(*) AS BIGINT) AS grp
      FROM documents GROUP BY 1, 2, 3
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(grp) AS BIGINT) AS k_anonymity,
           CAST(SUM(CASE WHEN grp < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_groups,
           CAST(SUM(CASE WHEN grp < 5 THEN grp ELSE 0 END) AS BIGINT)
               AS docs_at_risk,
           round(SUM(CASE WHEN grp < 5 THEN grp ELSE 0 END)
                 * 1.0 / SUM(grp), 6) AS risk_share
    FROM qi GROUP BY 1 ORDER BY 1
    """,
    doc="k-anonymity release audit over the document metadata that "
    "ships WITH a dataset: treat (source, lang, 500-char length "
    "bucket) as the quasi-identifier tuple and report, per source, "
    "the dataset's k (the smallest group size), the groups below "
    "k=5, and the share of documents living in those re-identifiable "
    "groups — the Sweeney-style governance gate run before "
    "publishing corpus metadata or per-group statistics (a group of "
    "1 means that row's 'anonymous' metadata IS an identifier; "
    "publishing per-group counts below k leaks membership). "
    "Complements tx15's content-side PII scrub: scrubbing the TEXT "
    "does nothing if the metadata partitioning singles a document "
    "out. All quantities are exact integers from one combiner agg at "
    "the quasi-identifier grain plus a |sources|-row rollup; the "
    "risk share is one identically-written IEEE division rounded 6 "
    "dp. At 100 TB this is dd01's exchange shape with a 3-column "
    "key; generalizing the tuple (add any column) changes only the "
    "grouping list.",
    tags=("text", "llm", "governance", "k-anonymity", "privacy"),
)
def tx61(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    qi = docs.groupBy(
        "source",
        "lang",
        F.expr("CAST(n_chars DIV 500 AS BIGINT)").alias("len_bucket"),
    ).agg(F.count("*").cast("long").alias("grp"))
    viol = F.when(F.col("grp") < 5, F.col("grp")).otherwise(0)
    return (
        qi.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_groups"),
            F.min("grp").cast("long").alias("k_anonymity"),
            F.sum(F.when(F.col("grp") < 5, 1).otherwise(0))
            .cast("long")
            .alias("n_violating_groups"),
            F.sum(viol).cast("long").alias("docs_at_risk"),
            F.round(F.sum(viol) * 1.0 / F.sum("grp"), 6).alias(
                "risk_share"
            ),
        )
        .orderBy("source")
    )
