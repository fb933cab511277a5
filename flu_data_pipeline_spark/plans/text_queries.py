"""Text-analysis suite over the ``documents`` corpus.

Extension mandate (BASELINE.json): token counting, quality scoring,
language-ID heuristic, document fingerprinting — all as native Spark
expressions (no Python in the hot path), each DuckDB-oracle-checked.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flu_data_pipeline_spark.catalog import derived_table, load_table, read_parquet
from flu_data_pipeline_spark.functions.hashing import hash64, hash64_sql
from flu_data_pipeline_spark.operators.dedup import tokenize
from flu_data_pipeline_spark.operators.materialize import barrier
from flu_data_pipeline_spark.plans.registry import register

#: tiny English-stopword list for the language-ID / quality heuristics
#: (public common-words list; deliberately small and fixed for determinism)
STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "on", "for", "with", "as", "by", "at", "from", "that", "this", "be",
)

_TOKENS = "regexp_split_to_array(lower(trim(text)), '\\s+')"
_STOPLIST = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOKENS}) AS INT) AS n_tokens,
           CAST(length(text) AS INT) AS n_chars,
           ROUND(CAST(length(text) AS DOUBLE) / len({_TOKENS}), 6)
               AS avg_token_len
    FROM documents
    """,
    doc="Token counting (whitespace tokenizer) + char stats. BPE-ish "
    "subword estimate is a separate query (text_quality_score).",
    tags=("text",),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # tokens materialized once (regex split is O(len); re-splitting per
    # reference would double the scan cost)
    base = docs.select("doc_id", "text", tokenize(F.col("text")).alias("tokens"))
    return base.select(
        "doc_id",
        F.size("tokens").alias("n_tokens"),
        F.length("text").cast("int").alias("n_chars"),
        F.round(F.length("text").cast("double") / F.size("tokens"), 6).alias(
            "avg_token_len"
        ),
    )


@register(
    "text_quality_score",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id,
               CAST(len({_TOKENS}) AS INT) AS n_tokens,
               CAST(len(list_filter({_TOKENS},
                        t -> list_contains({_STOPLIST}, t))) AS INT)
                   AS n_stopwords,
               CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
                    AS INT) AS n_punct,
               CAST(length(text) AS INT) AS n_chars
        FROM documents
    )
    SELECT doc_id, n_tokens, n_stopwords, n_punct,
           ROUND(CAST(n_stopwords AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
           ROUND(CAST(n_punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
           CASE WHEN n_tokens >= 5
                 AND CAST(n_stopwords AS DOUBLE) / n_tokens >= 0.05
                 AND CAST(n_punct AS DOUBLE) / n_chars < 0.2
                THEN 1 ELSE 0 END AS is_quality
    FROM feats
    """,
    doc="Quality scoring: length / punctuation-ratio / stopword-ratio "
    "features + a boolean gate — the standard pretraining-corpus filter "
    "shape, fully native (codegen) per row.",
    tags=("text",),
    bench=True,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.select("doc_id", "text", tokenize(F.col("text")).alias("tokens"))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_tokens = F.size("tokens")
    n_stop = F.size(F.filter("tokens", lambda t: F.array_contains(stop_arr, t)))
    n_punct = (
        F.length("text")
        - F.length(F.regexp_replace(F.col("text"), r"[\p{Punct}]", ""))
    ).cast("int")
    n_chars = F.length("text").cast("int")
    stop_ratio = n_stop.cast("double") / n_tokens
    punct_ratio = n_punct.cast("double") / n_chars
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        n_punct.alias("n_punct"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.when(
            (n_tokens >= 5) & (stop_ratio >= 0.05) & (punct_ratio < 0.2), 1
        ).otherwise(0).alias("is_quality"),
    )


@register(
    "text_tokenizer_fertility",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               CAST(len({_TOKENS}) AS BIGINT) AS n_tokens,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    ), terms AS (
        SELECT d.lang, unnest({_TOKENS}) AS term
        FROM documents d
    ), types AS (
        SELECT lang,
               CAST(COUNT(DISTINCT term) AS BIGINT) AS distinct_terms,
               CAST(COUNT(*) AS BIGINT) AS total_terms
        FROM terms GROUP BY lang
    )
    SELECT t.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(t.n_tokens) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(t.n_tokens) AS DOUBLE) / COUNT(*), 6)
               AS tokens_per_doc,
           ROUND(CAST(SUM(t.n_chars) AS DOUBLE) / NULLIF(SUM(t.n_tokens), 0), 6)
               AS chars_per_token,
           MAX(ty.distinct_terms) AS distinct_terms,
           ROUND(CAST(MAX(ty.distinct_terms) AS DOUBLE)
                 / MAX(ty.total_terms), 6) AS type_token_ratio
    FROM t JOIN types ty ON ty.lang = t.lang
    GROUP BY t.lang
    ORDER BY t.lang
    """,
    doc="Tokenizer fertility / compression statistics per language — "
    "the numbers a tokenizer-budget decision reads off a new corpus: "
    "docs, total tokens, tokens per doc, characters per token (the "
    "fertility proxy for this whitespace tokenizer; a BPE tokenizer "
    "slots into the same query), distinct terms and the type-token "
    "ratio (vocabulary richness — languages with high fertility AND "
    "high TTR are the ones that blow up subword vocabularies). "
    "Scale shape: per-doc counts are map-side; the only shuffles are "
    "the per-lang aggregate and the distinct-term count, which "
    "carries (lang, term) pairs — vocab cardinality, not corpus "
    "rows. The distinct-count join rides the same lang key.",
    tags=("text", "llm", "A8", "A10"),
)
def text_tokenizer_fertility(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        F.size(tokenize(F.col("text"))).cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    types = (
        docs.select(
            "lang", F.explode(tokenize(F.col("text"))).alias("term")
        )
        .groupBy("lang")
        .agg(
            F.countDistinct("term").alias("distinct_terms"),
            F.count(F.lit(1)).alias("total_terms"),
        )
    )
    per_lang = t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(
            F.sum("n_tokens").cast("double") / F.count(F.lit(1)), 6
        ).alias("tokens_per_doc"),
        F.round(
            F.sum("n_chars").cast("double")
            / F.nullif(F.sum("n_tokens"), F.lit(0)),
            6
        ).alias("chars_per_token"),
    )
    return (
        per_lang.join(types, "lang")
        .select(
            "lang",
            "n_docs",
            "total_tokens",
            "tokens_per_doc",
            "chars_per_token",
            "distinct_terms",
            F.round(
                F.col("distinct_terms").cast("double")
                / F.col("total_terms"),
                6,
            ).alias("type_token_ratio"),
        )
        .orderBy("lang")
    )


@register(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN CAST(len(list_filter({_TOKENS},
                             t -> list_contains({_STOPLIST}, t))) AS DOUBLE)
                     / len({_TOKENS}) >= 0.1
                THEN 'en' ELSE 'unknown' END AS predicted_lang
    FROM documents
    """,
    doc="Language-ID heuristic: English-stopword hit-rate ≥ 10% → 'en'. "
    "(n-gram frequency profile heuristic; per-language stopword tables "
    "extend the CASE.)",
    tags=("text",),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.select("doc_id", "lang", tokenize(F.col("text")).alias("tokens"))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    hit_rate = (
        F.size(F.filter("tokens", lambda t: F.array_contains(stop_arr, t))).cast("double")
        / F.size("tokens")
    )
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.when(hit_rate >= 0.1, "en").otherwise("unknown").alias("predicted_lang"),
    )


_NORMALIZED_SQL = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           {hash64_sql(_NORMALIZED_SQL)} AS fingerprint
    FROM documents
    """,
    doc="Document fingerprint: 56-bit portable hash of the "
    "whitespace-normalized text (md5-prefix — identical in Spark and "
    "DuckDB). Used as the join key for exact dedup at scale.",
    tags=("text", "dedup"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return docs.select("doc_id", hash64(normalized).alias("fingerprint"))


# GPT-2-style pretokenizer (simplified, RE2-safe, identical leftmost-first
# semantics in Java regex and DuckDB's RE2): contractions, space-prefixed
# letter runs, digit runs, punctuation runs.
BPE_PAT = r"(?:'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s']+)"
_BPE_SQL = BPE_PAT.replace("'", "''").replace("\\", "\\")


@register(
    "text_bpe_tokens",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '{_BPE_SQL}')) AS INT)
               AS n_bpe_tokens,
           CAST(len({_TOKENS}) AS INT) AS n_ws_tokens,
           ROUND(CAST(len(regexp_extract_all(lower(text), '{_BPE_SQL}')) AS DOUBLE)
                 / len({_TOKENS}), 6) AS subword_ratio
    FROM documents
    """,
    doc="BPE-ish token counting: GPT-2-style pretokenizer regex "
    "(contractions / space-letter runs / digit runs / punct runs) vs "
    "whitespace tokens; subword_ratio estimates tokens-per-word for "
    "training-cost accounting. Pure regexp_extract_all — no UDF.",
    tags=("text", "bpe"),
)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.regexp_extract_all(F.lower("text"), F.lit(BPE_PAT), 0).alias("bpe"),
        tokenize(F.col("text")).alias("ws"),
    )
    return base.select(
        "doc_id",
        F.size("bpe").alias("n_bpe_tokens"),
        F.size("ws").alias("n_ws_tokens"),
        F.round(F.size("bpe").cast("double") / F.size("ws"), 6).alias(
            "subword_ratio"
        ),
    )


@register(
    "sample_split_train_val",
    oracle=f"""
    SELECT CASE WHEN {hash64_sql('CAST(doc_id AS VARCHAR)')} % 100 < 90
                THEN 'train' ELSE 'val' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len({_TOKENS})) AS BIGINT) AS n_tokens,
           ROUND(AVG(length(text)), 6) AS avg_chars
    FROM documents
    GROUP BY 1
    """,
    doc="Deterministic train/val split (90/10) by portable hash of the "
    "doc id — reproducible across engines, runs, and partitionings "
    "(never rand()-based: re-execution must not reshuffle the split). "
    "Per-split doc/token accounting for training-cost budgeting.",
    tags=("text", "sampling"),
)
def sample_split_train_val(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    split = F.when(
        hash64(F.col("doc_id").cast("string")) % 100 < 90, "train"
    ).otherwise("val")
    return (
        docs.select(
            split.alias("split"),
            F.size(tokenize(F.col("text"))).alias("n_toks"),
            F.length("text").alias("n_chars"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
    )


@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH tokens AS (
        SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tokens GROUP BY doc_id, term
    ), df AS (
        SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM tokens GROUP BY term
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.term,
           ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
    WHERE tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) > 0
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY tf.doc_id
        ORDER BY tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) DESC, tf.term
    ) <= 3
    """,
    doc="TF-IDF top-3 terms per document, fully native: term counts "
    "(explode + groupBy), document frequency, idf = ln(N/df), ranked "
    "window per doc. The df side is a term-keyed aggregate joined back "
    "on term — both shuffles key on the term, colocated.",
    tags=("text", "tfidf"),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    tokens = docs.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("term")
    )
    tf = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tokens.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    tfidf = F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf_raw"), F.asc("term"))
    return (
        tf.join(df, "term")
        .select("doc_id", "term", tfidf.alias("tfidf_raw"))
        .filter(F.col("tfidf_raw") > 0)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", F.round("tfidf_raw", 6).alias("tfidf"))
    )


@register(
    "sample_stratified_topk",
    oracle=f"""
    SELECT lang, doc_id
    FROM documents
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY lang ORDER BY {hash64_sql('CAST(doc_id AS VARCHAR)')}, doc_id
    ) <= 10
    """,
    doc="Exact stratified sample: k=10 docs per language stratum, chosen "
    "by portable-hash order — deterministic across engines/runs/"
    "partitionings (a rand()-based sample would be neither reproducible "
    "nor oracle-checkable). The per-stratum ranked window is the "
    "balanced-sampling primitive for training-mix construction.",
    tags=("text", "sampling"),
)
def sample_stratified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        hash64(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("lang", "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("lang", "doc_id")
    )


@register(
    "udtf_split_sentences",
    oracle="""
    SELECT doc_id,
           CAST(i - 1 AS INT) AS sent_idx,
           TRIM(s) AS sentence
    FROM (
        SELECT doc_id,
               unnest(string_split(text, '.')) AS s,
               generate_subscripts(string_split(text, '.'), 1) AS i
        FROM documents
        WHERE doc_id < 200
    )
    WHERE TRIM(s) <> ''
    """,
    doc="Python UDTF (Spark 4 table function): one doc row → N sentence "
    "rows with positional index, invoked via LATERAL in SQL. The native "
    "twin is explode(split(...)) (F2) — this entry exercises the "
    "arbitrary-Python table-function path for logic a regex can't "
    "express (real sentence splitters, parsers). Arrow-optimized "
    "(useArrow: the plan shows ArrowEvalPythonUDTF, not row-pickling "
    "BatchEvalPython) and restricted to 200 docs — Python UDTFs remain "
    "the slow path by design.",
    tags=("text", "udtf", "F2"),
)
def udtf_split_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, sent_idx int, sentence string", useArrow=True)
    class SplitSentences:
        def eval(self, doc_id, text):
            for i, seg in enumerate((text or "").split(".")):
                s = seg.strip()
                if s:
                    yield doc_id, i, s

    spark.udtf.register("split_sentences", SplitSentences)
    load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    ).createOrReplaceTempView("udtf_docs_in")
    return spark.sql(
        "SELECT s.doc_id, s.sent_idx, s.sentence "
        "FROM udtf_docs_in, LATERAL split_sentences(doc_id, text) s"
    )


@register(
    "regexp_battery",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, 'ta[a-z]+')) AS INT) AS n_ta,
           regexp_extract(text, 'ta[a-z]+') AS first_ta,
           CAST(length(regexp_replace(text, '\s+', '_', 'g')) AS INT)
               AS squashed_len,
           CASE WHEN regexp_matches(text, 'spark') THEN 1 ELSE 0 END
               AS has_spark
    FROM documents
    WHERE doc_id < 2000
    """,
    doc="Regex surface over document text: extract-all + count, "
    "first-match extraction (empty string on no match in both engines), "
    "global regexp_replace, and rlike boolean — all JVM-side "
    "expressions inside whole-stage codegen; the pattern subset used "
    "is dialect-portable (Java regex vs RE2).",
    tags=("text", "regexp"),
)
def regexp_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("ta[a-z]+"), 0)).alias("n_ta"),
        F.regexp_extract("text", "ta[a-z]+", 0).alias("first_ta"),
        F.length(F.regexp_replace("text", r"\s+", "_")).cast("int").alias(
            "squashed_len"
        ),
        F.when(F.col("text").rlike("spark"), 1).otherwise(0).alias("has_spark"),
    )


@register(
    "text_bigram_topk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKENS} AS t FROM documents
    ), bg AS (
        SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                      i -> t[i] || ' ' || t[i + 1])) AS bigram
        FROM toks WHERE len(t) >= 2
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM bg
    GROUP BY bigram
    QUALIFY ROW_NUMBER() OVER (ORDER BY n DESC, bigram) <= 20
    ORDER BY n DESC, bigram
    """,
    doc="Corpus-level top-20 bigram counts: adjacent-token pairs built "
    "array-side (transform over an index sequence — one pass, no "
    "self-join), exploded and counted. Partial aggregation combines "
    "counts map-side before the single shuffle; top-k is "
    "TakeOrderedAndProject with the (count DESC, bigram) tie pinned. "
    "The n-gram statistics primitive for corpus analysis / LM data "
    "prep.",
    tags=("text", "ngram", "A7", "O3"),
)
def text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tokenize(F.col("text")).alias("t")).filter(F.size("t") >= 2)
    bigrams = toks.select(
        F.explode(
            F.expr("transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i + 1]))")
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


@register(
    "sample_weighted",
    oracle=f"""
    WITH m AS (SELECT MAX(n_chars) AS max_chars FROM documents)
    SELECT doc_id, lang
    FROM documents, m
    WHERE CAST({hash64_sql("'wsamp|' || CAST(doc_id AS VARCHAR)")} % 1000000
               AS DOUBLE) / 1000000.0
          < CAST(n_chars AS DOUBLE) / max_chars
    """,
    doc="Length-weighted deterministic sample: P(select doc) = n_chars / "
    "max(n_chars), decided by a portable-hash uniform draw per doc — "
    "reproducible across runs, partitionings, and engines where "
    "rand() would be neither (the same salted-hash-as-uniform trick "
    "as the train/val split). The weighting primitive for "
    "importance-sampling a training mix.",
    tags=("text", "sampling"),
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    m = docs.agg(F.max("n_chars").alias("max_chars"))
    u = (
        hash64(F.concat(F.lit("wsamp|"), F.col("doc_id").cast("string"))) % 1000000
    ).cast("double") / 1000000.0
    return (
        docs.crossJoin(F.broadcast(m))
        .filter(u < F.col("n_chars").cast("double") / F.col("max_chars"))
        .select("doc_id", "lang")
    )


@register(
    "udaf_geomean_price",
    oracle="""
    SELECT l_returnflag,
           ROUND(EXP(AVG(LN(l_extendedprice))), 6) AS geomean_price,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    WHERE l_extendedprice > 0
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="Custom UDAF via Arrow grouped-agg pandas_udf: geometric mean per "
    "group — the escape hatch for aggregates Spark lacks natively "
    "(the reference's groupby().apply UDAFs, SURVEY §2.10 U3/U4, are "
    "the same surface). Logs are sorted before summing inside the UDF "
    "so the float fold is partition-order-independent; the oracle "
    "states it as EXP(AVG(LN)) and must agree to 6dp. Arrow-batched "
    "per group — never row-at-a-time Python.",
    tags=("udaf", "pandas-udf", "A7", "U3"),
)
def udaf_geomean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flu_data_pipeline_spark.functions.udafs import make_geomean

    geomean = make_geomean()
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") > 0)
    # grouped-agg pandas UDFs cannot share an agg with JVM aggregates -
    # compute them separately and join on the (3-row) group keys
    gm = li.groupBy("l_returnflag").agg(
        F.round(geomean("l_extendedprice"), 6).alias("geomean_price")
    )
    cnt = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    return gm.join(cnt, "l_returnflag").orderBy("l_returnflag")


@register(
    "text_chunk_windows",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKENS} AS t FROM documents WHERE doc_id < 1000
    )
    SELECT doc_id,
           CAST((s - 1) / 48 AS INT) AS chunk_idx,
           CAST(s - 1 AS INT) AS start_tok,
           CAST(len(t[s:s + 63]) AS INT) AS n_tokens,
           array_to_string(t[s:s + 63], ' ') AS chunk_text
    FROM (
        SELECT doc_id, t, unnest(generate_series(1, greatest(len(t), 1), 48)) AS s
        FROM toks
    )
    """,
    doc="Sliding-window document chunking for context-length-bounded "
    "training: 64-token windows every 48 tokens (16-token overlap), "
    "short tail kept — the 1→N segmentation every LLM data pipeline "
    "runs before tokenized packing. Built array-side (slice over a "
    "stride sequence, then one explode) — no self-join, no UDF; output "
    "volume is len/stride x corpus, controlled by the stride.",
    tags=("text", "ngram", "F2"),
    bench=True,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("t"))
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, greatest(size(t) - 1, 0), 48), "
                "s -> struct(s AS start_tok, slice(t, s + 1, 64) AS toks))"
            )
        ).alias("chunk_idx", "c"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int"),
        F.col("c.start_tok").cast("int").alias("start_tok"),
        F.size("c.toks").alias("n_tokens"),
        F.concat_ws(" ", "c.toks").alias("chunk_text"),
    )


@register(
    "corpus_mix_stats",
    oracle=f"""
    WITH per AS (
        SELECT lang, source,
               CAST(SUM(len({_TOKENS})) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1, 2
    )
    SELECT lang, source, n_docs, n_tokens,
           ROUND(CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER (), 6)
               AS token_share
    FROM per
    """,
    doc="Training-mixture accounting: token and doc counts per (lang, "
    "source) cell with each cell's share of the total token budget — "
    "the table a sampling-weights step consumes. The global-total "
    "window runs over the already-aggregated cells (|langs| x "
    "|sources| rows), so the single-partition tail is constant-size.",
    tags=("text", "sampling", "A7"),
)
def corpus_mix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.select("lang", "source", tokenize(F.col("text")).alias("t"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("t")).cast("long").alias("n_tokens"),
        )
    )
    total = Window.partitionBy()
    return per.select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double") / F.sum("n_tokens").over(total), 6
        ).alias("token_share"),
    )


@register(
    "text_pack_bins",
    oracle=f"""
    WITH t AS (
        SELECT lang, doc_id, CAST(len({_TOKENS}) AS INT) AS n_tokens
        FROM documents
    ), c AS (
        SELECT lang, doc_id, n_tokens,
               SUM(n_tokens) OVER (
                   PARTITION BY lang
                   ORDER BY {hash64_sql("'pack|' || CAST(doc_id AS VARCHAR)")},
                            doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM t
    )
    SELECT lang, doc_id, n_tokens,
           CAST(FLOOR((cum - n_tokens) / 512.0) AS INT) AS bin_id
    FROM c
    """,
    doc="Greedy sequence packing: docs fill 512-token bins in a "
    "deterministic hash-shuffled order (running token sum, new bin when "
    "the budget is crossed) — the packing step that turns chunked text "
    "into fixed-budget training sequences. Packing is PER LANGUAGE "
    "(stratified), so the running-sum window partitions by lang and "
    "distributes; a global pack at 100 TB would instead pack within "
    "partitions and merge tail bins.",
    tags=("text", "sampling", "window"),
)
def text_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        "doc_id",
        F.size(tokenize(F.col("text"))).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(
            hash64(F.concat(F.lit("pack|"), F.col("doc_id").cast("string"))),
            "doc_id",
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return t.select(
        "lang",
        "doc_id",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / 512.0).cast("int").alias("bin_id"),
    )


@register(
    "text_term_entropy",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS c
        FROM (
            SELECT doc_id, unnest({_TOKENS}) AS term
            FROM documents WHERE doc_id < 2000
        )
        GROUP BY doc_id, term
    ), sized AS (
        SELECT doc_id, term, c,
               SUM(c) OVER (PARTITION BY doc_id) AS n
        FROM tf
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INT) AS n_distinct_terms,
           ROUND(-SUM((c / n) * LN(c / n)), 6) AS entropy
    FROM sized
    GROUP BY doc_id
    """,
    doc="Per-document term-distribution entropy (vocabulary richness / "
    "gibberish detector — low entropy flags repetitive spam, a standard "
    "pretraining quality signal): explode to (doc, term) counts, doc "
    "totals via a window over the same partitioning (no second "
    "aggregate-join), then -Σ p ln p.",
    tags=("text", "A7"),
)
def text_term_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    tf = (
        docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    n = F.sum("c").over(Window.partitionBy("doc_id"))
    p = F.col("c") / n
    return (
        tf.withColumn("term_h", -p * F.log(p))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_terms"),
            F.round(F.sum("term_h"), 6).alias("entropy"),
        )
    )


#: fixed query-term set for the BM25 demo (public constants, like STOPWORDS)
BM25_TERMS = ("spark", "table", "query")
BM25_K1 = 1.2
BM25_B = 0.75


def _bm25(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """BM25 over BM25_TERMS: the per-(doc, term) frequencies ``tf``
    (doc_id, dl, term, f) and the docs scoring above 0 (doc_id,
    score). Corpus stats and per-term document frequencies are tiny
    aggregates broadcast into the per-doc pass."""
    docs_t = docs.select("doc_id", tokenize(F.col("text")).alias("t"))
    stats = docs_t.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.size("t").cast("double")).alias("avgdl"),
    )
    terms = docs.sparkSession.createDataFrame(
        [(t,) for t in BM25_TERMS], "term string"
    )
    tf = docs_t.crossJoin(F.broadcast(terms)).select(
        "doc_id",
        F.size("t").cast("double").alias("dl"),
        "term",
        F.size(F.expr("filter(t, x -> x = term)")).cast("double").alias("f"),
    )
    df_ = tf.groupBy("term").agg(
        F.sum(F.when(F.col("f") > 0, 1).otherwise(0)).cast("double").alias("n_with")
    )
    idf = F.log(
        (F.col("n_docs") - F.col("n_with") + 0.5) / (F.col("n_with") + 0.5) + 1
    )
    denom = F.col("f") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * F.col("f") * (BM25_K1 + 1) / denom).alias("score"))
        .filter(F.col("score") > 0)
    )
    return tf, scored


def _bm25_and_tf_top10(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The two rankings the rank-fusion evals compare: BM25's top 10
    (doc_id, ra) by (6dp score, doc_id) and raw term frequency's top 10
    (doc_id, rb) by (summed f, doc_id)."""
    tf, bm25 = _bm25(docs)
    wa = Window.orderBy(F.desc(F.round("score", 6)), F.asc("doc_id"))
    rank_a = (
        bm25.withColumn("ra", F.row_number().over(wa))
        .filter(F.col("ra") <= 10)
        .select("doc_id", "ra")
    )
    plain = tf.groupBy("doc_id").agg(F.sum("f").alias("tf_sum")).filter(
        F.col("tf_sum") > 0
    )
    wb = Window.orderBy(F.desc("tf_sum"), F.asc("doc_id"))
    rank_b = (
        plain.withColumn("rb", F.row_number().over(wb))
        .filter(F.col("rb") <= 10)
        .select("doc_id", "rb")
    )
    return rank_a, rank_b


@register(
    "text_bm25_topk",
    oracle=f"""
    WITH docs_t AS (
        SELECT doc_id, {_TOKENS} AS t FROM documents
    ), stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
               AVG(CAST(len(t) AS DOUBLE)) AS avgdl
        FROM docs_t
    ), tf AS (
        SELECT d.doc_id, CAST(len(d.t) AS DOUBLE) AS dl, q.term,
               CAST(len(list_filter(d.t, x -> x = q.term)) AS DOUBLE) AS f
        FROM docs_t d
        CROSS JOIN (SELECT unnest({list(BM25_TERMS)!r}::VARCHAR[]) AS term) q
    ), df AS (
        SELECT term, CAST(SUM(CASE WHEN f > 0 THEN 1 ELSE 0 END) AS DOUBLE)
               AS n_with
        FROM tf GROUP BY term
    ), scored AS (
        SELECT tf.doc_id,
               SUM(LN((s.n_docs - df.n_with + 0.5) / (df.n_with + 0.5) + 1)
                   * tf.f * ({BM25_K1} + 1)
                   / (tf.f + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * tf.dl / s.avgdl))
               ) AS score
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN stats s
        GROUP BY tf.doc_id
    )
    SELECT doc_id, ROUND(score, 6) AS bm25
    FROM scored
    WHERE score > 0
    QUALIFY ROW_NUMBER() OVER (ORDER BY ROUND(score, 6) DESC, doc_id) <= 25
    ORDER BY bm25 DESC, doc_id
    """,
    doc="BM25 ranking for a fixed term set: corpus stats (N, avgdl) and "
    "per-term document frequencies are tiny aggregates broadcast into a "
    "per-doc score pass; term frequencies come from array filters on "
    "the already-split token array (3 terms x docs — no inverted-index "
    "shuffle needed at this query shape; a full search engine would "
    "flip to the explode/posting-list layout of text_tfidf_top_terms). "
    "Top-25 pinned on (rounded score, doc_id) so float ulps can't "
    "reorder the cut.",
    tags=("text", "tfidf", "A7", "O3"),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, scored = _bm25(load_table(spark, sf_dir, "documents"))
    w = Window.orderBy(F.desc(F.round("score", 6)), F.asc("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 25)
        .select("doc_id", F.round("score", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
    )


@register(
    "text_feature_hashing",
    oracle=f"""
    WITH terms AS (
        SELECT doc_id, unnest({_TOKENS}) AS term
        FROM documents WHERE doc_id < 1000
    )
    SELECT doc_id,
           CAST({hash64_sql('term')} % 1024 AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS weight
    FROM terms
    GROUP BY 1, 2
    """,
    doc="Hashing-trick vectorizer: terms map to a fixed 1024-bucket "
    "feature space via the portable hash (no vocabulary build, no "
    "global dictionary shuffle — the property that makes the hashing "
    "trick THE scalable text featurizer), counts per (doc, bucket) as "
    "sparse feature weights. Bucket ids are bit-identical across "
    "engines, so collisions land identically and the check is exact.",
    tags=("text", "tfidf", "A7"),
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    terms = docs.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("term")
    )
    return (
        terms.groupBy(
            "doc_id", (hash64(F.col("term")) % 1024).cast("int").alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("weight"))
    )


@register(
    "text_inverted_index",
    oracle=f"""
    WITH posting AS (
        SELECT DISTINCT term, doc_id FROM (
            SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
        )
    ), agg AS (
        SELECT term,
               CAST(COUNT(*) AS BIGINT) AS df,
               array_to_string(list_sort(list(doc_id))[1:20], ',')
                   AS postings_head
        FROM posting GROUP BY term
    )
    SELECT term, df, postings_head
    FROM agg
    ORDER BY df DESC, term
    LIMIT 100
    """,
    doc="Inverted-index build (the search-export structure BM25/TF-IDF "
    "queries assume): distinct (term, doc) postings -> per-term document "
    "frequency + the sorted posting list's first 20 doc ids as a CSV "
    "string (arrays stay out of the result schema — harness "
    "canonicalizers can't sort list cells; the full list is one "
    "`slice` away for library users). Top-100 terms by (df, term). "
    "Scale shape: explode -> map-side-distinct -> ONE groupBy(term) "
    "shuffle carrying 8-byte ids; collect_list is bounded per term by "
    "df, and the head-truncation keeps the export row small even for "
    "stopword-grade terms. At 100 TB the same plan partitions the "
    "posting lists by term range (writer-side sortWithinPartitions) "
    "for segment-file export.",
    tags=("text", "A8", "U3", "O3"),
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    posting = (
        docs.select(
            "doc_id", F.explode(tokenize(F.col("text"))).alias("term")
        )
        .distinct()
    )
    agg = posting.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.array_join(
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, 20), ","
        ).alias("postings_head"),
    )
    return agg.orderBy(F.col("df").desc(), "term").limit(100)


@register(
    "vocab_coverage_cutoff",
    oracle=f"""
    WITH tok AS (
        SELECT unnest({_TOKENS}) AS term FROM documents
    ), counts AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS term_count
        FROM tok GROUP BY term
    ), ranked AS (
        SELECT term, term_count,
               CAST(ROW_NUMBER() OVER (ORDER BY term_count DESC, term)
                    AS BIGINT) AS rank,
               SUM(term_count) OVER (ORDER BY term_count DESC, term
                                     ROWS UNBOUNDED PRECEDING) AS cum_count,
               SUM(term_count) OVER () AS total_count
        FROM counts
    )
    SELECT term, term_count, rank,
           ROUND(CAST(cum_count AS DOUBLE) / total_count, 6) AS cum_share,
           CASE WHEN CAST(cum_count - term_count AS DOUBLE) / total_count
                     < 0.90 THEN 1 ELSE 0 END AS in_vocab_90
    FROM ranked
    ORDER BY rank
    LIMIT 200
    """,
    doc="Tokenizer-vocabulary build with cumulative-coverage cutoff (the "
    "standard vocab-size decision for a corpus: keep the most frequent "
    "terms until they cover 90% of all token occurrences; everything "
    "past the knee maps to <unk>). Per-term corpus counts -> rank by "
    "(count desc, term) -> running token-mass share via a cumulative "
    "window -> in_vocab_90 marks terms whose PRECEDING mass is still "
    "under the cutoff (the first term crossing the line is kept, "
    "matching the usual 'smallest vocab reaching coverage' rule). "
    "Scale shape: the explode+groupBy(term) shuffle carries (term, "
    "count) pairs only, and BOTH the rank (a prefix count of ones) and "
    "the running token mass ride ONE two-stage distributed prefix over "
    "DISTINCT TERMS (operators/ranking.py global_cumsum, multi-column "
    "form — vocab cardinality is millions at 100 TB, so no "
    "single-partition window may see it); the corpus total is a 1-row "
    "broadcast aggregate. Top-200 rows exported.",
    tags=("text", "llm", "A10", "O3", "W1"),
)
def vocab_coverage_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("term_count"))
    )
    # Rank + running mass over the vocab frame via ONE two-stage
    # distributed prefix (rank = prefix count of ones); corpus total as
    # a broadcast scalar — no single-partition window at vocab scale.
    from flu_data_pipeline_spark.operators.ranking import global_cumsum

    tot = counts.agg(F.sum("term_count").alias("total_count"))
    ranked = global_cumsum(
        counts.withColumn("__one", F.lit(1).cast("bigint")),
        [F.col("term_count").desc(), F.col("term")],
        ["term_count", "__one"],
        ["cum_count", "rank"],
    ).crossJoin(F.broadcast(tot)).select(
        "term",
        "term_count",
        F.col("rank").cast("bigint").alias("rank"),
        "cum_count",
        "total_count",
    )
    return ranked.select(
        "term",
        "term_count",
        "rank",
        F.round(F.col("cum_count").cast("double") / F.col("total_count"), 6)
        .alias("cum_share"),
        F.when(
            (F.col("cum_count") - F.col("term_count")).cast("double")
            / F.col("total_count")
            < 0.90,
            1,
        )
        .otherwise(0)
        .alias("in_vocab_90"),
    ).orderBy("rank").limit(200)


@register(
    "text_bigram_lm_score",
    oracle=f"""
    WITH doc_tokens AS (
        SELECT doc_id, {_TOKENS} AS toks FROM documents
    ), doc_bigrams AS (
        SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        FROM doc_tokens, UNNEST(range(1, len(toks))) AS t(i)
        WHERE len(toks) >= 2
    ), unigram AS (
        SELECT w1 AS w, CAST(COUNT(*) AS BIGINT) AS uc
        FROM doc_bigrams GROUP BY w1
    ), bigram AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS bc
        FROM doc_bigrams GROUP BY w1, w2
    ), vocab AS (
        SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v
        FROM (SELECT unnest(toks) AS term FROM doc_tokens) u
    )
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(ln(CAST(b.bc + 1 AS DOUBLE) / (u.uc + vocab.v))), 6)
               AS avg_logprob
    FROM doc_bigrams d
    JOIN bigram b ON d.w1 = b.w1 AND d.w2 = b.w2
    JOIN unigram u ON d.w1 = u.w
    CROSS JOIN vocab
    GROUP BY d.doc_id
    ORDER BY avg_logprob ASC, d.doc_id
    LIMIT 25
    """,
    doc="Bigram language-model scoring with add-one (Laplace) smoothing — "
    "the classic cheap perplexity filter for training-data quality: "
    "train bigram/unigram counts on the corpus itself, score every "
    "document by its mean log-probability, surface the 25 most "
    "surprising (lowest avg logprob = most out-of-distribution) docs. "
    "p(w2|w1) = (c(w1,w2)+1) / (c(w1)+|V|); unigram counts use the "
    "bigram-history occurrences so train and score see the same "
    "events. Scale shape: bigrams stream off the token arrays "
    "map-side; the model tables are vocab- and bigram-cardinality "
    "(not corpus-cardinality) and both joins are on the bigram keys "
    "the data was just aggregated on. |V| is a broadcast scalar. At "
    "100 TB the bigram model table is the big side; the per-doc "
    "score join co-partitions on (w1, w2) and re-aggregates by "
    "doc_id — two shuffles total, no driver state.",
    tags=("text", "llm", "A7", "J6"),
    bench=True,
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = bigram_lm_scores(spark, sf_dir)
    return scored.orderBy(F.asc("avg_logprob"), "doc_id").limit(25)


def bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_bigrams, avg_logprob) for every document with >= 2
    tokens — the add-one-smoothed bigram LM scorer shared by
    text_bigram_lm_score (bottom-25 surfacing) and
    curation_ccnet_ppl_buckets (corpus tercile split). avg_logprob is
    rounded to 6dp IN-ENGINE so downstream ordering/bucketing operates
    on cross-engine-identical values."""
    docs = load_table(spark, sf_dir, "documents")
    all_toks = docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
    # bigram stream: one row per adjacent token pair, built map-side from
    # the materialized token array (no self-join on positions). The
    # >= 2-token guard lives INSIDE the generator expression (explode
    # drops empty arrays — identical rows to the old
    # `.filter(F.size("toks") >= 2)`) because the explicit filter was
    # predicate-pushed through the tokenize projection into the scan as
    # a DataFilter, re-running the regex tokenize per row at the scan
    # (r12, the text_hashed_embedding_projection finding).
    pairs = (
        all_toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(toks) >= 2 THEN "
                    "transform(sequence(0, size(toks) - 2), "
                    "i -> struct(toks[i] AS w1, toks[i + 1] AS w2)) "
                    "ELSE array() END"
                )
            ).alias("bg"),
        )
        .select("doc_id", "bg.w1", "bg.w2")
    )
    # r12 (ADVICE r11 #1, guide §2.3/§5): r11 wave 3 lazily checkpointed
    # the raw PAIRS stream (3 consumers -> 1 execution), but that
    # materializes ~one (doc_id, w1, w2) row per corpus token to
    # executor storage — bytes that DWARF the corpus at large sf (the
    # matryoshka negative's exact failure mode). Checkpoint the MODEL
    # TABLE instead: the bigram counts are bigram-cardinality (vocab-
    # bounded, not corpus-bounded), and the unigram counts are derivable
    # from them EXACTLY — uc(w1) = SUM_w2 bc(w1, w2), integer math, the
    # same number pairs.groupBy(w1).count() produced (unigram counts
    # use bigram-history occurrences by construction). The scoring join
    # re-scans the corpus once for its pairs side: two corpus scans
    # total (model build + scoring) with a model-sized materialization,
    # vs one scan with a corpus-dwarfing one. Cluster caveat noted in
    # OPTIMIZATION_r12.md: localCheckpoint truncates lineage to
    # ephemeral executor storage (ADVICE r11 #3).
    bigram = barrier(
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("bc")),
        "bigram",
        eager=False,
    )
    unigram = bigram.groupBy("w1").agg(F.sum("bc").alias("uc"))
    vocab = all_toks.select(F.explode("toks").alias("w")).agg(
        F.countDistinct("w").alias("v")
    )
    scored = barrier(
        pairs.join(bigram, ["w1", "w2"])
        .join(unigram, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(
                    F.log(
                        (F.col("bc") + 1).cast("double")
                        / (F.col("uc") + F.col("v"))
                    )
                ),
                6,
            ).alias("avg_logprob"),
        ),
        # the per-doc score table is doc-cardinality (3 skinny columns
        # per doc — scale-safe to hold, unlike the token stream), and
        # curation_ccnet_ppl_buckets' global-ntile references it more
        # than once — without this, each reference re-runs the full
        # corpus scan+tokenize+score chain (measured: ccnet 1.6 -> 4.0 s
        # at sf0.1 when only the model table was checkpointed).
        "scored",
        eager=False,
    )
    return scored


@register(
    "ranking_rbo_eval",
    oracle=f"""
    WITH docs_t AS (
        SELECT doc_id, {_TOKENS} AS t FROM documents
    ), stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
               AVG(CAST(len(t) AS DOUBLE)) AS avgdl
        FROM docs_t
    ), tf AS (
        SELECT d.doc_id, CAST(len(d.t) AS DOUBLE) AS dl, q.term,
               CAST(len(list_filter(d.t, x -> x = q.term)) AS DOUBLE) AS f
        FROM docs_t d
        CROSS JOIN (SELECT unnest({list(BM25_TERMS)!r}::VARCHAR[]) AS term) q
    ), df AS (
        SELECT term, CAST(SUM(CASE WHEN f > 0 THEN 1 ELSE 0 END) AS DOUBLE)
               AS n_with
        FROM tf GROUP BY term
    ), bm25 AS (
        SELECT tf.doc_id,
               SUM(LN((s.n_docs - df.n_with + 0.5) / (df.n_with + 0.5) + 1)
                   * tf.f * ({BM25_K1} + 1)
                   / (tf.f + {BM25_K1}
                      * (1 - {BM25_B} + {BM25_B} * tf.dl / s.avgdl))
               ) AS score
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN stats s
        GROUP BY tf.doc_id
    ), rank_a AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY ROUND(score, 6) DESC, doc_id)
                   AS ra
        FROM bm25 WHERE score > 0
        QUALIFY ra <= 10
    ), plain AS (
        SELECT doc_id, SUM(f) AS tf_sum FROM tf GROUP BY doc_id
    ), rank_b AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY tf_sum DESC, doc_id) AS rb
        FROM plain WHERE tf_sum > 0
        QUALIFY rb <= 10
    ), common AS (
        SELECT a.doc_id, a.ra, b.rb
        FROM rank_a a JOIN rank_b b USING (doc_id)
    ), depths AS (
        SELECT unnest(range(1, 11)) AS d
    ), ov AS (
        SELECT d.d,
               SUM(CASE WHEN c.ra <= d.d AND c.rb <= d.d
                        THEN 1 ELSE 0 END) AS overlap_d
        FROM depths d LEFT JOIN common c ON TRUE
        GROUP BY d.d
    )
    SELECT CAST(10 AS INT) AS depth,
           CAST(MAX(CASE WHEN d = 10 THEN overlap_d END) AS BIGINT)
               AS overlap_at_k,
           ROUND(0.1 * SUM(POWER(0.9, d - 1) * overlap_d / d), 6) AS rbo
    FROM ov
    """,
    doc="Rank-biased overlap (RBO, Webber et al. 2010) between two "
    "retrieval rankings of the SAME fixed query — BM25 vs raw "
    "term-frequency scoring — at depth 10 with persistence p=0.9: "
    "rbo = (1-p) * sum_d p^(d-1) * |A_d n B_d| / d. This is the "
    "standard top-weighted answer to 'did changing the scorer "
    "actually change what users see': overlap at each prefix depth, "
    "geometrically discounted so rank-1 disagreements dominate. Both "
    "rankings pin ties on (rounded score desc, doc_id), so the "
    "prefix sets are deterministic. Scale shape: the scoring passes "
    "are the BM25 query's (tiny broadcast stats, one groupBy(doc)); "
    "the RBO math runs on two 10-row ranked lists crossed with a "
    "10-row depth enum — constant-size regardless of corpus scale.",
    tags=("text", "eval", "O3", "A7"),
)
def ranking_rbo_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    rank_a, rank_b = _bm25_and_tf_top10(load_table(spark, sf_dir, "documents"))
    common = rank_a.join(rank_b, "doc_id")
    depths = spark.range(1, 11).select(F.col("id").alias("d"))
    ov = (
        F.broadcast(depths)
        .join(common, F.lit(True), "left")
        .groupBy("d")
        .agg(
            F.sum(
                F.when((F.col("ra") <= F.col("d")) & (F.col("rb") <= F.col("d")), 1)
                .otherwise(0)
            ).alias("overlap_d")
        )
    )
    return ov.agg(
        F.lit(10).cast("int").alias("depth"),
        F.max(F.when(F.col("d") == 10, F.col("overlap_d")))
        .cast("bigint")
        .alias("overlap_at_k"),
        F.round(
            0.1
            * F.sum(
                F.pow(F.lit(0.9), F.col("d") - 1) * F.col("overlap_d") / F.col("d")
            ),
            6,
        ).alias("rbo"),
    )


@register(
    "text_kwic_snippets",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKENS} AS t FROM documents
    ), hits AS (
        SELECT doc_id, t,
               unnest(list_filter(range(1, len(t) + 1), i -> t[i] = 'spark'))
                   AS pos
        FROM toks
    )
    SELECT doc_id, CAST(pos AS INT) AS pos,
           array_to_string(t[GREATEST(pos - 2, 1):LEAST(pos + 2, len(t))],
                           ' ') AS snippet
    FROM hits
    ORDER BY doc_id, pos
    LIMIT 25
    """,
    doc="Keyword-in-context (KWIC) concordance / snippet generation — "
    "what a search UI shows under each hit: every occurrence of the "
    "query term 'spark' with a +-2-token context window, one row per "
    "(doc, position), first 25 by (doc, pos). Occurrence positions "
    "come from filtering an index range against the token array "
    "(pure HOF — no regex re-scan per position, no UDF), and the "
    "snippet is a bounds-clamped array slice rejoined with spaces. "
    "Scale shape: entirely map-side per document (positions and "
    "slices never leave the row) — the shuffle-free shape snippet "
    "generation must have when it runs beside retrieval at serving "
    "time; the LIMIT is driver-side presentation only. Generalizes "
    "to multi-term queries by unioning per-term position filters.",
    tags=("text", "search", "F3", "O7"),
)
def text_kwic_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("t"))
    hits = toks.select(
        "doc_id",
        "t",
        F.explode(
            F.expr("filter(sequence(1, size(t)), i -> t[i - 1] = 'spark')")
        ).alias("pos"),
    )
    return (
        hits.select(
            "doc_id",
            F.col("pos").cast("int").alias("pos"),
            F.array_join(
                F.expr(
                    "slice(t, greatest(pos - 2, 1), "
                    "least(pos + 2, size(t)) - greatest(pos - 2, 1) + 1)"
                ),
                " ",
            ).alias("snippet"),
        )
        .orderBy("doc_id", "pos")
        .limit(25)
    )


@register(
    "text_zipf_fit",
    oracle=f"""
    WITH tok AS (
        SELECT unnest({_TOKENS}) AS term FROM documents
    ), counts AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY term
    ), ranked AS (
        SELECT ln(CAST(ROW_NUMBER() OVER (ORDER BY c DESC, term) AS DOUBLE))
                   AS lx,
               ln(CAST(c AS DOUBLE)) AS ly
        FROM counts
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
           ROUND(regr_slope(ly, lx), 6) AS zipf_exponent,
           ROUND(regr_intercept(ly, lx), 6) AS log_c0,
           ROUND(corr(ly, lx) * corr(ly, lx), 6) AS r_squared
    FROM ranked
    """,
    doc="Zipf's-law fit over the corpus vocabulary: OLS of log(freq) on "
    "log(rank) gives the Zipf exponent (natural text: ~ -1; the "
    "r-squared says how law-like the corpus is). Deviation from the "
    "reference exponent is a cheap corpus-health probe — synthetic, "
    "templated, or deduplicated-to-death corpora bend the tail "
    "visibly before a human would notice. Ranks are tie-pinned on "
    "(count desc, term); the regression runs on vocab-cardinality "
    "rows via the built-in regr_slope/intercept/corr aggregates "
    "(Spark and DuckDB share the SQL-standard definitions; 6dp "
    "rounding absorbs final-ulp accumulation differences). Scale "
    "shape: identical to vocab_coverage_cutoff — term-count "
    "aggregate, exact global ranks from the two-stage distributed "
    "prefix (operators/ranking.py global_rank, never a "
    "single-partition window over the vocab), then one scalar "
    "regression aggregate.",
    tags=("text", "llm", "A7", "A11"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from flu_data_pipeline_spark.operators.ranking import global_rank

    ranked = global_rank(
        counts, [F.col("c").desc(), F.col("term")], "__zr"
    ).select(
        F.log(F.col("__zr").cast("double")).alias("lx"),
        F.log(F.col("c").cast("double")).alias("ly"),
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.round(F.regr_slope("ly", "lx"), 6).alias("zipf_exponent"),
        F.round(F.regr_intercept("ly", "lx"), 6).alias("log_c0"),
        F.round(F.corr("ly", "lx") * F.corr("ly", "lx"), 6).alias("r_squared"),
    )


@register(
    "langid_confusion_matrix",
    oracle=f"""
    WITH pred AS (
        SELECT lang AS labeled_lang,
               CASE WHEN CAST(len(list_filter({_TOKENS},
                                 t -> list_contains({_STOPLIST}, t)))
                         AS DOUBLE) / len({_TOKENS}) >= 0.1
                    THEN 'en' ELSE 'unknown' END AS predicted_lang
        FROM documents
    ), cells AS (
        SELECT labeled_lang, predicted_lang,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM pred GROUP BY 1, 2
    )
    SELECT labeled_lang, predicted_lang, n,
           ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (
               PARTITION BY labeled_lang), 6) AS recall_share,
           ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (
               PARTITION BY predicted_lang), 6) AS precision_share
    FROM cells
    ORDER BY labeled_lang, predicted_lang
    """,
    doc="Confusion matrix for the engine's own language-ID heuristic "
    "(text_lang_id's stopword-hit-rate rule) against the labeled lang "
    "column: per (labeled, predicted) cell, the count plus its share "
    "of the labeled row (recall decomposition) and of the predicted "
    "column (precision decomposition) — closing the eval loop on an "
    "in-repo model the way the AUC/PR/calibration battery does for "
    "the synthetic scorer. The per-row/per-column shares are "
    "window ratios over the CELL table (class-cardinality rows), so "
    "the full matrix costs one groupBy plus two tiny windows. This "
    "is the quality gate a lang-filtered corpus pipeline runs before "
    "trusting its language routing.",
    tags=("text", "eval", "A10", "A3"),
)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.select(
        "lang", tokenize(F.col("text")).alias("tokens")
    )
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    hit_rate = (
        F.size(F.filter("tokens", lambda t: F.array_contains(stop_arr, t)))
        .cast("double")
        / F.size("tokens")
    )
    pred = docs.select(
        F.col("lang").alias("labeled_lang"),
        F.when(hit_rate >= 0.1, "en").otherwise("unknown")
        .alias("predicted_lang"),
    )
    cells = pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_row = Window.partitionBy("labeled_lang")
    w_col = Window.partitionBy("predicted_lang")
    return cells.select(
        "labeled_lang",
        "predicted_lang",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w_row), 6)
        .alias("recall_share"),
        F.round(F.col("n").cast("double") / F.sum("n").over(w_col), 6)
        .alias("precision_share"),
    ).orderBy("labeled_lang", "predicted_lang")


@register(
    "text_oov_rate_by_source",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
    ), counts AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY term
    ), ranked AS (
        SELECT term, c,
               SUM(c) OVER (ORDER BY c DESC, term
                            ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(c) OVER () AS total
        FROM counts
    ), vocab AS (
        SELECT term FROM ranked
        WHERE CAST(cum - c AS DOUBLE) / total < 0.90
    ), doc_oov AS (
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_oov
        FROM tok t LEFT JOIN vocab v ON t.term = v.term
        GROUP BY t.doc_id
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(o.n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(o.n_oov) AS BIGINT) AS n_oov,
           ROUND(CAST(SUM(o.n_oov) AS DOUBLE) / SUM(o.n_tokens), 6)
               AS oov_rate
    FROM doc_oov o JOIN documents d ON o.doc_id = d.doc_id
    GROUP BY d.source
    ORDER BY d.source
    """,
    doc="Out-of-vocabulary rate per source under the 90%-coverage "
    "vocabulary (the same cutoff rule as vocab_coverage_cutoff): "
    "every token outside the kept vocab maps to <unk>, and the "
    "per-source <unk> share is the routing diagnostic — a source "
    "whose OOV rate is multiples of the corpus average either needs "
    "vocab expansion or its own tokenizer, and rising OOV over "
    "ingest batches is drift. Token membership is a LEFT join of "
    "the token stream against the vocab (broadcast-sized: the vocab "
    "is by construction the SMALL head of the term distribution), "
    "then doc- and source-level exact integer rollups. Scale shape: "
    "term counts as in the vocab query; the membership join "
    "broadcasts the vocab; everything else is FK-keyed aggregation.",
    tags=("text", "llm", "A10", "J2"),
)
def text_oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("term")
    )
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy(F.col("c").desc(), "term").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = counts.select(
        "term",
        "c",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("total"),
    )
    vocab = ranked.filter(
        (F.col("cum") - F.col("c")).cast("double") / F.col("total") < 0.90
    ).select("term")
    doc_oov = (
        tok.join(F.broadcast(vocab.withColumn("in_v", F.lit(1))), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_v").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
    )
    return (
        doc_oov.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("n_oov").cast("bigint").alias("n_oov"),
            F.round(
                F.sum("n_oov").cast("double") / F.sum("n_tokens"), 6
            ).alias("oov_rate"),
        )
        .orderBy("source")
    )


_RRF_K = 60


@register(
    "ranking_rrf_fusion",
    oracle=f"""
    WITH docs_t AS (
        SELECT doc_id, {{tok}} AS t FROM documents
    ), stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
               AVG(CAST(len(t) AS DOUBLE)) AS avgdl
        FROM docs_t
    ), tf AS (
        SELECT d.doc_id, CAST(len(d.t) AS DOUBLE) AS dl, q.term,
               CAST(len(list_filter(d.t, x -> x = q.term)) AS DOUBLE) AS f
        FROM docs_t d
        CROSS JOIN (SELECT unnest({{terms}}::VARCHAR[]) AS term) q
    ), df AS (
        SELECT term, CAST(SUM(CASE WHEN f > 0 THEN 1 ELSE 0 END) AS DOUBLE)
               AS n_with
        FROM tf GROUP BY term
    ), bm25 AS (
        SELECT tf.doc_id,
               SUM(LN((s.n_docs - df.n_with + 0.5) / (df.n_with + 0.5) + 1)
                   * tf.f * ({{k1}} + 1)
                   / (tf.f + {{k1}}
                      * (1 - {{b}} + {{b}} * tf.dl / s.avgdl))
               ) AS score
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN stats s
        GROUP BY tf.doc_id
    ), rank_a AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY ROUND(score, 6) DESC, doc_id)
                   AS ra
        FROM bm25 WHERE score > 0
        QUALIFY ra <= 10
    ), plain AS (
        SELECT doc_id, SUM(f) AS tf_sum FROM tf GROUP BY doc_id
    ), rank_b AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY tf_sum DESC, doc_id) AS rb
        FROM plain WHERE tf_sum > 0
        QUALIFY rb <= 10
    ), fused AS (
        SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id, a.ra, b.rb,
               COALESCE(1.0 / ({_RRF_K} + a.ra), 0.0)
               + COALESCE(1.0 / ({_RRF_K} + b.rb), 0.0) AS rrf
        FROM rank_a a FULL OUTER JOIN rank_b b ON a.doc_id = b.doc_id
    )
    SELECT doc_id, ra AS rank_bm25, rb AS rank_tf,
           ROUND(rrf, 6) AS rrf_score,
           CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS INT)
               AS fused_rank
    FROM fused
    QUALIFY fused_rank <= 10
    ORDER BY fused_rank
    """.replace("{tok}", _TOKENS)
    .replace("{terms}", repr(list(BM25_TERMS)))
    .replace("{k1}", str(BM25_K1))
    .replace("{b}", str(BM25_B)),
    doc="Reciprocal rank fusion of the BM25 and raw-TF top-10 rankings "
    "for the fixed query (the same two rankers ranking_rbo_eval "
    "MEASURES disagreement between — RRF is how you EXPLOIT it): each "
    "document scores sum 1/(60 + rank) over the lists it appears in, "
    "and the fused top-10 provably dominates either single ranker on "
    "robustness — the standard first fusion every hybrid "
    "lexical+vector retrieval stack ships. Ranks fuse over the "
    "union (FULL OUTER join of two 10-row lists), the fused order is "
    "pinned on (raw rrf DESC, doc_id) before rounding. Scale shape "
    "matches the rbo eval: candidate lists are top-k-bounded, fusion "
    "work is O(k).",
    tags=("text", "eval", "O3", "J5"),
)
def ranking_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    rank_a, rank_b = _bm25_and_tf_top10(load_table(spark, sf_dir, "documents"))
    fused = (
        rank_a.withColumnRenamed("doc_id", "da")
        .join(
            rank_b.withColumnRenamed("doc_id", "db"),
            F.col("da") == F.col("db"),
            "full_outer",
        )
        .select(
            F.coalesce("da", "db").alias("doc_id"),
            "ra",
            "rb",
            (
                F.coalesce(1.0 / (_RRF_K + F.col("ra")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("rb")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    wf = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf).cast("int"))
        .filter(F.col("fused_rank") <= 10)
        .select(
            "doc_id",
            F.col("ra").alias("rank_bm25"),
            F.col("rb").alias("rank_tf"),
            F.round("rrf", 6).alias("rrf_score"),
            "fused_rank",
        )
        .orderBy("fused_rank")
    )


@register(
    "split_leakage_audit",
    oracle=f"""
    WITH fp AS (
        SELECT doc_id,
               {hash64_sql(_NORMALIZED_SQL)} AS fingerprint,
               CASE WHEN {hash64_sql('CAST(doc_id AS VARCHAR)')} % 100 < 90
                    THEN 1 ELSE 0 END AS tr_doc
        FROM documents
    ),
    keyed AS (
        SELECT fingerprint, tr_doc,
               CASE WHEN {hash64_sql('CAST(fingerprint AS VARCHAR)')}
                         % 100 < 90
                    THEN 1 ELSE 0 END AS tr_fp
        FROM fp
    ),
    per_fp AS (
        SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(tr_doc) AS BIGINT) AS t_doc,
               CAST(SUM(tr_fp) AS BIGINT) AS t_fp
        FROM keyed GROUP BY fingerprint
    ),
    tot AS (
        SELECT CAST(SUM(t_doc) AS BIGINT) AS tr1,
               CAST(SUM(c - t_doc) AS BIGINT) AS va1,
               CAST(SUM(t_doc * (c - t_doc)) AS BIGINT) AS leak1,
               CAST(SUM(t_fp) AS BIGINT) AS tr2,
               CAST(SUM(c - t_fp) AS BIGINT) AS va2,
               CAST(SUM(t_fp * (c - t_fp)) AS BIGINT) AS leak2
        FROM per_fp
    )
    SELECT 'docid_hash' AS scheme, tr1 AS n_train, va1 AS n_val,
           leak1 AS dup_pairs_crossing FROM tot
    UNION ALL
    SELECT 'content_hash', tr2, va2, leak2 FROM tot
    ORDER BY scheme
    """,
    doc="Leakage audit of train/val splitting: the naive doc-id-hash "
    "split lets exact duplicates straddle the boundary (a classic "
    "eval-contamination bug); splitting on the CONTENT fingerprint "
    "pins every duplicate group to one side by construction. Crossing "
    "pairs are counted per fingerprint group as t*(c-t) — pure "
    "aggregation, no pair self-join — so the audit is one scan + one "
    "groupBy at any corpus size. Extends sample_split_train_val / "
    "text_fingerprint; the same pattern applies to near-dup cluster "
    "ids from dedup_components for semantic leakage.",
    tags=("text", "sampling", "dedup", "curation"),
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    keyed = docs.select(
        hash64(normalized).alias("fingerprint"),
        F.when(
            hash64(F.col("doc_id").cast("string")) % 100 < 90, 1
        )
        .otherwise(0)
        .alias("tr_doc"),
    ).withColumn(
        "tr_fp",
        F.when(
            hash64(F.col("fingerprint").cast("string")) % 100 < 90, 1
        ).otherwise(0),
    )
    per_fp = keyed.groupBy("fingerprint").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("tr_doc").cast("bigint").alias("t_doc"),
        F.sum("tr_fp").cast("bigint").alias("t_fp"),
    )
    tot = per_fp.agg(
        F.sum("t_doc").cast("bigint").alias("tr1"),
        F.sum(F.col("c") - F.col("t_doc")).cast("bigint").alias("va1"),
        F.sum(F.col("t_doc") * (F.col("c") - F.col("t_doc")))
        .cast("bigint")
        .alias("leak1"),
        F.sum("t_fp").cast("bigint").alias("tr2"),
        F.sum(F.col("c") - F.col("t_fp")).cast("bigint").alias("va2"),
        F.sum(F.col("t_fp") * (F.col("c") - F.col("t_fp")))
        .cast("bigint")
        .alias("leak2"),
    )
    rows = tot.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("docid_hash").alias("scheme"),
                    F.col("tr1").alias("n_train"),
                    F.col("va1").alias("n_val"),
                    F.col("leak1").alias("dup_pairs_crossing"),
                ),
                F.struct(
                    F.lit("content_hash").alias("scheme"),
                    F.col("tr2").alias("n_train"),
                    F.col("va2").alias("n_val"),
                    F.col("leak2").alias("dup_pairs_crossing"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    return rows.orderBy("scheme")


# ---------------------------------------------------------------------------
# BPE vocabulary training (unrolled greedy merges).
# _word_counts is the (word, cnt) table every tokenizer trainer starts from.
# _merge_train runs the merge rounds BPE and WordPiece share; each trainer
# passes only how it ranks a round's pairs. _n_syms counts a trained word's
# symbols.
# ---------------------------------------------------------------------------

BPE_MERGES = 4

#: One BPE merge as SQL: count adjacent symbol pairs weighted by word
#: frequency, take the argmax (ties pinned lexicographically), and merge
#: every non-overlapping occurrence. The double-space padding gives each
#: symbol its own boundary spaces, so consecutive occurrences of the
#: winning pair don't share a delimiter and ALL merge in one replace()
#: pass (plain left-to-right literal replace — identical semantics in
#: Spark and DuckDB, no regex).


def _bpe_step_sql(prev: str, t: int) -> str:
    return f"""p{t} AS (
        SELECT u.a AS x, u.b AS y, CAST(SUM(cnt) AS BIGINT) AS c
        FROM (
            SELECT cnt,
                   unnest(list_transform(range(1, len(syms)),
                          i -> struct_pack(a := syms[i], b := syms[i + 1])))
                       AS u
            FROM (SELECT cnt, regexp_split_to_array(seq, ' ') AS syms
                  FROM {prev})
        ) GROUP BY x, y
    ),
    b{t} AS (SELECT x, y, c FROM p{t} ORDER BY c DESC, x, y LIMIT 1),
    v{t} AS MATERIALIZED (
        SELECT word, cnt,
               trim(replace(
                   replace(' ' || replace(seq, ' ', '  ') || ' ',
                           ' ' || b.x || '  ' || b.y || ' ',
                           ' ' || b.x || b.y || ' '),
                   '  ', ' ')) AS seq
        FROM {prev}, b{t} b
    )"""


def _word_counts(docs: DataFrame) -> DataFrame:
    """(word, cnt): every whitespace word of ``docs.text`` with its
    occurrence count."""
    return (
        docs.select(F.explode(tokenize(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def _n_syms() -> Column:
    """Number of symbols in a merge-trained word's ``seq``."""
    return F.size(F.split(F.col("seq"), " "))


def _merge_train(
    docs: DataFrame,
    rounds: int,
    pick: Callable[[DataFrame, DataFrame], DataFrame],
    trainer: str,
) -> tuple[DataFrame, DataFrame]:
    """Run ``rounds`` greedy merge rounds over ``docs``'s character-split
    word table; returns the final (word, cnt, seq) vocabulary and every
    round's winning pair (x, y, c, ..., merge_rank) as one frame.
    ``pick(vocab, pairs)`` ranks the round's (x, y, c) adjacent-pair
    counts and returns the 1-row winner. Every barrier label starts with
    ``trainer/``, so a query that runs two trainers profiles them apart."""
    vocab = _word_counts(docs).select(
        "word",
        "cnt",
        F.array_join(
            F.regexp_extract_all("word", F.lit("."), 0), " "
        ).alias("seq"),
    )
    # The vocabulary frame is tiny (distinct words); checkpoint each
    # round so the returned plan doesn't re-derive v0 2^T times.
    vocab = barrier(vocab, f"{trainer}/vocab")
    merges: list[DataFrame] = []
    for t in range(1, rounds + 1):
        syms = F.split(F.col("seq"), " ")
        pairs = (
            vocab.select("cnt", syms.alias("syms"))
            .filter(F.size("syms") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(element_at(syms, i) AS a, "
                        "element_at(syms, i + 1) AS b))"
                    )
                ).alias("u"),
            )
            .groupBy(F.col("u.a").alias("x"), F.col("u.b").alias("y"))
            .agg(F.sum("cnt").cast("bigint").alias("c"))
        )
        # lazy checkpoint (r11, guide §2.4): the eager form ran a
        # separate blocking job per round just to pick the argmax pair;
        # lazily the next vocab rewrite's eager checkpoint materializes
        # it in the same job (one job per merge round instead of two)
        # while the merge-table output still reads the materialized RDD.
        best = barrier(pick(vocab, pairs), f"{trainer}/best{t}", eager=False)
        merges.append(best.withColumn("merge_rank", F.lit(t)))
        padded = F.concat(
            F.lit(" "), F.replace(F.col("seq"), F.lit(" "), F.lit("  ")),
            F.lit(" "),
        )
        pattern = F.concat(
            F.lit(" "), F.col("x"), F.lit("  "), F.col("y"), F.lit(" ")
        )
        repl = F.concat(F.lit(" "), F.col("x"), F.col("y"), F.lit(" "))
        vocab = barrier(
            vocab.crossJoin(F.broadcast(best))
            .select(
                "word",
                "cnt",
                F.trim(
                    F.replace(
                        F.replace(padded, pattern, repl),
                        F.lit("  "),
                        F.lit(" "),
                    )
                ).alias("seq"),
            ),
            f"{trainer}/vocab{t}",
        )
    return vocab, reduce(DataFrame.union, merges)


def _bpe_train(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The BPE_MERGES-round greedy BPE trainer: each round merges the
    most frequent pair (ties pinned lexicographically)."""
    return _merge_train(
        docs,
        BPE_MERGES,
        lambda _, pairs: pairs.orderBy(
            F.desc("c"), F.asc("x"), F.asc("y")
        ).limit(1),
        "bpe",
    )


@register(
    "text_bpe_train_merges",
    oracle=(
        f"""
    WITH words AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (
            SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                   AS word
            FROM documents
        ) GROUP BY word
    ),
    v0 AS MATERIALIZED (
        SELECT word, cnt,
               array_to_string(regexp_extract_all(word, '.'), ' ') AS seq
        FROM words
    ),
    """
        + ",\n    ".join(
            _bpe_step_sql(f"v{t - 1}", t) for t in range(1, BPE_MERGES + 1)
        )
        + f"""
    SELECT * FROM (
        {" UNION ALL ".join(
            f"SELECT {t} AS merge_rank, x AS sym_x, y AS sym_y, "
            f"c AS pair_count, x || y AS new_sym FROM b{t}"
            for t in range(1, BPE_MERGES + 1)
        )}
    ) ORDER BY merge_rank
    """
    ),
    doc=f"BPE tokenizer TRAINING, first {BPE_MERGES} merges: start from "
    "character-level symbol sequences over the frequency-weighted word "
    "vocabulary, repeatedly pick the most frequent adjacent symbol "
    "pair (ties pinned lexicographically) and merge every occurrence "
    "— the algorithm behind GPT/Llama tokenizers, run as pure "
    "DataFrame ops. Merging uses a literal left-to-right replace with "
    "double-space padding so simultaneous occurrences never share a "
    "delimiter — bit-identical semantics in both engines, no regex, "
    "no UDF. Scale shape: the corpus is scanned ONCE into the "
    "(word, count) vocabulary; every merge iteration runs on that "
    "vocabulary-bounded frame (pair counts via map-side-combined "
    "aggregation, 1-row argmax broadcast back), checkpointed per "
    "round to keep lineage flat — corpus size only affects the first "
    "aggregation, exactly like production BPE trainers that work "
    "from word-frequency tables.",
    tags=("text", "bpe", "curation", "A6"),
    bench=True,
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, merges = _bpe_train(load_table(spark, sf_dir, "documents"))
    return merges.select(
        "merge_rank",
        F.col("x").alias("sym_x"),
        F.col("y").alias("sym_y"),
        F.col("c").alias("pair_count"),
        F.concat(F.col("x"), F.col("y")).alias("new_sym"),
    ).orderBy("merge_rank")


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (SentencePiece family) — Viterbi-EM re-estimation.
# _piece_map gathers each word's scored substrings for the row-local DPs.
# _bpe_uni_segs gives each word's piece count under BPE and the unigram LM;
# _fertility_by_len turns such counts into the per-word-length fertility
# table, each model's column one _pieces_per_word mean.
# ---------------------------------------------------------------------------

_UNI_L = 4       # max piece length (chars)
_UNI_WMAX = 12   # max word length admitted to training (DP unroll depth)
_UNI_V = 512     # seed vocabulary: top-V substrings by weighted count
_UNI_EM = 2      # Viterbi-EM rounds


def _uni_seed_sql() -> str:
    """Seed CTEs: word counts, substring candidates (len <= _UNI_L),
    top-V + all single chars, initial integer micro-nat scores."""
    return f"""uwords AS MATERIALIZED (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (
            SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                   AS word
            FROM documents
        )
        WHERE word <> '' AND length(word) BETWEEN 1 AND {_UNI_WMAX}
        GROUP BY word
    ),
    usubs AS (
        SELECT cnt,
               unnest(flatten(list_transform(
                   range(1, length(word) + 1),
                   i -> list_transform(
                       range(CAST(i AS INT),
                             CAST(least(i + {_UNI_L} - 1, length(word))
                                  AS INT) + 1),
                       e -> substr(word, CAST(i AS INT),
                                   CAST(e AS INT) - CAST(i AS INT) + 1))
               ))) AS piece
        FROM uwords
    ),
    ucands AS MATERIALIZED (
        SELECT piece, CAST(SUM(cnt) AS BIGINT) AS c
        FROM usubs GROUP BY piece
    ),
    utop AS (
        SELECT piece FROM ucands ORDER BY c DESC, piece LIMIT {_UNI_V}
    ),
    uvset AS (
        SELECT piece FROM utop
        UNION
        SELECT piece FROM ucands WHERE length(piece) = 1
    ),
    uv0 AS MATERIALIZED (
        SELECT c.piece,
               CAST(ROUND(LN(CAST(c.c AS DOUBLE) / t.tot) * 1000000, 0)
                    AS BIGINT) AS s
        FROM ucands c JOIN uvset USING (piece)
        CROSS JOIN (
            SELECT CAST(SUM(c) AS DOUBLE) AS tot
            FROM ucands JOIN uvset USING (piece)
        ) t
    )"""


def _uni_iter_sql(it: int) -> str:
    """One Viterbi-EM round as CTEs: unrolled DP layers ud{it}_0..WMAX
    under scores uv{it-1}, backtrack layers emitting the best
    segmentation's pieces, weighted counts uc{it}, add-one-smoothed
    re-estimated scores uv{it}. Every layer MATERIALIZED — dp layers
    are referenced by up to _UNI_L later layers and would otherwise
    re-expand multiplicatively when inlined."""
    vprev = f"uv{it - 1}"
    parts = [
        f"""ud{it}_0 AS (
        SELECT word, cnt, 0 AS pos, CAST(0 AS BIGINT) AS score, 0 AS prev_j
        FROM uwords
    )"""
    ]
    for t in range(1, _UNI_WMAX + 1):
        prev_union = " UNION ALL ".join(
            f"SELECT * FROM ud{it}_{j}"
            for j in range(max(0, t - _UNI_L), t)
        )
        parts.append(f"""ud{it}_{t} AS MATERIALIZED (
        SELECT word, cnt, {t} AS pos, score, prev_j FROM (
            SELECT c.word, c.cnt, c.sc + v.s AS score, c.j AS prev_j,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.word
                       ORDER BY c.sc + v.s DESC, c.j ASC) AS rn
            FROM (
                SELECT word, cnt, pos AS j, score AS sc,
                       substr(word, pos + 1, {t} - pos) AS piece
                FROM ({prev_union})
                WHERE length(word) >= {t}
            ) c JOIN {vprev} v ON v.piece = c.piece
        ) WHERE rn = 1
    )""")
    dpall_union = " UNION ALL ".join(
        f"SELECT word, pos, prev_j FROM ud{it}_{t}"
        for t in range(1, _UNI_WMAX + 1)
    )
    parts.append(f"ud{it}_all AS MATERIALIZED ({dpall_union})")
    parts.append(
        f"""ub{it}_0 AS (
        SELECT word, cnt, length(word) AS pos FROM uwords
    )"""
    )
    for k in range(1, _UNI_WMAX + 1):
        parts.append(f"""us{it}_{k} AS MATERIALIZED (
        SELECT b.word, b.cnt,
               substr(b.word, d.prev_j + 1, b.pos - d.prev_j) AS piece,
               d.prev_j AS npos
        FROM ub{it}_{k - 1} b
        JOIN ud{it}_all d ON d.word = b.word AND d.pos = b.pos
    )""")
        parts.append(f"""ub{it}_{k} AS (
        SELECT word, cnt, npos AS pos FROM us{it}_{k} WHERE npos > 0
    )""")
    pieces_union = " UNION ALL ".join(
        f"SELECT piece, cnt FROM us{it}_{k}"
        for k in range(1, _UNI_WMAX + 1)
    )
    parts.append(f"""uc{it} AS MATERIALIZED (
        SELECT piece, CAST(SUM(cnt) AS BIGINT) AS vc
        FROM ({pieces_union}) GROUP BY piece
    )""")
    parts.append(f"""uv{it} AS MATERIALIZED (
        SELECT p.piece,
               CAST(ROUND(LN(CAST(p.c AS DOUBLE) / t.tot) * 1000000, 0)
                    AS BIGINT) AS s
        FROM (
            SELECT v.piece, COALESCE(c.vc, 0) + 1 AS c
            FROM {vprev} v LEFT JOIN uc{it} c ON c.piece = v.piece
        ) p CROSS JOIN (
            SELECT CAST(SUM(COALESCE(c.vc, 0) + 1) AS DOUBLE) AS tot
            FROM {vprev} v LEFT JOIN uc{it} c ON c.piece = v.piece
        ) t
    )""")
    return ",\n    ".join(parts)


def _uni_words(docs: DataFrame) -> DataFrame:
    """(word, cnt): the training word table, length-capped at
    _UNI_WMAX (the filter is on the grouping key, so Catalyst runs it
    below the aggregate)."""
    return barrier(
        _word_counts(docs).filter(
            (F.col("word") != "") & (F.length("word") <= _UNI_WMAX)
        ),
        "uni_words",
    )


def _uni_seed_vocab(words: DataFrame) -> DataFrame:
    """(piece, s): seed vocabulary scores — top-_UNI_V substrings by
    weighted count plus every single char, integer micro-nat
    log-probabilities."""
    subs = words.select(
        "cnt",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, length(word)), "
                f"i -> transform(sequence(i, least(i + {_UNI_L} - 1, "
                f"length(word))), "
                f"e -> substring(word, i, e - i + 1))))"
            )
        ).alias("piece"),
    )
    cands = subs.groupBy("piece").agg(
        F.sum("cnt").cast("bigint").alias("c")
    )
    top = cands.orderBy(F.desc("c"), "piece").limit(_UNI_V).select("piece")
    chars1 = cands.filter(F.length("piece") == 1).select("piece")
    vset = top.union(chars1).distinct()
    vc0 = cands.join(vset, "piece")
    tot0 = vc0.agg(F.sum("c").cast("double").alias("tot"))
    return barrier(
        vc0.crossJoin(F.broadcast(tot0))
        .select(
            "piece",
            F.round(
                F.log(F.col("c").cast("double") / F.col("tot")) * 1e6, 0
            )
            .cast("long")
            .alias("s"),
        ),
        "uni_seed_vocab",
    )


def _piece_map(words: DataFrame, vocab: DataFrame) -> DataFrame:
    """(word, pm): each word's distinct substrings of <= _UNI_L chars
    that ``vocab`` (piece, s) scores, as a piece -> score map."""
    wsubs = words.select(
        "word",
        F.explode(
            F.expr(
                f"array_distinct(flatten(transform(sequence(1, "
                f"length(word)), i -> transform(sequence(i, least(i + "
                f"{_UNI_L} - 1, length(word))), "
                f"e -> substring(word, i, e - i + 1)))))"
            )
        ).alias("piece"),
    )
    return (
        wsubs.join(F.broadcast(vocab), "piece")
        .groupBy("word")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("piece", "s"))
            ).alias("pm")
        )
    )


def _uni_viterbi_pieces(words: DataFrame, vocab: DataFrame) -> DataFrame:
    """(word, cnt, piece): every piece of every word's max-score
    segmentation under ``vocab``.

    The Viterbi DP is ROW-LOCAL — a word's table depends on nothing but
    the word and the scores of its own substrings — so it runs as a
    single fold (``F.aggregate``) inside one projection: acc[t+1] =
    best (score, -split) struct over the <= _UNI_L admissible last
    pieces, argmax by lexicographic struct max (score desc, split asc —
    the same pinned tie-break the oracle's ROW_NUMBER replays), and the
    backtrack is a second bounded fold walking the stored split points.
    The only shuffles are ONE broadcast join gathering each word's
    in-vocab substring scores into a map column and the per-word
    groupBy — 2 exchanges per E-step, against the 2x_UNI_WMAX-exchange
    join-ladder formulation this replaced (measured 75 s -> ~8 s at
    sf0.1 for the fertility query's three E-steps). ANSI note:
    map lookups use try_element_at (absent piece -> null -> candidate
    filtered), array indexes are in-bounds by construction."""
    d = words.join(_piece_map(words, vocab), "word")

    def dp_step(acc, t):
        cands = F.filter(
            F.transform(
                F.sequence(F.greatest(t - _UNI_L, F.lit(0)), t - 1),
                lambda j: F.struct(
                    (
                        F.element_at(acc, j + 1)["sc"]
                        + F.try_element_at(
                            F.col("pm"),
                            F.col("word").substr(j + 1, t - j),
                        )
                    ).alias("sc"),
                    (-j).alias("nj"),
                ),
            ),
            lambda c: c["sc"].isNotNull(),
        )
        return F.concat(acc, F.array(F.array_max(cands)))

    bests = F.aggregate(
        F.sequence(F.lit(1), F.length("word")),
        F.array(
            F.struct(
                F.lit(0).cast("long").alias("sc"), F.lit(0).alias("nj")
            )
        ),
        dp_step,
    )

    def bt_step(acc, _):
        pj = -F.element_at(F.col("bests"), acc["pos"] + 1)["nj"]
        return F.when(
            acc["pos"] > 0,
            F.struct(
                pj.alias("pos"),
                F.concat(
                    acc["out"],
                    F.array(
                        F.col("word").substr(pj + 1, acc["pos"] - pj)
                    ),
                ).alias("out"),
            ),
        ).otherwise(acc)

    pieces_arr = F.aggregate(
        F.sequence(F.lit(1), F.lit(_UNI_WMAX)),
        F.struct(
            F.length("word").alias("pos"),
            F.expr("CAST(array() AS array<string>)").alias("out"),
        ),
        bt_step,
        lambda acc: acc["out"],
    )
    return (
        d.withColumn("bests", bests)
        .select("word", "cnt", F.explode(pieces_arr).alias("piece"))
    )


def _uni_train(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Run the full _UNI_EM-round Viterbi-EM; returns (words,
    final vocab scores, final-round weighted piece counts)."""
    words = _uni_words(docs)
    vocab = _uni_seed_vocab(words)
    counts = None
    for it in range(_UNI_EM):
        counts = barrier(
            _uni_viterbi_pieces(words, vocab)
            .groupBy("piece")
            .agg(F.sum("cnt").cast("bigint").alias("vc")),
            # eager=False (r11 wave 3, guide §2.4): counts feeds the
            # round's vocab checkpoint (and, in the final round, the
            # caller's output job) — the eager form was one extra
            # blocking driver job per EM round; lazy materializes it
            # inside the vocab checkpoint's job, halving the round's
            # barriers (the text_bpe_train_merges per-round-argmax
            # pattern).
            f"em{it}_counts",
            eager=False,
        )
        sm = vocab.select("piece").join(counts, "piece", "left").select(
            "piece",
            (F.coalesce(F.col("vc"), F.lit(0)) + 1)
            .cast("bigint")
            .alias("c"),
        )
        tot = sm.agg(F.sum("c").cast("double").alias("tot"))
        vocab = barrier(
            sm.crossJoin(F.broadcast(tot))
            .select(
                "piece",
                F.round(
                    F.log(F.col("c").cast("double") / F.col("tot")) * 1e6,
                    0,
                )
                .cast("long")
                .alias("s"),
            ),
            f"em{it}_vocab",
        )
    return words, vocab, counts


def _bpe_uni_segs(docs: DataFrame) -> DataFrame:
    """(word, cnt, n_bpe, n_uni): every word both BPE and the unigram
    LM train on, with its piece count under each model's final state
    (BPE: the merged symbols; unigram: one more Viterbi pass)."""
    bvocab, _ = _bpe_train(docs)
    bseg = bvocab.select(
        "word", "cnt", _n_syms().cast("bigint").alias("n_bpe")
    )
    words, uvocab, _ = _uni_train(docs)
    useg = (
        _uni_viterbi_pieces(words, uvocab)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_uni"))
    )
    return bseg.join(useg, "word")


def _pieces_per_word(n: str) -> Column:
    """Pieces per word occurrence: the cnt-weighted mean of ``n``."""
    return F.round(
        F.sum(F.col("cnt") * F.col(n)).cast("double") / F.sum("cnt"), 6
    )


def _fertility_by_len(segs: DataFrame, *models: str) -> DataFrame:
    """Per word length: distinct words, occurrences, and each model's
    pieces per word from its ``n_<model>`` column."""
    return (
        segs.groupBy(F.length("word").cast("int").alias("word_len"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("cnt").cast("bigint").alias("occurrences"),
            *(
                _pieces_per_word(f"n_{m}").alias(f"{m}_pieces_per_word")
                for m in models
            ),
        )
        .orderBy("word_len")
    )


@register(
    "tokenizer_unigram_viterbi_em",
    oracle=(
        "WITH "
        + _uni_seed_sql()
        + ",\n    "
        + ",\n    ".join(_uni_iter_sql(it) for it in range(1, _UNI_EM + 1))
        + f"""
    SELECT c.piece, CAST(length(c.piece) AS INT) AS piece_len,
           c.vc AS em_count,
           ROUND(CAST(v.s AS DOUBLE) / 1000000, 6) AS logprob
    FROM uc{_UNI_EM} c JOIN uv{_UNI_EM} v ON v.piece = c.piece
    ORDER BY em_count DESC, c.piece LIMIT 25
    """
    ),
    doc="Unigram-LM tokenizer training (Kudo 2018, arXiv:1804.10959 — "
    "the SentencePiece algorithm behind T5/Llama tokenizers), run as "
    f"{_UNI_EM} rounds of hard (Viterbi) EM entirely in DataFrame "
    "ops: seed the vocabulary with the corpus's top-"
    f"{_UNI_V} substrings of <= {_UNI_L} chars (weighted by word "
    "frequency, ties lexicographic) plus every single character "
    "(guaranteeing segmentability), score pieces by integer "
    "micro-nat log-probabilities, then per round (E) segment every "
    "distinct word by max-score DP. The DP is ROW-LOCAL, and the plan "
    "says so: ONE broadcast join gathers each word's in-vocab "
    "substring scores into a map column, then the whole Viterbi "
    "recurrence AND its backtrack run inside a single projection as "
    "bounded F.aggregate folds over the word's positions (argmax by "
    "lexicographic struct max with the pinned score-desc/split-asc "
    "tie-break) — 2 exchanges per E-step, where a join-ladder "
    f"formulation pays 2x{_UNI_WMAX} (measured 9x faster; the oracle "
    "replays the recurrence as unrolled per-position CTE layers with "
    "a ROW_NUMBER argmax, same math, and hash-matches). The E-step "
    "emits the winning pieces; "
    "(M) re-estimate scores from the frequency-weighted piece counts "
    "with add-one smoothing over the fixed seed vocabulary (the "
    "paper's iterative PRUNING is a refinement on top; re-estimation "
    "is the EM core and keeps every round exactly SQL-replayable). "
    "Integer DP scores make the argmax engine-exact; the only floats "
    "are the per-round LN re-quantizations, rounded to micro-nats "
    "the way every house iterative algorithm pins its state. Output: "
    "top-25 pieces of the final round by EM count, with final "
    "log-probabilities. Scale shape: the corpus is scanned ONCE into "
    "the (word, count) table; all " f"{_UNI_EM}x{_UNI_WMAX} DP "
    "layers run on that vocabulary-bounded frame against a broadcast "
    "piece table — corpus size affects only the first aggregation, "
    "exactly like production SentencePiece training from word-"
    "frequency tables (and like text_bpe_train_merges, its greedy "
    "sibling here).",
    tags=("text", "tokenizer", "curation", "A6", "A10"),
    bench=True,
)
def tokenizer_unigram_viterbi_em(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    _, vocab, counts = _uni_train(load_table(spark, sf_dir, "documents"))
    return (
        counts.join(vocab, "piece")
        .select(
            "piece",
            F.length("piece").cast("int").alias("piece_len"),
            F.col("vc").alias("em_count"),
            F.round(F.col("s").cast("double") / 1e6, 6).alias("logprob"),
        )
        .orderBy(F.desc("em_count"), "piece")
        .limit(25)
    )


@register(
    "tokenizer_fertility_bpe_vs_unigram",
    oracle=(
        f"""
    WITH words AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (
            SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                   AS word
            FROM documents
        ) GROUP BY word
    ),
    v0 AS MATERIALIZED (
        SELECT word, cnt,
               array_to_string(regexp_extract_all(word, '.'), ' ') AS seq
        FROM words
    ),
    """
        + ",\n    ".join(
            _bpe_step_sql(f"v{t - 1}", t) for t in range(1, BPE_MERGES + 1)
        )
        + ",\n    "
        + _uni_seed_sql()
        + ",\n    "
        + ",\n    ".join(
            _uni_iter_sql(it) for it in range(1, _UNI_EM + 2)
        )
        + f"""
    ,
    bseg AS (
        SELECT word, cnt,
               CAST(len(regexp_split_to_array(seq, ' ')) AS BIGINT)
                   AS n_bpe
        FROM v{BPE_MERGES}
    ),
    useg AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n_uni
        FROM ({" UNION ALL ".join(
            f"SELECT word, piece FROM us{_UNI_EM + 1}_{k}"
            for k in range(1, _UNI_WMAX + 1)
        )}) GROUP BY word
    )
    SELECT CAST(length(b.word) AS INT) AS word_len,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(b.cnt) AS BIGINT) AS occurrences,
           ROUND(CAST(SUM(b.cnt * b.n_bpe) AS DOUBLE) / SUM(b.cnt), 6)
               AS bpe_pieces_per_word,
           ROUND(CAST(SUM(b.cnt * u.n_uni) AS DOUBLE) / SUM(b.cnt), 6)
               AS uni_pieces_per_word
    FROM bseg b JOIN useg u ON u.word = b.word
    GROUP BY 1 ORDER BY word_len
    """
    ),
    doc="Head-to-head tokenizer FERTILITY (pieces per word, frequency-"
    "weighted) of the repo's two trained tokenizers on the same "
    f"corpus: the {BPE_MERGES}-merge greedy BPE "
    "(text_bpe_train_merges) vs the " f"{_UNI_EM}-round Viterbi-EM "
    "unigram LM (tokenizer_unigram_viterbi_em), segmenting under "
    "each model's FINAL state (BPE: the merged symbol sequences; "
    "unigram: one more Viterbi pass under the re-estimated scores), "
    "reported per word length — the fertility-vs-word-size curve a "
    "tokenizer review compares before freezing a vocabulary, and the "
    "number that directly sets training cost per character (fertility "
    "x corpus words = token budget; compare corpus_token_budget). "
    "Comparison is over the words both trainers admit (unigram caps "
    f"training words at {_UNI_WMAX} chars; BPE trains on all — the "
    "join restricts to the common set, documented rather than "
    "silently padded). Both training chains replay in the oracle "
    "(the BPE merge CTEs and the unigram EM CTEs compose in one "
    "statement — the semdedup_scale_fidelity precedent), so the "
    "comparison itself is hash-checked cross-engine. Deliberately "
    "NOT benched: it re-runs both trainers by design.",
    tags=("text", "tokenizer", "bpe", "curation", "quality"),
)
def tokenizer_fertility_bpe_vs_unigram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _fertility_by_len(_bpe_uni_segs(docs), "bpe", "uni")


def _uni_prune_sql() -> str:
    """CTEs scoring every used multi-char piece's PRUNE LOSS: the best
    alternative segmentation of the piece string using every OTHER
    final-vocab piece (a <= _UNI_L-position DP — max score only, no
    backtrack), and loss = em_count x (self_score - alt_score)."""
    parts = [
        f"""pw AS MATERIALIZED (
        SELECT c.piece AS word, c.vc, v.s
        FROM uc{_UNI_EM} c JOIN uv{_UNI_EM} v USING (piece)
        WHERE length(c.piece) >= 2
    )""",
        """pd0 AS (
        SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS score FROM pw
    )""",
    ]
    for t in range(1, _UNI_L + 1):
        prev_union = " UNION ALL ".join(
            f"SELECT * FROM pd{j}" for j in range(max(0, t - _UNI_L), t)
        )
        parts.append(f"""pd{t} AS MATERIALIZED (
        SELECT word, {t} AS pos, MAX(c.score + v.s) AS score
        FROM (
            SELECT word, score,
                   substr(word, pos + 1, {t} - pos) AS piece
            FROM ({prev_union})
            WHERE length(word) >= {t}
        ) c JOIN uv{_UNI_EM} v
          ON v.piece = c.piece AND v.piece <> c.word
        GROUP BY word
    )""")
    alt_union = " UNION ALL ".join(
        f"SELECT * FROM pd{t}" for t in range(1, _UNI_L + 1)
    )
    parts.append(f"""palt AS (
        SELECT p.word, d.score AS alt_s
        FROM pw p JOIN ({alt_union}) d
          ON d.word = p.word AND d.pos = length(p.word)
    )""")
    return ",\n    ".join(parts)


@register(
    "tokenizer_unigram_prune_scores",
    oracle=(
        "WITH "
        + _uni_seed_sql()
        + ",\n    "
        + ",\n    ".join(_uni_iter_sql(it) for it in range(1, _UNI_EM + 1))
        + ",\n    "
        + _uni_prune_sql()
        + """
    SELECT p.word AS piece, CAST(length(p.word) AS INT) AS piece_len,
           p.vc AS em_count,
           ROUND(CAST(p.s AS DOUBLE) / 1000000, 6) AS logprob,
           ROUND(CAST(a.alt_s AS DOUBLE) / 1000000, 6) AS alt_logprob,
           CAST(p.vc * (p.s - a.alt_s) AS BIGINT) AS prune_loss_micronats
    FROM pw p JOIN palt a ON a.word = p.word
    ORDER BY prune_loss_micronats, piece LIMIT 25
    """
    ),
    doc="The PRUNE step of the unigram-LM trainer (Kudo 2018 §3.2 / "
    "SentencePiece's seed-vocabulary shrinking loop, scored on the "
    "tokenizer_unigram_viterbi_em state): for every multi-char piece "
    "the final EM round actually used, compute the corpus likelihood "
    "LOSS its removal would cost — em_count x (its own score minus "
    "the best ALTERNATIVE segmentation of the piece string using "
    "every OTHER final-vocab piece; single chars are never candidates "
    "so the alternative always exists). The alternative is a second "
    f"Viterbi DP over the <= {_UNI_L}-char piece strings, max score "
    "only (no backtrack; no tie-break needed — MAX over exact "
    "integer micro-nat scores), run the same row-local way: map-"
    "filter the piece's own key out of its score map and fold. The "
    "bottom of this ranking is exactly what the production trainer "
    "drops per shrink round; loss is emitted as an EXACT BIGINT "
    "micro-nat product (a 6dp double here could straddle the "
    "cross-engine ROUND divergence at large counts — see the verify "
    "recipe's ROUND note). Oracle replays seed + both EM rounds + "
    "the exclusion DP as unrolled CTEs. Unbenched: re-runs the full "
    "EM by design (fertility-query precedent).",
    tags=("text", "tokenizer", "curation", "quality"),
)
def tokenizer_unigram_prune_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    _, vocab, counts = _uni_train(load_table(spark, sf_dir, "documents"))
    pw = (
        counts.join(vocab, "piece")
        .filter(F.length("piece") >= 2)
        .select(F.col("piece").alias("word"), "vc", "s")
    )
    d = pw.join(_piece_map(pw, vocab), "word")
    # the piece may not segment THROUGH itself: filter its own key out
    pm_excl = F.map_filter(
        F.col("pm"), lambda k, _: k != F.col("word")
    )

    def dp_step(acc, t):
        cands = F.filter(
            F.transform(
                F.sequence(F.greatest(t - _UNI_L, F.lit(0)), t - 1),
                lambda j: F.element_at(acc, j + 1)
                + F.try_element_at(
                    pm_excl, F.col("word").substr(j + 1, t - j)
                ),
            ),
            lambda c: c.isNotNull(),
        )
        return F.concat(acc, F.array(F.array_max(cands)))

    bests = F.aggregate(
        F.sequence(F.lit(1), F.length("word")),
        F.array(F.lit(0).cast("long")),
        dp_step,
    )
    return (
        d.withColumn(
            "alt_s", F.element_at(bests, F.length("word") + 1)
        )
        .select(
            F.col("word").alias("piece"),
            F.length("word").cast("int").alias("piece_len"),
            F.col("vc").alias("em_count"),
            F.round(F.col("s").cast("double") / 1e6, 6).alias("logprob"),
            F.round(F.col("alt_s").cast("double") / 1e6, 6).alias(
                "alt_logprob"
            ),
            (F.col("vc") * (F.col("s") - F.col("alt_s")))
            .cast("bigint")
            .alias("prune_loss_micronats"),
        )
        .orderBy("prune_loss_micronats", "piece")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# WordPiece tokenizer trainer — likelihood-scored merges.
# _wp_pick is the WordPiece ranking _merge_train runs each round with.
# ---------------------------------------------------------------------------

_WP_MERGES = 4


def _wp_step_sql(prev: str, t: int) -> str:
    """One WordPiece round: pair counts, symbol counts, likelihood argmax
    (score = c(xy) / (c(x)*c(y))), literal merge replacement."""
    return f"""wp{t} AS (
        SELECT u.a AS x, u.b AS y, CAST(SUM(cnt) AS BIGINT) AS c
        FROM (
            SELECT cnt,
                   unnest(list_transform(range(1, len(syms)),
                          i -> struct_pack(a := syms[i], b := syms[i + 1])))
                       AS u
            FROM (SELECT cnt, regexp_split_to_array(seq, ' ') AS syms
                  FROM {prev})
        ) GROUP BY x, y
    ),
    ws{t} AS (
        SELECT sym, CAST(SUM(cnt) AS BIGINT) AS sc
        FROM (
            SELECT cnt, unnest(regexp_split_to_array(seq, ' ')) AS sym
            FROM {prev}
        ) GROUP BY sym
    ),
    wb{t} AS (
        SELECT p.x, p.y, p.c, sx.sc AS cx, sy.sc AS cy
        FROM wp{t} p
        JOIN ws{t} sx ON p.x = sx.sym
        JOIN ws{t} sy ON p.y = sy.sym
        ORDER BY CAST(p.c AS DOUBLE) / (sx.sc * sy.sc) DESC, p.x, p.y
        LIMIT 1
    ),
    wv{t} AS MATERIALIZED (
        SELECT word, cnt,
               trim(replace(
                   replace(' ' || replace(seq, ' ', '  ') || ' ',
                           ' ' || b.x || '  ' || b.y || ' ',
                           ' ' || b.x || b.y || ' '),
                   '  ', ' ')) AS seq
        FROM {prev}, wb{t} b
    )"""


@register(
    "tokenizer_wordpiece_train",
    oracle=(
        f"""
    WITH wpwords AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (
            SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                   AS word
            FROM documents
        ) GROUP BY word
    ),
    wv0 AS MATERIALIZED (
        SELECT word, cnt,
               array_to_string(regexp_extract_all(word, '.'), ' ') AS seq
        FROM wpwords
    ),
    """
        + ",\n    ".join(
            _wp_step_sql(f"wv{t - 1}", t) for t in range(1, _WP_MERGES + 1)
        )
        + f"""
    SELECT * FROM (
        {" UNION ALL ".join(
            f"SELECT {t} AS merge_rank, x AS sym_x, y AS sym_y, "
            f"c AS pair_count, cx AS cnt_x, cy AS cnt_y, "
            f"x || y AS new_sym FROM wb{t}"
            for t in range(1, _WP_MERGES + 1)
        )}
    ) ORDER BY merge_rank
    """
    ),
    doc=f"WordPiece tokenizer TRAINING (Schuster & Nakajima 2012; the "
    f"BERT tokenizer's trainer), first {_WP_MERGES} merges: unlike BPE's "
    "raw pair-frequency argmax, each round merges the pair maximizing "
    "the likelihood score c(xy) / (c(x)*c(y)) — the corpus-likelihood "
    "gain of fusing x,y under a unigram model (ties pinned "
    "lexicographically). Completes the tokenizer-trainer trio "
    "(BPE greedy-count, unigram Viterbi-EM, WordPiece likelihood). "
    "The score is computed from exact BIGINT counts with one IEEE "
    "double division — bit-identical in both engines — and the output "
    "emits only the integer evidence (pair count, both symbol counts), "
    "so the hash compare stays float-free. The ## continuation-prefix "
    "surface convention is presentation-layer and orthogonal to merge "
    "selection. Scale shape: identical to the BPE trainer — one corpus "
    "scan into the (word, count) vocabulary, then every round runs on "
    "the vocabulary-bounded frame: pair + symbol counts map-side "
    "combine, the two count frames broadcast into the argmax, the "
    "1-row winner broadcasts back into the literal replace; "
    "checkpointed per round to keep lineage flat.",
    tags=("text", "tokenizer", "curation", "A6"),
    bench=True,
)
def tokenizer_wordpiece_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, merges = _wp_train(load_table(spark, sf_dir, "documents"))
    return merges.select(
        "merge_rank",
        F.col("x").alias("sym_x"),
        F.col("y").alias("sym_y"),
        F.col("c").alias("pair_count"),
        F.col("cx").alias("cnt_x"),
        F.col("cy").alias("cnt_y"),
        F.concat(F.col("x"), F.col("y")).alias("new_sym"),
    ).orderBy("merge_rank")


def _wp_pick(vocab: DataFrame, pairs: DataFrame) -> DataFrame:
    """The round's WordPiece merge (x, y, c, cx, cy): the pair with the
    highest likelihood score c(xy) / (c(x)*c(y)), ties lexicographic."""
    symcnt = (
        vocab.select("cnt", F.explode(F.split(F.col("seq"), " ")).alias("sym"))
        .groupBy("sym")
        .agg(F.sum("cnt").cast("bigint").alias("sc"))
    )
    scored = pairs.join(
        F.broadcast(
            symcnt.select(F.col("sym").alias("x"), F.col("sc").alias("cx"))
        ),
        "x",
    ).join(
        F.broadcast(
            symcnt.select(F.col("sym").alias("y"), F.col("sc").alias("cy"))
        ),
        "y",
    )
    return (
        scored.orderBy(
            F.desc(F.col("c").cast("double") / (F.col("cx") * F.col("cy"))),
            F.asc("x"),
            F.asc("y"),
        )
        .limit(1)
        .select("x", "y", "c", "cx", "cy")
    )


def _wp_train(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The _WP_MERGES-round WordPiece trainer (:func:`_wp_pick`)."""
    return _merge_train(docs, _WP_MERGES, _wp_pick, "wp")


#: longest trainable piece after _WP_MERGES binary merges
_WP_PMAX = 2 ** _WP_MERGES


@register(
    "tokenizer_wordpiece_encode",
    oracle=(
        f"""
    WITH RECURSIVE wpwords AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (
            SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                   AS word
            FROM documents
        ) GROUP BY word
    ),
    wv0 AS MATERIALIZED (
        SELECT word, cnt,
               array_to_string(regexp_extract_all(word, '.'), ' ') AS seq
        FROM wpwords
    ),
    """
        + ",\n    ".join(
            _wp_step_sql(f"wv{t - 1}", t) for t in range(1, _WP_MERGES + 1)
        )
        + f""",
    vocabp AS MATERIALIZED (
        SELECT DISTINCT piece FROM (
            {" UNION ALL ".join(
                f"SELECT x || y AS piece FROM wb{t}"
                for t in range(1, _WP_MERGES + 1)
            )}
        )
    ),
    wrec AS (
        SELECT word, cnt, 1 AS pos, 0 AS n, '' AS parts FROM wpwords
        UNION ALL
        SELECT word, cnt, pos + l AS pos, n + 1 AS n,
               parts || ' ' || substr(word, CAST(pos AS INT), CAST(l AS INT))
                   AS parts
        FROM (
            SELECT r.word, r.cnt, r.pos, r.n, r.parts,
                   COALESCE(MAX(CASE
                       WHEN length(v.piece) <= length(r.word) - r.pos + 1
                        AND substr(r.word, CAST(r.pos AS INT),
                                   CAST(length(v.piece) AS INT)) = v.piece
                       THEN length(v.piece) END), 1) AS l
            FROM wrec r LEFT JOIN vocabp v ON TRUE
            WHERE r.pos <= length(r.word)
            GROUP BY r.word, r.cnt, r.pos, r.n, r.parts
        )
    )
    SELECT word, cnt, CAST(n AS INT) AS n_pieces, trim(parts) AS pieces
    FROM wrec WHERE pos > length(word)
    """
    ),
    doc="WordPiece ENCODING — greedy longest-match-first segmentation "
    "(the BERT inference tokenizer) under the vocabulary trained by "
    "tokenizer_wordpiece_train: at each position take the longest "
    "trained multi-char piece that prefixes the remainder, else emit "
    "the single character. Runs on the distinct-word table (the corpus "
    "is scanned once into word counts; segmentation cost is "
    "vocab-bounded, the standard trick production tokenizers use). "
    "Spark side gathers each word's in-vocab substrings into a "
    "broadcast-joined map column, then runs the whole greedy scan as a "
    "row-local F.aggregate fold over char positions — no UDF, no "
    "driver loop; per the verify recipe's list_reduce warning the "
    "DuckDB oracle instead replays the scan as a recursive CTE "
    "advancing every word one piece per iteration (HOF folds with "
    "branching struct accumulators mis-execute vectorized there). "
    "Output is integer/string only — float-free hash compare.",
    tags=("text", "tokenizer", "curation"),
)
def tokenizer_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _wp_encode_words(load_table(spark, sf_dir, "documents"))


def _wp_encode_words(
    docs: DataFrame, train_docs: DataFrame | None = None
) -> DataFrame:
    """(word, cnt, n_pieces, pieces): greedy longest-match WordPiece
    segmentation of ``docs``'s distinct-word table under merges trained
    on ``train_docs`` (defaults to ``docs`` — the same-corpus form);
    shared by tokenizer_wordpiece_encode, the tri-fertility table, and
    the split-disciplined fertility eval (train-only merges)."""
    _, merges = _wp_train(train_docs if train_docs is not None else docs)
    prods = merges.select(F.concat("x", "y").alias("piece")).distinct()
    words = _word_counts(docs)
    # each word's distinct multi-char substrings that are trained pieces,
    # gathered into one map column (same broadcast-gather shape as the
    # unigram prune DP)
    wsubs = (
        words.filter(F.length("word") >= 2)
        .select(
            "word",
            F.explode(
                F.expr(
                    "array_distinct(flatten(transform("
                    "sequence(1, length(word) - 1), "
                    "i -> transform(sequence(i + 1, length(word)), "
                    "e -> substring(word, i, e - i + 1)))))"
                )
            ).alias("piece"),
        )
        .join(F.broadcast(prods), "piece")
    )
    pmap = wsubs.groupBy("word").agg(
        F.map_from_entries(
            F.collect_list(F.struct("piece", F.lit(1)))
        ).alias("pm")
    )
    d = words.join(pmap, "word", "left").withColumn(
        "pm", F.coalesce(F.col("pm"), F.expr("cast(map() as map<string,int>)"))
    )

    def step(acc, i):
        rem = F.length("word") - acc["pos"] + 1
        lens = F.filter(
            F.sequence(F.lit(2), F.least(F.lit(_WP_PMAX), rem)),
            lambda l: F.try_element_at(
                F.col("pm"), F.col("word").substr(acc["pos"], l)
            ).isNotNull(),
        )
        ln = F.coalesce(F.array_max(lens), F.lit(1))
        take = F.struct(
            (acc["pos"] + ln).alias("pos"),
            (acc["n"] + 1).alias("n"),
            F.concat(
                acc["parts"], F.lit(" "), F.col("word").substr(acc["pos"], ln)
            ).alias("parts"),
        )
        return F.when(i == acc["pos"], take).otherwise(acc)

    init = F.struct(
        F.lit(1).alias("pos"), F.lit(0).alias("n"), F.lit("").alias("parts")
    )
    fin = F.aggregate(F.sequence(F.lit(1), F.length("word")), init, step)
    return d.select(
        "word",
        "cnt",
        fin["n"].cast("int").alias("n_pieces"),
        F.trim(fin["parts"]).alias("pieces"),
    )


@register(
    "tokenizer_fertility_tri",
    oracle=(
        f"""
    WITH RECURSIVE words AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (
            SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                   AS word
            FROM documents
        ) GROUP BY word
    ),
    v0 AS MATERIALIZED (
        SELECT word, cnt,
               array_to_string(regexp_extract_all(word, '.'), ' ') AS seq
        FROM words
    ),
    """
        + ",\n    ".join(
            _bpe_step_sql(f"v{t - 1}", t) for t in range(1, BPE_MERGES + 1)
        )
        + ",\n    "
        + _uni_seed_sql()
        + ",\n    "
        + ",\n    ".join(_uni_iter_sql(it) for it in range(1, _UNI_EM + 2))
        + ",\n    "
        + ",\n    ".join(
            _wp_step_sql("v0" if t == 1 else f"wv{t - 1}", t)
            for t in range(1, _WP_MERGES + 1)
        )
        + f""",
    vocabp AS MATERIALIZED (
        SELECT DISTINCT piece FROM (
            {" UNION ALL ".join(
                f"SELECT x || y AS piece FROM wb{t}"
                for t in range(1, _WP_MERGES + 1)
            )}
        )
    ),
    wrec AS (
        SELECT word, 1 AS pos, 0 AS n FROM words
        UNION ALL
        SELECT word, pos + l AS pos, n + 1 AS n
        FROM (
            SELECT r.word, r.pos, r.n,
                   COALESCE(MAX(CASE
                       WHEN length(v.piece) <= length(r.word) - r.pos + 1
                        AND substr(r.word, CAST(r.pos AS INT),
                                   CAST(length(v.piece) AS INT)) = v.piece
                       THEN length(v.piece) END), 1) AS l
            FROM wrec r LEFT JOIN vocabp v ON TRUE
            WHERE r.pos <= length(r.word)
            GROUP BY r.word, r.pos, r.n
        )
    ),
    bseg AS (
        SELECT word, cnt,
               CAST(len(regexp_split_to_array(seq, ' ')) AS BIGINT)
                   AS n_bpe
        FROM v{BPE_MERGES}
    ),
    useg AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n_uni
        FROM ({" UNION ALL ".join(
            f"SELECT word, piece FROM us{_UNI_EM + 1}_{k}"
            for k in range(1, _UNI_WMAX + 1)
        )}) GROUP BY word
    ),
    wseg AS (
        SELECT word, CAST(n AS BIGINT) AS n_wp
        FROM wrec WHERE pos > length(word)
    )
    SELECT CAST(length(b.word) AS INT) AS word_len,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(b.cnt) AS BIGINT) AS occurrences,
           ROUND(CAST(SUM(b.cnt * b.n_bpe) AS DOUBLE) / SUM(b.cnt), 6)
               AS bpe_pieces_per_word,
           ROUND(CAST(SUM(b.cnt * u.n_uni) AS DOUBLE) / SUM(b.cnt), 6)
               AS uni_pieces_per_word,
           ROUND(CAST(SUM(b.cnt * w.n_wp) AS DOUBLE) / SUM(b.cnt), 6)
               AS wp_pieces_per_word
    FROM bseg b
    JOIN useg u ON u.word = b.word
    JOIN wseg w ON w.word = b.word
    GROUP BY 1 ORDER BY word_len
    """
    ),
    doc="ALL-THREE tokenizer fertility table — the vocabulary-freeze "
    "review artifact: greedy BPE, Viterbi-EM unigram LM, and "
    "likelihood-merge WordPiece (segmented by its greedy longest-"
    "match encoder), trained on the SAME corpus and compared pieces-"
    "per-word by word length, frequency-weighted. Extends "
    "tokenizer_fertility_bpe_vs_unigram with the WordPiece column; "
    "all THREE training chains plus the recursive greedy encode "
    "replay inside one composed oracle statement, so the comparison "
    "itself is hash-checked cross-engine. Same common-word-set "
    "restriction as the pairwise table (unigram admits words up to "
    f"{_UNI_WMAX} chars). Deliberately NOT benched: re-runs three "
    "trainers by design.",
    tags=("text", "tokenizer", "bpe", "curation", "quality"),
)
def tokenizer_fertility_tri(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    segs = _bpe_uni_segs(docs)
    wseg = _wp_encode_words(docs).select(
        "word", F.col("n_pieces").cast("bigint").alias("n_wp")
    )
    return _fertility_by_len(segs.join(wseg, "word"), "bpe", "uni", "wp")


_CHUNK_W = 10  # tokens per non-overlapping dedup chunk


@register(
    "text_chunk_dedup_ratio",
    oracle=f"""
    WITH toks AS (
        SELECT source, {_TOKENS} AS t FROM documents
    ), chunks AS (
        SELECT source,
               {hash64_sql(f"array_to_string(t[s:s + {_CHUNK_W - 1}], ' ')")} AS h
        FROM (
            SELECT source, t,
                   unnest(generate_series(1, greatest(len(t), 1), {_CHUNK_W})) AS s
            FROM toks
        )
    ), counted AS (
        SELECT source, COUNT(*) OVER (PARTITION BY h) AS cnt FROM chunks
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_chunks,
           ROUND(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*), 6) AS dup_ratio
    FROM counted
    GROUP BY source
    """,
    doc=f"Substring-level exact dedup audit (the Lee et al. 'deduplicating "
    f"training data' shape, non-overlapping {_CHUNK_W}-token chunks instead "
    "of suffix arrays): chunk every document array-side, hash each chunk to "
    "8 bytes, count corpus-wide occurrences of each hash, and report the "
    "per-source fraction of chunk occurrences that are duplicated ANYWHERE "
    "in the corpus (cross-doc boilerplate AND within-doc repetition). Only "
    "(hash, source) ever shuffles — chunk text dies at the map side, so "
    "shuffle bytes are ~16/char-width of the naive text-keyed plan. Two "
    "exchanges total: by hash for the occurrence window, by source for the "
    "rollup.",
    tags=("text", "dedup", "D1", "A10"),
)
def text_chunk_dedup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", tokenize(F.col("text")).alias("t"))
    chunks = toks.select(
        "source",
        F.explode(
            F.expr(
                f"transform(sequence(0, greatest(size(t) - 1, 0), {_CHUNK_W}), "
                f"s -> slice(t, s + 1, {_CHUNK_W}))"
            )
        ).alias("chunk_toks"),
    ).select("source", hash64(F.concat_ws(" ", "chunk_toks")).alias("h"))
    counted = chunks.select(
        "source",
        F.count(F.lit(1)).over(Window.partitionBy("h")).alias("cnt"),
    )
    return counted.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum((F.col("cnt") > 1).cast("long")).alias("n_dup_chunks"),
        F.round(
            F.sum((F.col("cnt") > 1).cast("double")) / F.count(F.lit(1)), 6
        ).alias("dup_ratio"),
    )


@register(
    "text_repetition_rules",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKENS} AS t FROM documents
    ), bg AS (
        SELECT doc_id,
               {hash64_sql("t[s] || ' ' || t[s + 1]")} AS bh
        FROM (SELECT doc_id, t,
                     unnest(generate_series(1, len(t) - 1, 1)) AS s
              FROM toks WHERE len(t) >= 2)
    ), bgc AS (
        SELECT doc_id, bh, CAST(COUNT(*) AS BIGINT) AS c
        FROM bg GROUP BY doc_id, bh
    ), bstats AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_bigrams,
               CAST(MAX(c) AS BIGINT) AS top_bigram_n,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams
        FROM bgc GROUP BY doc_id
    ), tstats AS (
        SELECT doc_id,
               CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_tokens
        FROM toks
    )
    SELECT ts.doc_id,
           ts.n_tokens,
           ROUND(1.0 - CAST(ts.n_distinct_tokens AS DOUBLE) / ts.n_tokens, 6)
               AS dup_token_frac,
           bs.n_bigrams,
           ROUND(CAST(bs.top_bigram_n AS DOUBLE) / bs.n_bigrams, 6)
               AS top_bigram_share,
           ROUND(1.0 - CAST(bs.n_distinct_bigrams AS DOUBLE) / bs.n_bigrams, 6)
               AS dup_bigram_frac,
           CASE WHEN CAST(bs.top_bigram_n AS DOUBLE) / bs.n_bigrams <= 0.08
                 AND 1.0 - CAST(bs.n_distinct_bigrams AS DOUBLE) / bs.n_bigrams
                     <= 0.08
                 AND 1.0 - CAST(ts.n_distinct_tokens AS DOUBLE) / ts.n_tokens
                     <= 0.65
                THEN 1 ELSE 0 END AS passes_repetition
    FROM tstats ts JOIN bstats bs ON ts.doc_id = bs.doc_id
    """,
    doc="Repetition-based quality gate (the Gopher-rules shape): per doc, "
    "duplicate-token fraction, the most-frequent-bigram share, and the "
    "duplicate-bigram fraction, folded into a pass/reject flag "
    "(top-bigram share, dup-bigram and dup-token fractions each capped "
    "at a corpus-calibrated quantile — repetitive boilerplate fails, "
    "normal docs pass; production recalibrates per corpus exactly as "
    "the Gopher thresholds were tuned to web text). Token stats are pure "
    "map-side array ops; bigram stats hash each bigram to 8 bytes and "
    "aggregate (doc_id, hash) with map-side combine, so the only "
    "shuffled payload is per-doc distinct bigram counts — never text. "
    "Complements text_quality_score's stopword/punctuation gate; "
    "together they are the standard pre-training document filter pair.",
    tags=("text", "curation", "A10"),
    bench=True,
)
def text_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("t"))
    tstats = toks.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("t")).cast("long").alias("n_distinct_tokens"),
    )
    bg = (
        toks.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "s -> concat(t[s - 1], ' ', t[s]))"
                )
            ).alias("bigram"),
        )
        .select("doc_id", hash64(F.col("bigram")).alias("bh"))
    )
    bgc = bg.groupBy("doc_id", "bh").agg(F.count(F.lit(1)).alias("c"))
    bstats = bgc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        F.max("c").cast("long").alias("top_bigram_n"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_bigrams"),
    )
    top_share = F.col("top_bigram_n").cast("double") / F.col("n_bigrams")
    dup_bg = 1.0 - F.col("n_distinct_bigrams").cast("double") / F.col("n_bigrams")
    return tstats.join(bstats, "doc_id").select(
        "doc_id",
        "n_tokens",
        F.round(
            1.0 - F.col("n_distinct_tokens").cast("double") / F.col("n_tokens"),
            6,
        ).alias("dup_token_frac"),
        "n_bigrams",
        F.round(top_share, 6).alias("top_bigram_share"),
        F.round(dup_bg, 6).alias("dup_bigram_frac"),
        F.when(
            (top_share <= 0.08)
            & (dup_bg <= 0.08)
            & (
                1.0
                - F.col("n_distinct_tokens").cast("double") / F.col("n_tokens")
                <= 0.65
            ),
            1,
        )
        .otherwise(0)
        .alias("passes_repetition"),
    )


@register(
    "text_term_burstiness",
    oracle=f"""
    WITH counts AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest({_TOKENS}) AS term FROM documents)
        GROUP BY doc_id, term
    ), ndocs AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
    ), term_stats AS (
        SELECT term,
               CAST(COUNT(*) AS BIGINT) AS df,
               CAST(SUM(c) AS BIGINT) AS tf,
               CAST(SUM(c * c) AS BIGINT) AS tf2
        FROM counts GROUP BY term
    )
    SELECT term, df, tf,
           ROUND(CAST(tf AS DOUBLE) / df, 6) AS mean_in_docs,
           ROUND((CAST(tf2 AS DOUBLE) / ndocs.n
                  - (CAST(tf AS DOUBLE) / ndocs.n)
                    * (CAST(tf AS DOUBLE) / ndocs.n))
                 / (CAST(tf AS DOUBLE) / ndocs.n), 6) AS burstiness_vmr
    FROM term_stats CROSS JOIN ndocs
    WHERE tf >= 50
    ORDER BY burstiness_vmr DESC, term
    LIMIT 30
    """,
    doc="Term burstiness (Church-Gale): variance-to-mean ratio of a "
    "term's per-document count across the corpus (zeros included via "
    "the moment identities — no dense doc x term matrix ever exists). "
    "VMR ~ 1 means Poisson scatter (function words); VMR >> 1 means "
    "the term clumps into few documents (topical/boilerplate) — the "
    "signal separating content terms from glue in quality filtering "
    "and stopword induction. All moments are exact integer sums "
    "(map-side combine on (doc, term) then term); the single division "
    "happens once at the end against the 1-row doc count broadcast.",
    tags=("text", "stats", "A7", "A11"),
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ndocs = docs.agg(F.count(F.lit(1)).alias("n"))
    term_stats = counts.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").cast("long").alias("tf"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("tf2"),
    )
    mean_all = F.col("tf").cast("double") / F.col("n")
    vmr = (F.col("tf2").cast("double") / F.col("n") - mean_all * mean_all) / mean_all
    return (
        term_stats.filter(F.col("tf") >= 50)
        .crossJoin(F.broadcast(ndocs))
        .select(
            "term",
            "df",
            "tf",
            F.round(F.col("tf").cast("double") / F.col("df"), 6).alias(
                "mean_in_docs"
            ),
            F.round(vmr, 6).alias("burstiness_vmr"),
        )
        .orderBy(F.desc("burstiness_vmr"), "term")
        .limit(30)
    )


@register(
    "text_heaps_law_fit",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
    ), doc_tokens AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks
        FROM toks GROUP BY doc_id
    ), first_seen AS (
        SELECT term, MIN(doc_id) AS first_doc FROM toks GROUP BY term
    ), new_terms AS (
        SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_new
        FROM first_seen GROUP BY first_doc
    ), curve AS (
        SELECT d.doc_id,
               SUM(d.n_toks) OVER (ORDER BY d.doc_id) AS cum_tokens,
               SUM(COALESCE(nt.n_new, 0)) OVER (ORDER BY d.doc_id)
                   AS cum_vocab
        FROM doc_tokens d LEFT JOIN new_terms nt ON nt.doc_id = d.doc_id
    ), pts AS (
        SELECT ln(CAST(cum_tokens AS DOUBLE)) AS lx,
               ln(CAST(cum_vocab AS DOUBLE)) AS ly
        FROM curve WHERE cum_vocab > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(regr_slope(ly, lx), 6) AS heaps_beta,
           ROUND(exp(regr_intercept(ly, lx)), 6) AS heaps_k,
           ROUND(corr(ly, lx) * corr(ly, lx), 6) AS r_squared
    FROM pts
    """,
    doc="Heaps'-law fit — vocabulary growth V(n) = K·n^beta over the "
    "corpus in doc_id order, the companion diagnostic to text_zipf_fit "
    "(natural text: beta ~ 0.4-0.6; duplicated or templated corpora "
    "flatten early, OCR noise inflates beta toward 1). The growth curve "
    "needs NO per-prefix distinct scans: each term contributes exactly "
    "once at its FIRST document (min doc_id per term — one term-keyed "
    "aggregate), so cumulative new-term counts over doc order ARE the "
    "vocabulary curve. Cumulative windows run over doc-cardinality "
    "rows; the regression is one scalar aggregate. Sizes tokenizer "
    "vocab budgets and flags dedup-starved corpora before training.",
    tags=("text", "llm", "stats", "A7", "A11"),
)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("term")
    )
    doc_tokens = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_toks"))
    new_terms = (
        toks.groupBy("term")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy(F.col("first_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    # two-level running sums (the multimodal_bytes_shard_pack pattern):
    # per-doc rows are data-sized at 100 TB, so a global ORDER BY window
    # would single-partition them — cumsum within doc_id-range chunks
    # plus broadcast per-chunk offsets instead
    per_doc = (
        doc_tokens.join(new_terms, "doc_id", "left")
        .select(
            "doc_id",
            "n_toks",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            F.expr("doc_id div 1024").alias("chunk"),
        )
    )
    w_chunk_off = Window.orderBy("chunk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    chunk_off = (
        per_doc.groupBy("chunk")
        .agg(
            F.sum("n_toks").alias("ct"), F.sum("n_new").alias("cv")
        )
        .select(
            "chunk",
            F.sum("ct").over(w_chunk_off).alias("off_t"),
            F.sum("cv").over(w_chunk_off).alias("off_v"),
        )
        .na.fill({"off_t": 0, "off_v": 0})
    )
    w_intra = Window.partitionBy("chunk").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    curve = per_doc.join(F.broadcast(chunk_off), "chunk").select(
        (F.col("off_t") + F.sum("n_toks").over(w_intra)).alias("cum_tokens"),
        (F.col("off_v") + F.sum("n_new").over(w_intra)).alias("cum_vocab"),
    )
    pts = curve.filter(F.col("cum_vocab") > 0).select(
        F.log(F.col("cum_tokens").cast("double")).alias("lx"),
        F.log(F.col("cum_vocab").cast("double")).alias("ly"),
    )
    return pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.round(F.regr_slope("ly", "lx"), 6).alias("heaps_beta"),
        F.round(F.exp(F.regr_intercept("ly", "lx")), 6).alias("heaps_k"),
        F.round(F.corr("ly", "lx") * F.corr("ly", "lx"), 6).alias("r_squared"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — the MOSS
# local document fingerprinting scheme)
# ---------------------------------------------------------------------------

_WINNOW_K = 8  # character k-gram length
_WINNOW_W = 8  # winnowing window (guarantee threshold t = w + k - 1 = 15)

#: DuckDB construction of the winnowed fingerprint set per document:
#: k-gram hashes over the whitespace-normalized text, min per sliding
#: window of w consecutive hashes, distinct. (The classic presentation
#: computes k-gram hashes with a ROLLING polynomial update — an O(1)
#: per-position trick for sequential scanners; under a vectorized
#: engine each k-gram is hashed directly, same output contract.)
_WINNOW_FP_SQL = f"""
    norm AS (
        SELECT doc_id, source, {_NORMALIZED_SQL} AS nt FROM documents
    ), kg AS (
        SELECT doc_id, source,
               list_transform(
                   range(1, length(nt) - {_WINNOW_K} + 2),
                   i -> {hash64_sql(f"substr(nt, CAST(i AS INT), {_WINNOW_K})")}
               ) AS h
        FROM norm
        WHERE length(nt) >= {_WINNOW_K + _WINNOW_W - 1}
    ), fp AS (
        SELECT doc_id, source,
               CAST(len(h) AS BIGINT) AS n_kgrams,
               list_distinct(list_transform(
                   range(1, len(h) - {_WINNOW_W} + 2),
                   j -> list_min(h[CAST(j AS INT):CAST(j AS INT) + {_WINNOW_W} - 1])
               )) AS fps
        FROM kg
    )
"""


@register(
    "text_winnow_density",
    oracle=f"""
    WITH {_WINNOW_FP_SQL}
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_kgrams) AS BIGINT) AS total_kgrams,
           CAST(SUM(len(fps)) AS BIGINT) AS total_fingerprints,
           ROUND(CAST(SUM(len(fps)) AS DOUBLE) / SUM(n_kgrams), 6)
               AS density,
           ROUND(2.0 / ({_WINNOW_W} + 1), 6) AS density_theory
    FROM fp
    GROUP BY source
    ORDER BY source
    """,
    doc="Winnowing fingerprint density audit (Schleimer et al. 2003, "
    "the MOSS scheme): per document, hash every "
    f"{_WINNOW_K}-char k-gram of the normalized text, keep the MINIMUM "
    f"hash of each sliding window of {_WINNOW_W} consecutive k-gram "
    "hashes, dedupe — the winnowed fingerprint set, which GUARANTEES "
    "any shared substring of length >= w + k - 1 = "
    f"{_WINNOW_K + _WINNOW_W - 1} chars produces a shared fingerprint. "
    "This query audits the selection against the paper's expected "
    "density 2/(w+1): per source, selected/total k-grams next to the "
    "theoretical value — the same measured-vs-theory discipline as "
    "dedup_lsh_recall_audit. Entirely map-side per document (array "
    "HOFs; no shuffle until the per-source rollup); the classic "
    "rolling-hash update is a sequential-scanner optimization, "
    "irrelevant under vectorized execution — the selection scheme, "
    "not the hash recurrence, is what wins at scale.",
    tags=("text", "fingerprint", "dedup"),
)
def text_winnow_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = _winnow_fingerprints(spark, sf_dir)
    return (
        fp.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_kgrams").cast("bigint").alias("total_kgrams"),
            F.sum(F.size("fps")).cast("bigint").alias("total_fingerprints"),
            F.round(
                F.sum(F.size("fps")).cast("double") / F.sum("n_kgrams"), 6
            ).alias("density"),
            F.round(F.lit(2.0 / (_WINNOW_W + 1)), 6).alias("density_theory"),
        )
        .orderBy("source")
    )


def _winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc winnowed fingerprint set: (doc_id, source, n_kgrams,
    fps array). Map-side only — see text_winnow_density docstring."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    d = (
        docs.repartition(
            spark.sparkContext.defaultParallelism, F.col("doc_id")
        )
        .select("doc_id", "source", norm.alias("nt"))
        .filter(F.length("nt") >= _WINNOW_K + _WINNOW_W - 1)
        .select(
            "doc_id",
            "source",
            F.split(F.col("nt"), "").alias("chars"),
        )
        .select(
            "doc_id",
            "source",
            F.transform(
                F.sequence(
                    F.lit(1), F.size("chars") - _WINNOW_K + 1
                ),
                lambda i: hash64(
                    F.array_join(F.slice("chars", i, _WINNOW_K), "")
                ),
            ).alias("h"),
        )
    )
    return d.select(
        "doc_id",
        "source",
        F.size("h").cast("bigint").alias("n_kgrams"),
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("h") - _WINNOW_W + 1),
                lambda j: F.array_min(F.slice("h", j, _WINNOW_W)),
            )
        ).alias("fps"),
    )


#: Max document frequency for an index fingerprint — MOSS's own rule
#: ("ignore matches appearing in more than N files"): a fingerprint
#: shared by df docs costs df^2 in the pair join, and fingerprints
#: common to half the corpus are boilerplate, not copying. With the
#: cap the join cost is bounded by cap * postings — linear.
_WINNOW_DF_CAP = 64


@register(
    "dedup_winnow_overlap",
    oracle=f"""
    WITH {_WINNOW_FP_SQL},
    posts AS (
        SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp, unnest(fps) AS f
        FROM fp
    ), rare AS (
        SELECT f FROM posts GROUP BY f
        HAVING COUNT(*) <= {_WINNOW_DF_CAP}
    ), idx AS (
        SELECT p.doc_id, p.n_fp, p.f FROM posts p JOIN rare USING (f)
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.n_fp AS na, b.n_fp AS nb,
               CAST(COUNT(*) AS BIGINT) AS shared
        FROM idx a JOIN idx b
          ON a.f = b.f AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b, shared,
           ROUND(CAST(shared AS DOUBLE) / LEAST(na, nb), 6)
               AS containment
    FROM pairs
    ORDER BY shared DESC, doc_a, doc_b
    LIMIT 25
    """,
    doc="Winnowing-fingerprint overlap ranking — the plagiarism/"
    "boilerplate detector MOSS runs on the winnowed sets: explode each "
    "doc's fingerprints (2/(w+1) of its k-grams — the index is ~4x "
    "smaller than a full shingle index for the same guarantee), drop "
    f"fingerprints appearing in more than {_WINNOW_DF_CAP} docs (the "
    "cap MOSS itself applies — such fingerprints are boilerplate and "
    "cost df^2 in the join; with the cap, candidate cost is cap x "
    "postings, linear in the corpus), then an inverted-index "
    "self-join on the 8-byte fingerprint with per-pair shared count "
    "and containment (shared / smaller FULL set). Top-25 pinned by "
    "(shared desc, doc_a, doc_b) compiles to TakeOrderedAndProject. "
    "Any two docs sharing a run of >= "
    f"{_WINNOW_K + _WINNOW_W - 1} normalized chars surfaces here "
    "unless that run floods more than the cap's worth of the corpus — "
    "the local guarantee winnowing provides and random sampling "
    "doesn't. Set sizes ride the exploded rows (no separate sizes "
    "join), mirroring dedup_ngram_jaccard's plan shape.",
    tags=("text", "fingerprint", "dedup", "scale-twin"),
)
def dedup_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = _winnow_fingerprints(spark, sf_dir)
    posts = barrier(
        fp.select(
            "doc_id",
            F.size("fps").cast("bigint").alias("n_fp"),
            F.explode("fps").alias("f"),
        ),
        "posts",
    )  # feeds the df filter AND both join sides
    rare = (
        posts.groupBy("f")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _WINNOW_DF_CAP)
        .select("f")
    )
    idx = posts.join(rare, "f")
    a, b = idx.alias("a"), idx.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.f") == F.col("b.f"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_fp").alias("na"),
            F.col("b.n_fp").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            "shared",
            F.round(
                F.col("shared").cast("double") / F.least("na", "nb"), 6
            ).alias("containment"),
        )
        .orderBy(F.desc("shared"), "doc_a", "doc_b")
        .limit(25)
    )


#: Max k-gram gap between consecutive same-diagonal fingerprint matches
#: within one run: winnowing guarantees a selected fingerprint in every
#: window of w consecutive k-grams, so inside a genuinely shared region
#: matches on the shared diagonal are never more than w apart — a
#: larger gap means the shared region ended.
_RUN_GAP = _WINNOW_W

#: Minimum clone span (chars) for a run to be reported: single shared
#: fingerprints (span = k = 8) are the overlap COUNTER's business
#: (dedup_winnow_overlap); runs exist to find verbatim clones, the
#: scaled-down analogue of Lee et al. 2022's >= 50-token threshold.
_RUN_MIN_CHARS = 24

#: longest-run tiebreak encoding: run_chars * 1e5 + run_fps packs the
#: (span, support) pair into one BIGINT max both engines order
#: identically; spans are < 1e5 by construction (doc length cap).
_RUN_PACK = 100_000


#: positioned-winnowing postings chain (fp -> positions -> df-capped
#: inverted index `ip`) — shared by dedup_substring_clone_runs and the
#: postings-cap executed-metric gate.
_WINNOW_POS_CHAIN = f"""
    WITH {_WINNOW_FP_SQL},
    pf AS (
        SELECT doc_id, h,
               list_distinct(list_transform(
                   range(1, len(h) - {_WINNOW_W} + 2),
                   j -> CAST(j - 1 + list_position(
                            h[CAST(j AS INT):CAST(j AS INT) + {_WINNOW_W} - 1],
                            list_min(h[CAST(j AS INT):CAST(j AS INT) + {_WINNOW_W} - 1])
                        ) AS INT)
               )) AS sel
        FROM kg
    ),
    posts AS (
        SELECT doc_id, pos, h[pos] AS f
        FROM (SELECT doc_id, h, unnest(sel) AS pos FROM pf)
    ),
    rare AS (
        SELECT f FROM posts GROUP BY f
        HAVING COUNT(DISTINCT doc_id) <= {_WINNOW_DF_CAP}
    ),
    ip AS (SELECT p.* FROM posts p JOIN rare USING (f))"""


def _winnow_pos_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df-capped POSITIONED postings index (doc_id, pos, f): winnow
    selection keeps distinct argmin POSITIONS (overlapping windows
    re-pick the same argmin; the fingerprint is recovered as h[pos] —
    position determines it, so no struct-distinct is needed on either
    engine), then fingerprints seen in more than _WINNOW_DF_CAP docs
    are dropped (the MOSS cap). Eagerly checkpointed: it feeds both
    sides of the pair self-join in two registrations. Mirrors
    _WINNOW_POS_CHAIN's `ip` CTE."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    w, k = _WINNOW_W, _WINNOW_K
    kg = (
        docs.repartition(
            spark.sparkContext.defaultParallelism, F.col("doc_id")
        )
        .select("doc_id", norm.alias("nt"))
        .filter(F.length("nt") >= k + w - 1)
        .select("doc_id", F.split(F.col("nt"), "").alias("chars"))
        .select(
            "doc_id",
            F.transform(
                F.sequence(F.lit(1), F.size("chars") - k + 1),
                lambda i: hash64(F.array_join(F.slice("chars", i, k), "")),
            ).alias("h"),
        )
    )

    def _win_min(j):
        return F.array_min(F.slice("h", j, w))

    posts = barrier(
        kg.select(
            "doc_id",
            "h",
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("h") - w + 1),
                    lambda j: (
                        j
                        - 1
                        + F.array_position(
                            F.slice("h", j, w), _win_min(j)
                        )
                    ).cast("int"),
                )
            ).alias("sel"),
        )
        .select("doc_id", "h", F.explode("sel").alias("pos"))
        .select(
            "doc_id",
            "pos",
            F.element_at("h", F.col("pos")).alias("f"),
        ),
        "posts",
    )
    rare = (
        posts.groupBy("f")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= _WINNOW_DF_CAP)
        .select("f")
    )
    return barrier(posts.join(rare, "f"), "winnow_pos_index")


@register(
    "dedup_substring_clone_runs",
    oracle=_WINNOW_POS_CHAIN
    + f""",
    m AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos - b.pos AS diag, a.pos AS pos_a
        FROM ip a JOIN ip b
          ON a.f = b.f AND a.doc_id < b.doc_id
    ),
    flagged AS (
        SELECT doc_a, doc_b, diag, pos_a,
               CASE WHEN pos_a - LAG(pos_a) OVER (
                        PARTITION BY doc_a, doc_b, diag ORDER BY pos_a)
                        > {_RUN_GAP}
                    THEN 1 ELSE 0 END AS brk
        FROM m
    ),
    numbered AS (
        SELECT doc_a, doc_b, diag, pos_a,
               SUM(brk) OVER (
                   PARTITION BY doc_a, doc_b, diag ORDER BY pos_a
                   ROWS UNBOUNDED PRECEDING) AS run_id
        FROM flagged
    ),
    runs AS (
        SELECT doc_a, doc_b, diag, run_id,
               CAST(COUNT(*) AS BIGINT) AS run_fps,
               CAST(MAX(pos_a) - MIN(pos_a) + {_WINNOW_K} AS BIGINT)
                   AS run_chars
        FROM numbered GROUP BY 1, 2, 3, 4
        HAVING MAX(pos_a) - MIN(pos_a) + {_WINNOW_K} >= {_RUN_MIN_CHARS}
    )
    SELECT doc_a, doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           CAST(MAX(run_chars * {_RUN_PACK} + run_fps) // {_RUN_PACK}
                AS BIGINT) AS longest_run_chars,
           CAST(MAX(run_chars * {_RUN_PACK} + run_fps) % {_RUN_PACK}
                AS BIGINT) AS longest_run_fps,
           CAST(SUM(run_chars) AS BIGINT) AS total_run_chars
    FROM runs
    GROUP BY doc_a, doc_b
    ORDER BY longest_run_chars DESC, doc_a, doc_b
    LIMIT 25
    """,
    doc="Verbatim substring-clone detector — the positional layer the "
    "fingerprint-count overlap (dedup_winnow_overlap) cannot see, and "
    "the scaled-down shape of Lee et al. 2022's exact-substring dedup "
    "(arXiv:2107.06499, which removes >= 50-token verbatim clones "
    "suffix-array-style): winnowed fingerprints are kept WITH their "
    "k-gram positions (pos = leftmost argmin of each window — "
    "deterministic, oracle-exact), the capped inverted-index self-join "
    "matches them across docs, and matches falling on the same "
    "DIAGONAL (pos_a - pos_b) with gaps <= w collapse into runs via "
    "gaps-and-islands (lag > w flags a break; running sum numbers the "
    "islands) — a run spanning c chars certifies a shared substring "
    "of >= c - 2(w-1) chars, and every shared substring of >= "
    f"{_WINNOW_K + _WINNOW_W - 1} chars lands at least one match on "
    "its diagonal (the winnowing guarantee, made positional). Reports "
    f"per pair the runs >= {_RUN_MIN_CHARS} chars: count, longest "
    "span + its fingerprint support (packed-BIGINT argmax — "
    "cross-engine deterministic), and total cloned chars; top-25 by "
    "longest span. 100 TB shape: everything rides the same "
    f"df<={_WINNOW_DF_CAP}-capped postings join as the overlap query "
    "(cap x postings candidates, linear in the corpus); the run "
    "window partitions by (pair, diagonal) — many small partitions, "
    "never a global sort; no suffix array and no driver-side state.",
    tags=("text", "fingerprint", "dedup", "curation"),
    bench=True,
)
def dedup_substring_clone_runs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    ip = _winnow_pos_index(spark, sf_dir)
    a = ip.select(
        F.col("doc_id").alias("doc_a"),
        F.col("pos").alias("pos_a"),
        "f",
    )
    b = ip.select(
        F.col("doc_id").alias("doc_b"),
        F.col("pos").alias("pos_b"),
        F.col("f").alias("fb"),
    )
    m = a.join(
        b, (F.col("f") == F.col("fb")) & (F.col("doc_a") < F.col("doc_b"))
    ).select(
        "doc_a",
        "doc_b",
        (F.col("pos_a") - F.col("pos_b")).alias("diag"),
        "pos_a",
    )
    ww = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    numbered = m.withColumn(
        "brk",
        F.when(
            F.col("pos_a") - F.lag("pos_a").over(ww) > _RUN_GAP, 1
        ).otherwise(0),
    ).withColumn(
        "run_id",
        F.sum("brk").over(
            ww.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    runs = (
        numbered.groupBy("doc_a", "doc_b", "diag", "run_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("run_fps"),
            (F.max("pos_a") - F.min("pos_a") + _WINNOW_K)
            .cast("bigint")
            .alias("run_chars"),
        )
        .filter(F.col("run_chars") >= _RUN_MIN_CHARS)
    )
    packed = F.max(
        F.col("run_chars") * _RUN_PACK + F.col("run_fps")
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_runs"),
            (packed / _RUN_PACK).cast("bigint").alias("longest_run_chars"),
            (packed % _RUN_PACK).cast("bigint").alias("longest_run_fps"),
            F.sum("run_chars").cast("bigint").alias("total_run_chars"),
        )
        .orderBy(F.desc("longest_run_chars"), "doc_a", "doc_b")
        .limit(25)
    )


@register(
    "sample_es_topk",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, lang, n_chars,
               -- Efraimidis-Spirakis key ln(u)/w, u = hash-uniform in
               -- (0,1), quantized to integer pico-units so the top-k
               -- ordering is engine-exact
               CAST(FLOOR(
                   LN((CAST({hash64_sql("'estk|' || CAST(doc_id AS VARCHAR)")}
                        % 1000000 AS DOUBLE) + 1) / 1000002.0)
                   / n_chars * 1000000000000 + 0.5) AS BIGINT) AS key_pico
        FROM documents
        WHERE n_chars > 0
    )
    SELECT doc_id, lang, n_chars, key_pico
    FROM keyed
    ORDER BY key_pico DESC, doc_id
    LIMIT 25
    """,
    doc="Fixed-size weighted sample WITHOUT replacement via the "
    "Efraimidis-Spirakis one-pass scheme (equivalently the Gumbel "
    "top-k trick): per doc draw u from the portable-hash uniform, key "
    "= u^(1/w) with w = n_chars — taken in log form ln(u)/w for "
    "numerics — and keep the k largest keys. Unlike the Bernoulli "
    "sampler (sample_weighted), the output size is EXACTLY k and "
    "inclusion probabilities are proportional-to-size without "
    "replacement — the sampler a fixed token-budget corpus draw "
    "needs. One scan + TakeOrdered top-k (no shuffle of the corpus); "
    "keys quantized to integer pico-units so the selection and its "
    "ordering hash-match across engines; deterministic across runs "
    "and partitionings where rand() would be neither.",
    tags=("text", "sampling"),
)
def sample_es_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u = (
        (
            hash64(F.concat(F.lit("estk|"), F.col("doc_id").cast("string")))
            % 1000000
        ).cast("double")
        + 1
    ) / 1000002.0
    key_pico = (
        F.floor(F.log(u) / F.col("n_chars") * F.lit(1_000_000_000_000) + 0.5)
        .cast("bigint")
        .alias("key_pico")
    )
    return (
        docs.filter(F.col("n_chars") > 0)
        .select("doc_id", "lang", "n_chars", key_pico)
        .orderBy(F.desc("key_pico"), "doc_id")
        .limit(25)
    )


def _removal_plan_frame(docs: DataFrame) -> DataFrame:
    """Core of text_dedup_removal_plan, factored for invariant tests:
    given (doc_id, text), emit the merged byte-range removal spans of
    all duplicated non-overlapping {_CHUNK_W}-token chunks that are not
    the corpus-wide FIRST occurrence of their content."""
    toks = docs.select(
        "doc_id", tokenize(F.col("text")).alias("t")
    )
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.expr(f"sequence(0, greatest(size(t) - 1, 0), {_CHUNK_W})")
        ).alias("s0"),
        "t",
    ).select(
        "doc_id",
        F.expr(f"s0 div {_CHUNK_W}").alias("chunk_idx"),
        (F.col("s0") + 1).alias("s"),
        F.least(F.col("s0") + _CHUNK_W, F.size("t")).alias("e"),
        hash64(
            F.concat_ws(" ", F.expr(f"slice(t, s0 + 1, {_CHUNK_W})"))
        ).alias("h"),
    )
    wfirst = Window.partitionBy("h").orderBy(F.asc("doc_id"), F.asc("s"))
    removed = (
        chunks.withColumn("rn", F.row_number().over(wfirst))
        .filter(F.col("rn") > 1)
        .drop("rn", "h")
    )
    wisl = Window.partitionBy("doc_id").orderBy(F.asc("chunk_idx"))
    spans = (
        removed.withColumn(
            "grp", F.col("chunk_idx") - F.row_number().over(wisl)
        )
        .groupBy("doc_id", "grp")
        .agg(F.min("s").alias("smin"), F.max("e").alias("emax"))
    )
    # char offsets from token prefix lengths (the corpus invariant —
    # text == single-space-joined lowercase tokens — is what makes the
    # byte arithmetic exact; ASCII corpus, so bytes == chars)
    plen = (
        "aggregate(slice(t, 1, {k}), 0L, (a, x) -> a + length(x))"
    )
    return (
        spans.join(toks, "doc_id")
        .select(
            "doc_id",
            (
                F.expr(plen.format(k="smin - 1")) + (F.col("smin") - 1)
            )
            .cast("bigint")
            .alias("span_start"),
            (F.expr(plen.format(k="emax")) + (F.col("emax") - 1))
            .cast("bigint")
            .alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start"))
            .cast("bigint")
            .alias("bytes_removed"),
        )
        .orderBy("doc_id", "span_start")
    )


@register(
    "text_dedup_removal_plan",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKENS} AS t FROM documents
    ), chunks AS (
        SELECT doc_id,
               (s - 1) // {_CHUNK_W} AS chunk_idx,
               s,
               LEAST(s + {_CHUNK_W - 1}, len(t)) AS e,
               {hash64_sql(f"array_to_string(t[s:s + {_CHUNK_W - 1}], ' ')")} AS h
        FROM (
            SELECT doc_id, t,
                   unnest(generate_series(1, greatest(len(t), 1), {_CHUNK_W})) AS s
            FROM toks
        )
    ), removed AS (
        SELECT doc_id, chunk_idx, s, e
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY h ORDER BY doc_id, s) AS rn
            FROM chunks
        ) WHERE rn > 1
    ), spans AS (
        SELECT doc_id, MIN(s) AS smin, MAX(e) AS emax
        FROM (
            SELECT *, chunk_idx - ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY chunk_idx) AS grp
            FROM removed
        )
        GROUP BY doc_id, grp
    )
    SELECT sp.doc_id,
           CAST(COALESCE(list_sum(list_transform(tk.t[1:sp.smin - 1],
                    x -> length(x))), 0) + (sp.smin - 1) AS BIGINT)
               AS span_start,
           CAST(COALESCE(list_sum(list_transform(tk.t[1:sp.emax],
                    x -> length(x))), 0) + (sp.emax - 1) AS BIGINT)
               AS span_end,
           CAST((COALESCE(list_sum(list_transform(tk.t[1:sp.emax],
                    x -> length(x))), 0) + (sp.emax - 1))
                - (COALESCE(list_sum(list_transform(tk.t[1:sp.smin - 1],
                    x -> length(x))), 0) + (sp.smin - 1)) AS BIGINT)
               AS bytes_removed
    FROM spans sp JOIN toks tk USING (doc_id)
    ORDER BY sp.doc_id, span_start
    """,
    doc="Substring-dedup BYTE-RANGE REMOVAL PLAN — the artifact a "
    "training pipeline actually consumes (Lee et al. 2022, "
    "'Deduplicating Training Data Makes Language Models Better': "
    "remove every duplicated span, keep one occurrence). "
    f"text_chunk_dedup_ratio reports the ratio; this emits the plan: "
    f"non-overlapping {_CHUNK_W}-token chunks are hashed corpus-wide, "
    "every occurrence EXCEPT the global first (ordered doc_id, then "
    "offset — deterministic survivor) is marked for removal, adjacent "
    "removed chunks merge into maximal spans via gaps-and-islands "
    "(chunk_idx minus rank), and each span is emitted as exact byte "
    "offsets (doc_id, span_start, span_end, bytes_removed) computed "
    "from token prefix lengths — exact because the corpus invariant "
    "text == single-space-joined tokens holds (ASCII, bytes == "
    "chars). Scale shape: only (hash, doc_id, offset) shuffles for "
    "the first-occurrence window (chunk text dies map-side), islands "
    "shuffle per doc, and the prefix-length folds run once per SPAN, "
    "not per chunk. Invariants (spans non-overlapping, within doc "
    "bounds, merging verified on a handcrafted corpus) are pinned in "
    "tests/test_new_ops_invariants.py.",
    tags=("text", "dedup", "D1", "A10", "curation"),
    bench=True,
)
def text_dedup_removal_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _removal_plan_frame(load_table(spark, sf_dir, "documents"))


#: Hashed feature space for the linear quality classifier (fasttext's
#: trick: features are hash buckets, no vocabulary table ships with the
#: model). Power of two so the modulo is cheap everywhere.
_CLF_DIM = 4096

#: Deterministic stand-in weights: w(b) = ((portable_hash('w' || b) mod
#: 2001) - 1000) / 1000 ∈ [-1, 1]. A real model would broadcast its
#: trained weight table; the INFERENCE plan — hashed features, weight
#: lookup, per-doc dot product, logistic link — is identical, and the
#: deterministic formula keeps the oracle exact with no artifact file.
_CLF_BIAS = -0.05


@register(
    "text_hashed_linear_classifier",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, {_TOKENS} AS t FROM documents
    ), feats AS (
        SELECT doc_id, lang,
               {hash64_sql("t[s] || ' ' || t[s + 1]")} % {_CLF_DIM} AS b
        FROM (SELECT doc_id, lang, t,
                     unnest(generate_series(1, len(t) - 1, 1)) AS s
              FROM toks WHERE len(t) >= 2)
    ), fx AS (
        SELECT doc_id, lang, b, CAST(COUNT(*) AS BIGINT) AS x
        FROM feats GROUP BY doc_id, lang, b
    ), scored AS (
        SELECT doc_id, lang,
               SUM(x * ({hash64_sql("'w' || CAST(b AS VARCHAR)")} % 2001
                        - 1000)) / 1000.0 AS z
        FROM fx GROUP BY doc_id, lang
    )
    SELECT doc_id, lang,
           ROUND(z, 6) AS logit,
           ROUND(1.0 / (1.0 + exp(-(z / 100.0 + {_CLF_BIAS}))), 6)
               AS p_keep,
           CAST(CASE WHEN 1.0 / (1.0 + exp(-(z / 100.0 + {_CLF_BIAS})))
                          >= 0.5
                     THEN 1 ELSE 0 END AS INT) AS keep
    FROM scored
    ORDER BY doc_id
    """,
    doc="Linear quality-classifier INFERENCE over hashed bigram "
    "features — the fasttext/CCNet quality-filter shape as a pure "
    "Spark plan: bigrams hash into a fixed "
    f"{_CLF_DIM}-bucket feature space (no vocabulary table — the "
    "fasttext hashing trick), per-doc bucket counts form the sparse "
    "feature vector, the weight LOOKUP is a deterministic function of "
    "the bucket id (a trained model would broadcast its weight table; "
    "the inference plan is identical), and the per-doc dot product + "
    "logistic link yield p(keep) and the binary gate. Scale shape: "
    "one explode + one (doc, bucket) pre-aggregation (bounds any hot "
    "bucket's contribution to one row per doc) + one per-doc sum — "
    "all codegen'd hash aggregates, zero UDFs, zero Python. The "
    "logit accumulates in INTEGER micro-units (bigint count x integer "
    "weight, one /1000 division at the end — the DSIR trick), so the "
    "sum is exact and sum-order-free across engines; the logistic "
    "uses libm exp on a magnitude-bounded argument (z/100), matched "
    "at 6dp like the repo's other exp/ln sites.",
    tags=("text", "curation", "classifier", "U2", "A10"),
    bench=True,
)
def text_hashed_linear_classifier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "lang", tokenize(F.col("text")).alias("t"))
    feats = (
        toks.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "s -> concat(t[s - 1], ' ', t[s]))"
                )
            ).alias("bg"),
        )
        .select("doc_id", "lang", (hash64(F.col("bg")) % _CLF_DIM).alias("b"))
    )
    fx = feats.groupBy("doc_id", "lang", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    # integer micro-units: the weighted sum stays bigint (exact,
    # sum-order-free across engines); ONE division converts to float
    wk = (
        hash64(F.concat(F.lit("w"), F.col("b").cast("string"))) % 2001
        - 1000
    )
    scored = fx.groupBy("doc_id", "lang").agg(
        (F.sum(F.col("x") * wk) / 1000.0).alias("z")
    )
    p = 1.0 / (1.0 + F.exp(-(F.col("z") / 100.0 + F.lit(_CLF_BIAS))))
    return scored.select(
        "doc_id",
        "lang",
        F.round("z", 6).alias("logit"),
        F.round(p, 6).alias("p_keep"),
        F.when(p >= 0.5, 1).otherwise(0).cast("int").alias("keep"),
    ).orderBy("doc_id")


@register(
    "text_bpe_encode_compression",
    oracle=(
        f"""
    WITH words AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (
            SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                   AS word
            FROM documents
        ) GROUP BY word
    ),
    v0 AS MATERIALIZED (
        SELECT word, cnt,
               array_to_string(regexp_extract_all(word, '.'), ' ') AS seq
        FROM words
    ),
    """
        + ",\n    ".join(
            _bpe_step_sql(f"v{t - 1}", t) for t in range(1, BPE_MERGES + 1)
        )
        + f""",
    docw AS (
        SELECT source, n_chars,
               unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                   AS word
        FROM documents
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(len(regexp_split_to_array(v.seq, ' '))) AS BIGINT)
               AS n_bpe_tokens,
           CAST(SUM(len(replace(d.word, ' ', ''))) AS BIGINT) AS n_chars,
           ROUND(CAST(SUM(len(regexp_split_to_array(v.seq, ' ')))
                      AS DOUBLE) / COUNT(*), 6) AS bpe_per_word,
           ROUND(CAST(SUM(len(d.word)) AS DOUBLE)
                 / SUM(len(regexp_split_to_array(v.seq, ' '))), 6)
               AS chars_per_bpe_token
    FROM docw d JOIN v{BPE_MERGES} v USING (word)
    GROUP BY d.source
    ORDER BY d.source
    """
    ),
    doc=f"BPE tokenizer ENCODE + compression audit — the other half of "
    "text_bpe_train_merges (train -> encode -> budget, the full "
    "tokenizer lifecycle): every corpus word is encoded under the "
    f"{BPE_MERGES}-merge trained vocabulary by a BROADCAST join "
    "against the (word -> symbol sequence) table — exactly how "
    "production encoders apply a merge table to a word-frequency "
    "corpus without re-running merges per document — and the query "
    "reports per-source token budgets: words, BPE tokens, chars, "
    "BPE-per-word fertility and chars-per-BPE-token compression. "
    "Scale shape: one corpus scan to explode words, one broadcast "
    "join against the vocabulary-bounded trained table, one "
    "per-source aggregate; training cost is vocabulary-bounded "
    "(shared _bpe_train helper). All counts exact integers; the two "
    "ratios are single divisions rounded at 6dp.",
    tags=("text", "bpe", "curation", "A10"),
)
def text_bpe_encode_compression(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    vocab, _ = _bpe_train(docs)
    enc = vocab.select("word", _n_syms().alias("n_syms"))
    docw = docs.select(
        "source", F.explode(tokenize(F.col("text"))).alias("word")
    )
    return (
        docw.join(F.broadcast(enc), "word")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_syms").cast("bigint").alias("n_bpe_tokens"),
            F.sum(F.length("word")).cast("bigint").alias("n_chars"),
            F.round(
                F.sum("n_syms").cast("double") / F.count(F.lit(1)), 6
            ).alias("bpe_per_word"),
            F.round(
                F.sum(F.length("word")).cast("double") / F.sum("n_syms"),
                6,
            ).alias("chars_per_bpe_token"),
        )
        .orderBy("source")
    )


#: Hashed-projection embedder geometry: bigrams hash into _CLF_DIM
#: buckets (shared with the classifier), projected to _EMB_DIM output
#: dimensions by a deterministic integer weight matrix.
_EMB_DIM = 16


def _hashed_embedding_longform(
    spark: SparkSession, docs: DataFrame
) -> DataFrame:
    """(doc_id, dim, val): the hashed-projection embedder, long form —
    shared by text_hashed_embedding_projection (emits it) and
    text_e2e_semantic_neighbors (searches over it)."""
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("t"))
    # r12 (guide §1.2/§6): the old `.filter(F.size("t") >= 2)` was
    # predicate-pushed THROUGH the tokenize projection into the scan as
    # a DataFilter, so every document paid the regex tokenize TWICE —
    # once at the scan filter, once in the Generate's input projection
    # (the expression analogue of the guide-§4.4 UDF duplication;
    # verified in the executed plan's `DataFilters:
    # [size(split(lower(trim(text))...) >= 2]`). Folding the guard into
    # the generator expression (explode drops empty arrays, so docs
    # with < 2 tokens emit exactly zero bigrams, same as the filter)
    # leaves ONE tokenize per row and an empty scan DataFilters list.
    fx = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(t) >= 2 THEN "
                    "transform(sequence(1, size(t) - 1), "
                    "s -> concat(t[s - 1], ' ', t[s])) "
                    "ELSE array() END"
                )
            ).alias("bg"),
        )
        .select("doc_id", (hash64(F.col("bg")) % _CLF_DIM).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    grid = (
        spark.range(0, _CLF_DIM)
        .select(F.col("id").alias("b"))
        .crossJoin(
            spark.range(0, _EMB_DIM).select(F.col("id").alias("j"))
        )
    )
    weights = grid.select(
        "b",
        "j",
        (
            hash64(
                F.concat(
                    F.lit("p"),
                    F.col("b").cast("string"),
                    F.lit(":"),
                    F.col("j").cast("string"),
                )
            )
            % 2001
            - 1000
        ).alias("w"),
    )
    return fx.join(F.broadcast(weights), "b").groupBy(
        "doc_id", F.col("j").alias("dim")
    ).agg((F.sum(F.col("x") * F.col("w")) / 1000.0).alias("val"))


@register(
    "text_hashed_embedding_projection",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKENS} AS t FROM documents
    ), fx AS (
        SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS x
        FROM (
            SELECT doc_id,
                   {hash64_sql("t[s] || ' ' || t[s + 1]")} % {_CLF_DIM} AS b
            FROM (SELECT doc_id, t,
                         unnest(generate_series(1, len(t) - 1, 1)) AS s
                  FROM toks WHERE len(t) >= 2)
        ) GROUP BY doc_id, b
    ), weights AS (
        SELECT g.b, g.j,
               {hash64_sql("'p' || CAST(g.b AS VARCHAR) || ':' || CAST(g.j AS VARCHAR)")}
                   % 2001 - 1000 AS w
        FROM (
            SELECT bb.b, jj.j
            FROM (SELECT unnest(range(0, {_CLF_DIM})) AS b) bb
            CROSS JOIN (SELECT unnest(range(0, {_EMB_DIM})) AS j) jj
        ) g
    )
    SELECT f.doc_id, w.j AS dim,
           CAST(SUM(f.x * w.w) AS BIGINT) / 1000.0 AS val
    FROM fx f JOIN weights w ON w.b = f.b
    GROUP BY f.doc_id, w.j
    ORDER BY f.doc_id, dim
    """,
    doc="Text -> embedding GENERATION — the missing link between the "
    "text corpus and the vector pipeline (everything downstream — "
    "ANN, SemDeDup, IVF layouts — consumed pre-computed vectors "
    "until now): feature-hashed bigrams (the classifier's "
    f"{_CLF_DIM}-bucket space) projected to {_EMB_DIM} output "
    "dimensions through a DETERMINISTIC integer weight matrix "
    "(hash-derived — the random-projection/hashing-trick embedder; a "
    "learned projection would broadcast its weight table through the "
    "identical plan). The weight matrix is materialized ONCE as a "
    f"{_CLF_DIM}x{_EMB_DIM}-row frame and broadcast onto the sparse "
    "per-doc features; accumulation is bigint x integer weight — "
    "exact and sum-order-free across engines — with one /1000 "
    "division at the end. Long-form output (doc_id, dim, val) keeps "
    "the hash compare unambiguous. Scale shape: one corpus scan, one "
    "(doc, bucket) pre-aggregation, one broadcast join fan-out of "
    f"{_EMB_DIM}x, one (doc, dim) sum — all codegen'd hash "
    "aggregates, zero UDFs.",
    tags=("text", "similarity", "curation", "A10"),
    bench=True,
)
def text_hashed_embedding_projection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _hashed_embedding_longform(spark, docs).orderBy(
        "doc_id", "dim"
    )


# reusable embedder CTE chain for composed oracles: fx/weights/emb_lf
_EMB_LF_SQL = f"""
    toks AS (
        SELECT doc_id, {_TOKENS} AS t FROM documents
    ), fx AS (
        SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS x
        FROM (
            SELECT doc_id,
                   {hash64_sql("t[s] || ' ' || t[s + 1]")} % {_CLF_DIM} AS b
            FROM (SELECT doc_id, t,
                         unnest(generate_series(1, len(t) - 1, 1)) AS s
                  FROM toks WHERE len(t) >= 2)
        ) GROUP BY doc_id, b
    ), weights AS (
        SELECT g.b, g.j,
               {hash64_sql("'p' || CAST(g.b AS VARCHAR) || ':' || CAST(g.j AS VARCHAR)")}
                   % 2001 - 1000 AS w
        FROM (
            SELECT bb.b, jj.j
            FROM (SELECT unnest(range(0, {_CLF_DIM})) AS b) bb
            CROSS JOIN (SELECT unnest(range(0, {_EMB_DIM})) AS j) jj
        ) g
    ), emb_lf AS (
        SELECT f.doc_id, w.j AS dim,
               CAST(SUM(f.x * w.w) AS BIGINT) / 1000.0 AS val
        FROM fx f JOIN weights w ON w.b = f.b
        GROUP BY f.doc_id, w.j
    ), dvec AS (
        SELECT doc_id, list(val ORDER BY dim) AS v
        FROM emb_lf GROUP BY doc_id
    )"""

_DVEC_COS = (
    "(list_reduce(list_transform(range(1, {d} + 1), "
    "i -> {a}[i] * {b}[i]), (x, y) -> x + y) / ("
    "sqrt(list_reduce(list_transform({a}, u -> u * u), (x, y) -> x + y)) * "
    "sqrt(list_reduce(list_transform({b}, u -> u * u), (x, y) -> x + y))))"
)


@register(
    "text_e2e_semantic_neighbors",
    oracle=f"""
    WITH {_EMB_LF_SQL},
    q AS (
        SELECT doc_id AS query_doc, v AS qv FROM dvec
        WHERE doc_id IN (10, 11)
    ),
    nz AS (
        SELECT doc_id, v FROM dvec
        WHERE list_reduce(list_transform(v, u -> u * u),
                          (x, y) -> x + y) > 0
    )
    SELECT q.query_doc, n.doc_id AS neighbor_doc,
           ROUND({_DVEC_COS.format(d=_EMB_DIM, a='q.qv', b='n.v')}, 6)
               AS cos_sim,
           d.lang, d.source
    FROM q JOIN nz n ON n.doc_id <> q.query_doc
    JOIN documents d ON d.doc_id = n.doc_id
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY q.query_doc
        ORDER BY {_DVEC_COS.format(d=_EMB_DIM, a='q.qv', b='n.v')} DESC,
                 n.doc_id) <= 3
    ORDER BY q.query_doc, neighbor_doc
    """,
    doc="Raw text -> semantic neighbors, END TO END in one plan: "
    "documents are embedded by the hashed-projection embedder "
    "(shared _hashed_embedding_longform — exact integer "
    "accumulation), vectors rebuilt from long form "
    "(collect_list(struct(dim, val)) sorted — deterministic since "
    "dims are unique), zero-norm docs excluded on both engines, and "
    "2 query documents retrieve their top-3 cosine neighbors with "
    "lang/source hydration — the composition a user runs when NO "
    "pre-computed embedding table exists (compare "
    "rag_retrieval_hydrated, which serves from the materialized IVF "
    "layout). Broadcast of the 2-row query side; candidates scanned "
    "once; (cos DESC, id) tie-break. The oracle replays embedding, "
    "vector assembly, the zero-norm guard, search, and hydration.",
    tags=("text", "similarity", "serving", "curation"),
)
def text_e2e_semantic_neighbors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from flu_data_pipeline_spark.plans.similarity_queries import cosine, norm

    docs = load_table(spark, sf_dir, "documents")
    dvec = (
        _hashed_embedding_longform(spark, docs)
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "val"))),
                lambda s: s["val"],
            ).alias("v")
        )
    )
    q = dvec.filter(F.col("doc_id").isin([10, 11])).select(
        F.col("doc_id").alias("query_doc"), F.col("v").alias("qv")
    )
    nz = dvec.filter(norm(F.col("v")) > 0).select(
        F.col("doc_id").alias("neighbor_doc"), F.col("v").alias("nv")
    )
    wtop = Window.partitionBy("query_doc").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_doc")
    )
    return (
        F.broadcast(q)
        .join(nz, F.col("neighbor_doc") != F.col("query_doc"))
        .select(
            "query_doc",
            "neighbor_doc",
            cosine(F.col("qv"), F.col("nv")).alias("cos_raw"),
        )
        .withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") <= 3)
        .join(
            docs.select(
                F.col("doc_id").alias("neighbor_doc"), "lang", "source"
            ),
            "neighbor_doc",
        )
        .select(
            "query_doc",
            "neighbor_doc",
            F.round("cos_raw", 6).alias("cos_sim"),
            "lang",
            "source",
        )
        .orderBy("query_doc", "neighbor_doc")
    )


def _cleaned_text_frame(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """Stitch each document's KEPT segments (the gaps between merged
    removal spans, plus head and tail; whole text when span-free) back
    in order: (doc_id, ctext). Factored from text_dedup_removal_apply
    so the cleaned-corpus WRITE pipeline emits the identical surgery
    it verifies."""
    w = Window.partitionBy("doc_id").orderBy("span_start")
    gaps_mid = spans.select(
        "doc_id",
        F.coalesce(F.lag("span_end").over(w), F.lit(0)).alias("seg_start"),
        F.col("span_start").alias("seg_end"),
    )
    dlen = docs.select("doc_id", F.length("text").alias("n"))
    gaps_tail = (
        spans.groupBy("doc_id")
        .agg(F.max("span_end").alias("seg_start"))
        .join(dlen, "doc_id")
        .select("doc_id", "seg_start", F.col("n").alias("seg_end"))
    )
    gaps_nospan = dlen.join(
        spans.select("doc_id").distinct(), "doc_id", "left_anti"
    ).select("doc_id", F.lit(0).alias("seg_start"), F.col("n").alias("seg_end"))
    gaps = (
        gaps_mid.unionByName(gaps_tail)
        .unionByName(gaps_nospan)
        .filter(F.col("seg_end") > F.col("seg_start"))
    )
    return (
        gaps.join(docs.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            F.struct(
                "seg_start",
                F.expr(
                    "substring(text, cast(seg_start as int) + 1, "
                    "cast(seg_end - seg_start as int))"
                ).alias("seg"),
            ).alias("s"),
        )
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda s: s["seg"]
                ),
            ).alias("ctext")
        )
    )


#: Shared DuckDB CTE chain of the removal-plan APPLY surgery
#: (toks -> chunks -> removed -> spans -> gaps -> cleaned), reused by
#: text_dedup_removal_apply and the cleaned-corpus WRITE pipeline so the
#: two oracles can never drift apart.
_REMOVAL_APPLY_CTES = f"""
    WITH toks AS (
        SELECT doc_id, {_TOKENS} AS t FROM documents
    ), chunks AS (
        SELECT doc_id,
               (s - 1) // {_CHUNK_W} AS chunk_idx,
               s,
               LEAST(s + {_CHUNK_W - 1}, len(t)) AS e,
               {hash64_sql(f"array_to_string(t[s:s + {_CHUNK_W - 1}], ' ')")} AS h
        FROM (
            SELECT doc_id, t,
                   unnest(generate_series(1, greatest(len(t), 1), {_CHUNK_W})) AS s
            FROM toks
        )
    ), removed AS (
        SELECT doc_id, chunk_idx, s, e
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY h ORDER BY doc_id, s) AS rn
            FROM chunks
        ) WHERE rn > 1
    ), spans AS (
        SELECT sp.doc_id,
               COALESCE(list_sum(list_transform(tk.t[1:sp.smin - 1],
                    x -> length(x))), 0) + (sp.smin - 1) AS span_start,
               COALESCE(list_sum(list_transform(tk.t[1:sp.emax],
                    x -> length(x))), 0) + (sp.emax - 1) AS span_end
        FROM (
            SELECT doc_id, MIN(s) AS smin, MAX(e) AS emax
            FROM (
                SELECT *, chunk_idx - ROW_NUMBER() OVER (
                    PARTITION BY doc_id ORDER BY chunk_idx) AS grp
                FROM removed
            )
            GROUP BY doc_id, grp
        ) sp JOIN toks tk USING (doc_id)
    ), gaps AS (
        SELECT doc_id,
               COALESCE(LAG(span_end) OVER (
                   PARTITION BY doc_id ORDER BY span_start), 0)
                   AS seg_start,
               span_start AS seg_end
        FROM spans
        UNION ALL
        SELECT s.doc_id, MAX(s.span_end), length(d.text)
        FROM spans s JOIN documents d USING (doc_id)
        GROUP BY s.doc_id, length(d.text)
        UNION ALL
        SELECT d.doc_id, 0, length(d.text)
        FROM documents d
        WHERE d.doc_id NOT IN (SELECT DISTINCT doc_id FROM spans)
    ), cleaned AS (
        SELECT g.doc_id,
               COALESCE(string_agg(
                   substring(d.text, CAST(g.seg_start AS BIGINT) + 1,
                             CAST(g.seg_end - g.seg_start AS BIGINT))
                   ORDER BY g.seg_start), '') AS ctext
        FROM documents d JOIN gaps g USING (doc_id)
        WHERE g.seg_end > g.seg_start
        GROUP BY g.doc_id
    )"""


@register(
    "text_dedup_removal_apply",
    oracle=_REMOVAL_APPLY_CTES
    + f"""
    , stats AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(span_end - span_start) AS BIGINT) AS bytes_removed
        FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(st.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(length(d.text) AS BIGINT) AS orig_chars,
           CAST(length(COALESCE(c.ctext, '')) AS BIGINT) AS cleaned_chars,
           {hash64_sql("COALESCE(c.ctext, '')")} AS cleaned_hash
    FROM documents d
    LEFT JOIN cleaned c USING (doc_id)
    LEFT JOIN stats st USING (doc_id)
    ORDER BY d.doc_id
    """,
    doc="APPLY the byte-range removal plan — the final consumable "
    "artifact of substring dedup: per document, the kept segments "
    "(the gaps between merged removal spans, plus head and tail) are "
    "stitched back in order and the CLEANED text is emitted as a "
    "portable 56-bit hash plus exact char counts, so the surgery "
    "itself — not just the span arithmetic — is verified "
    "cross-engine without shipping full strings through the compare. "
    "Invariant pinned in tests: cleaned_chars == orig_chars - "
    "sum(bytes_removed) for every doc (spans are exact byte ranges). "
    "Segment assembly is window lag + ordered concat "
    "(array_sort(collect_list(struct)) on Spark, string_agg ORDER BY "
    "on DuckDB) — no per-char folds, no UDFs; docs with no removals "
    "pass through whole (hash of the original text).",
    tags=("text", "dedup", "curation", "D1"),
    bench=True,
)
def text_dedup_removal_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    spans = barrier(
        _removal_plan_frame(docs)
        .select("doc_id", "span_start", "span_end"),
        # r11 wave 3 (guide §2.4): the span frame feeds FOUR consumers
        # (gaps_mid, gaps_tail, the no-span anti-join inside
        # _cleaned_text_frame, and the n_spans stats below) — without
        # the checkpoint the whole tokenize+chunk+dedup-window mining
        # pipeline is planned and executed once per consumer. Lazy:
        # materialized inside the final job, no extra barrier (the
        # _cleaned_corpus_paths fix, applied to the verify query).
        "spans",
        eager=False,
    )
    cleaned = _cleaned_text_frame(docs, spans)
    stats = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans")
    )
    return (
        docs.select("doc_id", F.length("text").alias("orig_chars"))
        .join(cleaned, "doc_id", "left")
        .join(stats, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.col("orig_chars").cast("bigint").alias("orig_chars"),
            F.length(F.coalesce("ctext", F.lit("")))
            .cast("bigint")
            .alias("cleaned_chars"),
            hash64(F.coalesce("ctext", F.lit(""))).alias("cleaned_hash"),
        )
        .orderBy("doc_id")
    )


#: Shard byte budget for the cleaned-corpus export plan (chars == bytes
#: on the ASCII corpus): small enough that the fixture yields several
#: shards per source, the same largest-remainder-free contiguous
#: packing rule at any scale.
_SHARD_CHARS = 16_384


def _cleaned_corpus_paths(
    spark: SparkSession, sf_dir: str, base_dir: str | None = None
) -> tuple[str, str, int, DataFrame]:
    """Materialize the CLEANED corpus (removal-plan surgery applied) as
    a source-partitioned parquet table plus its shard-plan manifest,
    once per source fingerprint; EVERY call finishes with an idempotent
    re-append whose row delta is returned (0 == the write path is
    replay-safe, the pipeline's standing proof). Layout:

    - ``corpus``: (doc_id, lang, cleaned_chars, ctext) PARTITIONED BY
      source — the table a training run reads;
    - ``manifest``: (doc_id, source, cleaned_chars, shard_id) — contig
      char-budget packing per source (global_cumsum minus the source's
      start offset, never a single-partition window), the export plan
      a shard-writer executes.
    """
    import os
    import shutil

    from flu_data_pipeline_spark.operators.ranking import global_cumsum
    from flu_data_pipeline_spark.sources.writers import idempotent_append

    docs = load_table(spark, sf_dir, "documents")
    # lazy checkpoint (r11, guide §2.4): the span-mining plan feeds the
    # idempotence replay's cleaned frame AND the caller's independent
    # removed-chars reconciliation scan; without it both evaluated the
    # full winnowing/span pipeline from scratch. Returned to the caller
    # so corpus_cleaned_write_pipeline reads the same materialization.
    spans = barrier(
        _removal_plan_frame(docs)
        .select("doc_id", "span_start", "span_end", "bytes_removed"),
        "spans",
        eager=False,
    )
    cleaned = (
        _cleaned_text_frame(docs, spans)
        .join(docs.select("doc_id", "source", "lang"), "doc_id", "right")
        .select(
            "doc_id",
            "source",
            "lang",
            F.coalesce("ctext", F.lit("")).alias("ctext"),
        )
        .withColumn(
            "cleaned_chars", F.length("ctext").cast("bigint")
        )
    )

    def build(corpus: str) -> None:
        base = os.path.dirname(corpus)
        shutil.rmtree(base, ignore_errors=True)
        idempotent_append(
            spark, cleaned, corpus, ("doc_id",), partition_cols=("source",)
        )
        # shard plan: contiguous per-source char-budget packing over the
        # (source, doc_id) total order; the per-source start offset is a
        # tiny triangular fold over one row per source
        cum = global_cumsum(
            cleaned.select("doc_id", "source", "cleaned_chars"),
            [F.asc("source"), F.asc("doc_id")],
            "cleaned_chars",
            out_col="gcum",
        )
        totals = cleaned.groupBy("source").agg(
            F.sum("cleaned_chars").cast("bigint").alias("stot")
        )
        a, b = totals.alias("a"), totals.alias("b")
        offs = (
            a.join(
                F.broadcast(b),
                F.col("b.source") < F.col("a.source"),
                "left",
            )
            .groupBy(F.col("a.source").alias("source"))
            .agg(
                F.coalesce(F.sum("b.stot"), F.lit(0))
                .cast("bigint")
                .alias("soff")
            )
        )
        (
            cum.join(F.broadcast(offs), "source")
            .select(
                "doc_id",
                "source",
                "cleaned_chars",
                F.expr(
                    f"(greatest(gcum - soff, 1L) - 1L) "
                    f"div {_SHARD_CHARS}"
                )
                .cast("bigint")
                .alias("shard_id"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(base, "manifest"))
        )

    corpus = derived_table(
        "cleaned", sf_dir, "corpus", ("documents",), build, base_dir=base_dir
    )
    # The standing idempotence proof: replaying the full batch against
    # the existing table must append NOTHING (null-safe PK anti-join,
    # the reference's ON CONFLICT DO NOTHING at corpus scale).
    rerun_appended = idempotent_append(
        spark, cleaned, corpus, ("doc_id",), partition_cols=("source",)
    )
    manifest = os.path.join(os.path.dirname(corpus), "manifest")
    return corpus, manifest, rerun_appended, spans


@register(
    "corpus_cleaned_write_pipeline",
    oracle=_REMOVAL_APPLY_CTES
    + f"""
    , per AS (
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(length(d.text)) AS BIGINT) AS orig_chars_total,
               CAST(SUM(length(COALESCE(c.ctext, ''))) AS BIGINT)
                   AS cleaned_chars_total
        FROM documents d LEFT JOIN cleaned c USING (doc_id)
        GROUP BY d.source
    ), rem AS (
        SELECT d.source,
               CAST(SUM(s.span_end - s.span_start) AS BIGINT) AS removed
        FROM spans s JOIN documents d USING (doc_id)
        GROUP BY d.source
    )
    SELECT p.source,
           p.n_docs,
           p.n_docs AS docs_expected,
           p.cleaned_chars_total,
           p.orig_chars_total,
           CAST(COALESCE(r.removed, 0) AS BIGINT) AS removed_chars_total,
           CAST((GREATEST(p.cleaned_chars_total, 1) - 1)
                // {_SHARD_CHARS} + 1 AS BIGINT) AS n_shards,
           CAST(CASE WHEN p.cleaned_chars_total
                          = p.orig_chars_total - COALESCE(r.removed, 0)
                     THEN 1 ELSE 0 END AS INT) AS reconciled,
           CAST(0 AS BIGINT) AS rerun_appended
    FROM per p LEFT JOIN rem r USING (source)
    ORDER BY p.source
    """,
    doc="The cleaned-corpus WRITE pipeline end to end — the artifact a "
    "training run actually consumes, composed from the round-6 "
    "pieces: the byte-range removal plan is APPLIED "
    "(_cleaned_text_frame, the same surgery text_dedup_removal_apply "
    "verifies), the cleaned text is WRITTEN as a source-partitioned "
    "parquet table through the S6 idempotent-append writer (null-safe "
    "PK anti-join), a contiguous char-budget shard-plan MANIFEST is "
    "written beside it (global_cumsum minus per-source offsets — no "
    "single-partition window), and every invocation closes with a "
    "full-batch REPLAY whose appended-row count is emitted as "
    "`rerun_appended` — the oracle pins it to 0, so a broken "
    "idempotence contract (rows duplicated on re-run) turns this row "
    "red, exactly the reference's ON CONFLICT DO NOTHING guarantee "
    "(S6) promoted to corpus scale. All other columns are READ BACK "
    "from the materialized table and manifest, never from the "
    "in-flight frames: n_docs/cleaned_chars_total aggregate the "
    "stored table (write-path proof), n_shards is max(shard_id)+1 "
    "from the stored manifest (equals the oracle's closed form "
    "because the packing is contiguous), and `reconciled` re-derives "
    "cleaned == orig - removed per source from independent scans. "
    "Fingerprint-invalidated like the IVF serving layout; runtime "
    "second-run zero-delta and partition-directory layout are "
    "additionally pinned in tests/test_sources.py.",
    tags=("text", "dedup", "curation", "S6", "layout"),
    bench=True,
)
def corpus_cleaned_write_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    corpus, manifest, rerun, spans = _cleaned_corpus_paths(spark, sf_dir)
    if rerun != 0:
        raise AssertionError(
            f"idempotent replay appended {rerun} rows — the cleaned-"
            f"corpus write path is not replay-safe"
        )
    back = read_parquet(spark, corpus)
    man = read_parquet(spark, manifest)
    per = back.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("cleaned_chars").cast("bigint").alias("cleaned_chars_total"),
    )
    expected = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs_expected"),
        F.sum(F.length("text")).cast("bigint").alias("orig_chars_total"),
    )
    # r11 (guide §2.4): read the replay's checkpointed spans instead of
    # re-mining the removal plan — the reconciliation stays an
    # independent derivation (spans vs the stored table's chars), just
    # without paying the span pipeline twice per invocation.
    removed = (
        spans.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(F.sum("bytes_removed").cast("bigint").alias("removed"))
    )
    shards = man.groupBy("source").agg(
        (F.max("shard_id") + 1).cast("bigint").alias("n_shards")
    )
    return (
        per.join(expected, "source")
        .join(removed, "source", "left")
        .join(shards, "source")
        .select(
            "source",
            "n_docs",
            "docs_expected",
            "cleaned_chars_total",
            "orig_chars_total",
            F.coalesce("removed", F.lit(0))
            .cast("bigint")
            .alias("removed_chars_total"),
            "n_shards",
            F.when(
                (F.col("n_docs") == F.col("docs_expected"))
                & (
                    F.col("cleaned_chars_total")
                    == F.col("orig_chars_total")
                    - F.coalesce("removed", F.lit(0))
                ),
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("reconciled"),
            F.lit(rerun).cast("bigint").alias("rerun_appended"),
        )
        .orderBy("source")
    )


@register(
    "winnow_postings_cap_metric",
    oracle=_WINNOW_POS_CHAIN
    + f""",
    perf AS (
        SELECT f, doc_id, CAST(COUNT(*) AS BIGINT) AS c
        FROM ip GROUP BY f, doc_id
    ),
    byf AS (
        SELECT f, CAST(COUNT(*) AS BIGINT) AS dfc,
               CAST(SUM(c) AS BIGINT) AS s,
               CAST(SUM(c * c) AS BIGINT) AS q
        FROM perf GROUP BY f
    )
    SELECT CAST(SUM(s) AS BIGINT) AS n_postings,
           CAST(COUNT(*) AS BIGINT) AS n_rare_fps,
           CAST(MAX(dfc) AS BIGINT) AS df_max,
           CAST({_WINNOW_DF_CAP} AS BIGINT) AS df_cap,
           CAST(SUM((s * s - q) // 2) AS BIGINT) AS pair_candidates,
           CAST(CASE WHEN MAX(dfc) <= {_WINNOW_DF_CAP}
                     THEN 1 ELSE 0 END AS INT) AS within_cap
    FROM byf
    """,
    doc="The fingerprint-pillar executed-metric gate (fourth in the "
    "self-proving v2 family, after the semdedup pair-cap, IVF "
    "files-pruned, and LSH band-pair gates): the builder executes the "
    "positional winnow postings SELF-JOIN exactly as "
    "dedup_substring_clone_runs builds it (same df-capped index, "
    "doc_a < doc_b half-ordering), reads the join node's "
    "`numOutputRows` SQLMetric off the FINAL adaptive executed plan, "
    "and emits THAT value as `pair_candidates`; the oracle replays "
    "the index and computes the same number as pure per-fingerprint "
    "arithmetic — sum over capped fingerprints of (S_f^2 - Q_f)/2, "
    "S_f/Q_f the per-doc posting-count sum and sum of squares (every "
    "unordered cross-doc posting pair counted once) — so a hash "
    "match certifies the executed join moved EXACTLY the pair volume "
    "the MOSS df-cap arithmetic allows, and `within_cap` pins every "
    "joined fingerprint to <= " f"{_WINNOW_DF_CAP} docs (a broken "
    "rare-filter or a silently widened join condition turns the row "
    "red two ways: the builder also HARD-asserts metric == the "
    "collected count and df_max <= cap). Deliberately unbenched "
    "(pair-cap-metric precedent): it re-executes the index "
    "dedup_substring_clone_runs already times.",
    tags=("text", "fingerprint", "dedup", "scale-proof", "metrics"),
)
def winnow_postings_cap_metric(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from flu_data_pipeline_spark.operators.plan_metrics import (
        collect_with_metrics,
    )

    ip = _winnow_pos_index(spark, sf_dir)
    # ip is eagerly checkpointed, so the probe plan contains exactly
    # ONE Join node — the pair self-join under test (the rare-filter
    # join is materialized away; LOAD-BEARING, same as the semdedup
    # gates' checkpoint note).
    a = ip.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a"), "f"
    )
    b = ip.select(
        F.col("doc_id").alias("doc_b"),
        F.col("pos").alias("pos_b"),
        F.col("f").alias("fb"),
    )
    probe = a.join(
        b, (F.col("f") == F.col("fb")) & (F.col("doc_a") < F.col("doc_b"))
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    rows, mets = collect_with_metrics(probe, "Join")
    if len(mets) != 1:
        raise AssertionError(
            f"expected exactly 1 join node in the postings pair probe, "
            f"found {len(mets)}"
        )
    pair_metric = int(mets[0]["numOutputRows"])
    if pair_metric != int(rows[0]["cnt"]):
        raise AssertionError(
            f"join metric {pair_metric} != collected pair count "
            f"{rows[0]['cnt']} — wrong node read"
        )
    stats = (
        ip.groupBy("f", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("f")
        .agg(
            F.count(F.lit(1)).alias("dfc"),
            F.sum("c").alias("s"),
            F.sum(F.col("c") * F.col("c")).alias("q"),
        )
        .agg(
            F.sum("s").cast("bigint").alias("n_postings"),
            F.count(F.lit(1)).cast("bigint").alias("n_rare_fps"),
            F.max("dfc").cast("bigint").alias("df_max"),
            (F.sum(F.col("s") * F.col("s") - F.col("q")) / 2)
            .cast("bigint")
            .alias("arith_pairs"),
        )
        .first()
    )
    if int(stats["df_max"]) > _WINNOW_DF_CAP:
        raise AssertionError(
            f"df cap VIOLATED: a joined fingerprint appears in "
            f"{stats['df_max']} docs > cap {_WINNOW_DF_CAP}"
        )
    if pair_metric != int(stats["arith_pairs"]):
        raise AssertionError(
            f"executed pair volume {pair_metric} != arithmetic "
            f"{stats['arith_pairs']} — the join condition widened"
        )
    return spark.createDataFrame(
        [
            (
                int(stats["n_postings"]),
                int(stats["n_rare_fps"]),
                int(stats["df_max"]),
                _WINNOW_DF_CAP,
                pair_metric,
                1,
            )
        ],
        "n_postings bigint, n_rare_fps bigint, df_max bigint, "
        "df_cap bigint, pair_candidates bigint, within_cap int",
    )


@register(
    "tokenizer_vocab_agreement",
    oracle=(
        f"""
    WITH words AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (
            SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                   AS word
            FROM documents
        ) GROUP BY word
    ),
    v0 AS MATERIALIZED (
        SELECT word, cnt,
               array_to_string(regexp_extract_all(word, '.'), ' ') AS seq
        FROM words
    ),
    """
        + ",\n    ".join(
            _bpe_step_sql(f"v{t - 1}", t) for t in range(1, BPE_MERGES + 1)
        )
        + ",\n    "
        + _uni_seed_sql()
        + ",\n    "
        + ",\n    ".join(_uni_iter_sql(it) for it in range(1, _UNI_EM + 1))
        + ",\n    "
        + ",\n    ".join(
            _wp_step_sql("v0" if t == 1 else f"wv{t - 1}", t)
            for t in range(1, _WP_MERGES + 1)
        )
        + f""",
    bunits AS (
        SELECT DISTINCT u FROM (
            {" UNION ALL ".join(
                f"SELECT x || y AS u FROM b{t}"
                for t in range(1, BPE_MERGES + 1)
            )}
        )
    ),
    wunits AS (
        SELECT DISTINCT u FROM (
            {" UNION ALL ".join(
                f"SELECT x || y AS u FROM wb{t}"
                for t in range(1, _WP_MERGES + 1)
            )}
        )
    ),
    uunits AS (
        SELECT DISTINCT c.piece AS u
        FROM uc{_UNI_EM} c JOIN uv{_UNI_EM} v USING (piece)
        WHERE length(c.piece) >= 2
    )
    SELECT pair, n_a, n_b, n_common,
           ROUND(CAST(n_common AS DOUBLE) / (n_a + n_b - n_common), 6)
               AS jaccard
    FROM (
        SELECT 'bpe_vs_wordpiece' AS pair,
               CAST((SELECT COUNT(*) FROM bunits) AS BIGINT) AS n_a,
               CAST((SELECT COUNT(*) FROM wunits) AS BIGINT) AS n_b,
               CAST((SELECT COUNT(*) FROM bunits JOIN wunits USING (u))
                    AS BIGINT) AS n_common
        UNION ALL
        SELECT 'bpe_vs_unigram',
               CAST((SELECT COUNT(*) FROM bunits) AS BIGINT),
               CAST((SELECT COUNT(*) FROM uunits) AS BIGINT),
               CAST((SELECT COUNT(*) FROM bunits JOIN uunits USING (u))
                    AS BIGINT)
        UNION ALL
        SELECT 'wordpiece_vs_unigram',
               CAST((SELECT COUNT(*) FROM wunits) AS BIGINT),
               CAST((SELECT COUNT(*) FROM uunits) AS BIGINT),
               CAST((SELECT COUNT(*) FROM wunits JOIN uunits USING (u))
                    AS BIGINT)
    ) ORDER BY pair
    """
    ),
    doc="Do the three trainers AGREE on what the subword units are? "
    "Pairwise Jaccard overlap of the multi-char unit inventories: BPE "
    "merge products, WordPiece merge products, and the pieces the "
    "unigram LM's final EM round actually used (length >= 2). All "
    "three training chains replay in the composed oracle; the output "
    "is exact integer set sizes plus one 6dp ratio. This is the "
    "sanity table behind a vocabulary decision — high disagreement "
    "between count-greedy (BPE) and likelihood-scored (WordPiece) "
    "merges on the SAME corpus quantifies how much the merge "
    "objective, not the data, drives the vocabulary. Scale shape: "
    "one corpus scan per chain into (word, count); everything "
    "downstream is vocabulary-bounded; the set intersections are "
    "joins over <= dozens of rows.",
    tags=("text", "tokenizer", "bpe", "curation"),
)
def tokenizer_vocab_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    _, bmerges = _bpe_train(docs)
    bunits = barrier(
        bmerges.select(F.concat("x", "y").alias("u")).distinct(), "bunits"
    )
    _, wmerges = _wp_train(docs)
    wunits = barrier(
        wmerges.select(F.concat("x", "y").alias("u")).distinct(), "wunits"
    )
    _, uvocab, ucounts = _uni_train(docs)
    uunits = barrier(
        ucounts.join(uvocab, "piece")
        .filter(F.length("piece") >= 2)
        .select(F.col("piece").alias("u"))
        .distinct(),
        "uunits",
    )
    import math

    rows = []
    for pair, fa, fb in (
        ("bpe_vs_wordpiece", bunits, wunits),
        ("bpe_vs_unigram", bunits, uunits),
        ("wordpiece_vs_unigram", wunits, uunits),
    ):
        n_a, n_b = fa.count(), fb.count()
        n_common = fa.join(fb, "u").count()
        # half-AWAY rounding to mirror DuckDB's ROUND (Python round()
        # is half-even; a 1/512-type exact ratio would diverge)
        jac = (
            math.floor(n_common / (n_a + n_b - n_common) * 1e6 + 0.5) / 1e6
        )
        rows.append((pair, n_a, n_b, n_common, jac))
    return spark.createDataFrame(
        rows,
        "pair string, n_a bigint, n_b bigint, n_common bigint, "
        "jaccard double",
    ).orderBy("pair")


@register(
    "sample_group_split_leakproof",
    oracle=f"""
    WITH g AS (
        SELECT doc_id,
               {hash64_sql('text')} AS grp,
               len({_TOKENS}) AS n_toks
        FROM documents
    ),
    labeled AS (
        SELECT doc_id, grp, n_toks,
               CASE WHEN {hash64_sql('CAST(doc_id AS VARCHAR)')} % 100 < 90
                    THEN 'train' ELSE 'val' END AS naive_split,
               CASE WHEN {hash64_sql('CAST(grp AS VARCHAR)')} % 100 < 90
                    THEN 'train' ELSE 'val' END AS group_split
        FROM g
    ),
    naive_leaks AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS leaky_groups_naive
        FROM (SELECT grp FROM labeled
              GROUP BY grp HAVING COUNT(DISTINCT naive_split) > 1)
    ),
    group_leaks AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS leaky_groups_grouped
        FROM (SELECT grp FROM labeled
              GROUP BY grp HAVING COUNT(DISTINCT group_split) > 1)
    )
    SELECT group_split AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_groups,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           nl.leaky_groups_naive,
           gl.leaky_groups_grouped
    FROM labeled CROSS JOIN naive_leaks nl CROSS JOIN group_leaks gl
    GROUP BY group_split, nl.leaky_groups_naive, gl.leaky_groups_grouped
    ORDER BY split
    """,
    doc="Group-leakproof train/val split — the contamination guard the "
    "naive per-document split misses: exact-duplicate documents (group "
    "= portable 64-bit content fingerprint) must land in ONE split, or "
    "the validation set scores memorization (its twin is in train). "
    "Assigns BOTH splits deterministically (hash of doc_id = the naive "
    "per-doc rule; hash of the GROUP fingerprint = the leakproof "
    "GroupShuffleSplit rule) and reports per-split doc/group/token "
    "budgets plus the two audit scalars: leaky_groups_naive counts "
    "duplicate groups the naive rule straddles across splits (each "
    "duplicate group leaks with probability ~2*p*(1-p) — the measured "
    "leak; this fixture's handful of dup groups can land at 0), and "
    "leaky_groups_grouped is 0 BY CONSTRUCTION (every member of a "
    "group shares the group hash, hence the split) — the query is "
    "self-proving, an oracle-checked leak of 0. At scale the group key "
    "generalizes to the near-dup cluster id (dedup_components) with "
    "the same split rule; the exact-fingerprint form is the "
    "shuffle-free special case (one groupBy on an 8-byte hash, no "
    "payload movement). Companion to split_leakage_audit (which COUNTS "
    "pairwise leaks under both rules on normalized-text fingerprints): "
    "this query is the operational form — it EMITS the split a "
    "training run consumes, with its token budgets and the zero-leak "
    "certificate attached. Standard practice per Lee et al. 2022 "
    "(deduplicate-then-split) and sklearn GroupShuffleSplit semantics.",
    tags=("text", "sampling", "curation", "llm", "dedup", "A8", "A10"),
)
def sample_group_split_leakproof(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id",
        hash64(F.col("text")).alias("grp"),
        F.size(tokenize(F.col("text"))).alias("n_toks"),
    )
    labeled = g.select(
        "doc_id",
        "grp",
        "n_toks",
        F.when(hash64(F.col("doc_id").cast("string")) % 100 < 90, "train")
        .otherwise("val")
        .alias("naive_split"),
        F.when(hash64(F.col("grp").cast("string")) % 100 < 90, "train")
        .otherwise("val")
        .alias("group_split"),
    )
    naive_leaks = (
        labeled.groupBy("grp")
        .agg(F.countDistinct("naive_split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count(F.lit(1)).cast("bigint").alias("leaky_groups_naive"))
    )
    group_leaks = (
        labeled.groupBy("grp")
        .agg(F.countDistinct("group_split").alias("gs"))
        .filter(F.col("gs") > 1)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("leaky_groups_grouped")
        )
    )
    return (
        labeled.groupBy(F.col("group_split").alias("split"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("grp").cast("bigint").alias("n_groups"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
        )
        .crossJoin(F.broadcast(naive_leaks))
        .crossJoin(F.broadcast(group_leaks))
        .orderBy("split")
    )


@register(
    "tokenizer_split_fertility",
    oracle=(
        f"""
    WITH RECURSIVE labeled AS (
        SELECT text,
               CASE WHEN {hash64_sql(
                   f"CAST({hash64_sql('text')} AS VARCHAR)")} % 100 < 90
                    THEN 'train' ELSE 'val' END AS split
        FROM documents
    ),
    wpwords AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (
            SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                   AS word
            FROM labeled
        ) GROUP BY word
    ),
    trwords AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (
            SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                   AS word
            FROM labeled WHERE split = 'train'
        ) GROUP BY word
    ),
    wv0 AS MATERIALIZED (
        SELECT word, cnt,
               array_to_string(regexp_extract_all(word, '.'), ' ') AS seq
        FROM trwords
    ),
    """
        + ",\n    ".join(
            _wp_step_sql(f"wv{t - 1}", t) for t in range(1, _WP_MERGES + 1)
        )
        + f""",
    vocabp AS MATERIALIZED (
        SELECT DISTINCT piece FROM (
            {" UNION ALL ".join(
                f"SELECT x || y AS piece FROM wb{t}"
                for t in range(1, _WP_MERGES + 1)
            )}
        )
    ),
    wrec AS (
        SELECT word, cnt, 1 AS pos, 0 AS n, '' AS parts FROM wpwords
        UNION ALL
        SELECT word, cnt, pos + l AS pos, n + 1 AS n,
               parts || ' ' || substr(word, CAST(pos AS INT), CAST(l AS INT))
                   AS parts
        FROM (
            SELECT r.word, r.cnt, r.pos, r.n, r.parts,
                   COALESCE(MAX(CASE
                       WHEN length(v.piece) <= length(r.word) - r.pos + 1
                        AND substr(r.word, CAST(r.pos AS INT),
                                   CAST(length(v.piece) AS INT)) = v.piece
                       THEN length(v.piece) END), 1) AS l
            FROM wrec r LEFT JOIN vocabp v ON TRUE
            WHERE r.pos <= length(r.word)
            GROUP BY r.word, r.cnt, r.pos, r.n, r.parts
        )
    ),
    encp AS (
        SELECT word, CAST(n AS INT) AS n_pieces
        FROM wrec WHERE pos > length(word)
    ),
    persplit AS (
        SELECT split, word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (
            SELECT split,
                   unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                       AS word
            FROM labeled
        ) GROUP BY split, word
    )
    SELECT p.split,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
           CAST(SUM(p.cnt) AS BIGINT) AS n_occurrences,
           CAST(SUM(p.cnt * e.n_pieces) AS BIGINT) AS total_pieces,
           ROUND(CAST(SUM(p.cnt * e.n_pieces) AS DOUBLE) / SUM(p.cnt), 6)
               AS fertility,
           CAST(SUM(CASE WHEN t.word IS NULL THEN p.cnt ELSE 0 END)
                AS BIGINT) AS oov_occurrences,
           ROUND(CAST(SUM(CASE WHEN t.word IS NULL THEN p.cnt ELSE 0 END)
                      AS DOUBLE) / SUM(p.cnt), 6) AS oov_occ_share
    FROM persplit p
    JOIN encp e ON e.word = p.word
    LEFT JOIN (SELECT DISTINCT word FROM trwords) t ON t.word = p.word
    GROUP BY p.split
    ORDER BY p.split
    """
    ),
    doc="Split-disciplined tokenizer fertility — the generalization-gap "
    "eval the tri-fertility table cannot see because it trains and "
    "measures on the same corpus: WordPiece merges are trained ONLY on "
    "the leakproof train split (the content-fingerprint group rule of "
    "sample_group_split_leakproof, so no val duplicate contaminated "
    "training), then the SAME greedy longest-match encoder segments "
    "both splits' words and fertility (pieces per word occurrence) is "
    "reported per split beside the val words-never-seen-in-training "
    "occurrence share. val fertility >= train fertility is the "
    "expected gap; equality says the corpus' word distribution is "
    "split-stationary, a data-health read in itself. Scale shape: one "
    "corpus scan into (split, word, count); training is "
    "vocabulary-bounded on the train word table; encoding runs once "
    "per DISTINCT word (broadcast piece map + row-local F.aggregate "
    "fold — no UDF); the only joins are word-keyed on the vocab-sized "
    "frames. The DuckDB oracle replays training + the greedy scan as "
    "the same recursive CTE the wordpiece encoder uses, now seeded "
    "with train-only counts.",
    tags=("text", "llm", "tokenizer", "sampling", "eval", "A10"),
)
def tokenizer_split_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.select(
        "text",
        F.when(
            hash64(hash64(F.col("text")).cast("string")) % 100 < 90, "train"
        )
        .otherwise("val")
        .alias("split"),
    )
    enc = _wp_encode_words(
        labeled.select("text"),
        train_docs=labeled.filter(F.col("split") == "train").select("text"),
    ).select("word", "n_pieces")
    persplit = (
        labeled.select("split", F.explode(tokenize(F.col("text"))).alias("word"))
        .groupBy("split", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    trwords = (
        labeled.filter(F.col("split") == "train")
        .select(F.explode(tokenize(F.col("text"))).alias("word"))
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    oov_occ = F.sum(
        F.when(F.col("seen").isNull(), F.col("cnt")).otherwise(0)
    ).cast("bigint")
    return (
        persplit.join(enc, "word")
        .join(trwords, "word", "left")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_words"),
            F.sum("cnt").cast("bigint").alias("n_occurrences"),
            F.sum(F.col("cnt") * F.col("n_pieces"))
            .cast("bigint")
            .alias("total_pieces"),
            _pieces_per_word("n_pieces").alias("fertility"),
            oov_occ.alias("oov_occurrences"),
            F.round(
                oov_occ.cast("double") / F.sum("cnt"), 6
            ).alias("oov_occ_share"),
        )
        .orderBy("split")
    )
