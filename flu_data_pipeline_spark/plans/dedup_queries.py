"""Deduplication suite over the ``documents`` corpus.

Extension mandate (BASELINE.json): exact dedup, n-gram Jaccard near-dup,
MinHash+LSH, SimHash — each as an oracle-checked query. Hash-dependent
operators use the portable md5-prefix hash
(:mod:`flu_data_pipeline_spark.functions.hashing`) so DuckDB computes
identical values.

Scale notes (100 TB): exact dedup is a hash groupBy on md5(text) — one
shuffle of (hash, id), never of full text. Jaccard/MinHash avoid the O(n²)
pairwise comparison by exploding to (feature, doc) and self-joining on the
feature — candidate generation cost is bounded by feature-bucket sizes
(LSH bands for minhash), which is the standard distributed near-dup design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flu_data_pipeline_spark.catalog import file_state, load_table
from flu_data_pipeline_spark.functions.hashing import (
    HASH64_MOD,
    MINHASH_COEFFS,
    hash64,
    hash64_sql,
)
from flu_data_pipeline_spark.operators.dedup import (
    lsh_bands,
    lsh_candidate_pairs,
    minhash_signatures,
    shingles_from_tokens,
    simhash,
    simhash_near_pairs,
    tokenize,
)
from flu_data_pipeline_spark.operators.materialize import barrier
from flu_data_pipeline_spark.plans.registry import REGISTRY, register


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    doc="Exact dedup via hash-groupBy: canonical representative = min "
    "doc_id per md5(text). Only (hash, id) shuffles — text stays columnar "
    "at the scan.",
    tags=("dedup", "D1"),
    bench=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# DuckDB equivalent of shingles_from_tokens∘tokenize for the oracle side
_SHINGLES_SQL = """
    list_filter(
      list_transform(
        range(1, len(regexp_split_to_array(lower(trim(text)), '\\s+')) + 1),
        i -> CASE WHEN i + {n} - 1 <= len(regexp_split_to_array(lower(trim(text)), '\\s+'))
                  THEN array_to_string(
                         regexp_split_to_array(lower(trim(text)), '\\s+')[i : i + {n} - 1],
                         ' ')
             END),
      x -> x IS NOT NULL)
"""


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH shingled AS (
        SELECT doc_id, {hash64_sql('shingle')} AS sh
        FROM (
            SELECT doc_id, unnest({_SHINGLES_SQL.format(n=3)}) AS shingle
            FROM documents
        )
        GROUP BY doc_id, sh
    ), sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM shingled GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM shingled a JOIN shingled b
          ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           ROUND(CAST(i.n_common AS DOUBLE)
                 / (sa.n_shingles + sb.n_shingles - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE)
          / (sa.n_shingles + sb.n_shingles - i.n_common) >= 0.2
    """,
    doc="N-gram (3-word shingle) Jaccard near-dup: per-doc distinct "
    "shingle-hash array is built MAP-SIDE (array_distinct over the hashed "
    "shingle array — no distinct shuffle), set sizes ride along the "
    "exploded rows (no separate sizes aggregate/joins), so the only "
    "shuffles left are the inverted-index self-join on the 8-byte hash "
    "and the pair-count aggregate → |A∩B| / (|A|+|B|-|A∩B|) ≥ 0.2. "
    "Both engines hash identically, so collisions (≈n²/2^56) cannot "
    "diverge the oracle.",
    tags=("dedup",),
    bench=True,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ngram_jaccard_uncapped(spark, sf_dir)


def _ngram_jaccard_uncapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # round-robin (id, text) first: shingling + hashing are CPU-bound and
    # the scan may have too few partitions to parallelize them (see
    # minhash_signatures docstring)
    shingled = (
        docs.repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
        .select("doc_id", tokenize(F.col("text")).alias("tokens"))
        .select(
            "doc_id",
            F.array_distinct(
                F.transform(
                    shingles_from_tokens(F.col("tokens"), 3), lambda s: hash64(s)
                )
            ).alias("sh_arr"),
        )
        .select(
            "doc_id",
            F.size("sh_arr").alias("n_shingles"),
            F.explode("sh_arr").alias("sh"),
        )
    )
    a = shingled.alias("a")
    b = shingled.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_shingles").alias("na"),
            F.col("b.n_shingles").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return inter.filter(jac >= 0.2).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


#: Max document frequency for an index shingle in the capped variant.
#: Lee et al.-style absolute cap: candidate-join cost is then bounded by
#: cap * total_postings — LINEAR in corpus size, vs the uncapped
#: inverted index's sum(df^2), which grows super-linearly because hot
#: shingles ("of the X") gain df proportionally to the corpus.
_NGRAM_DF_CAP = 64

#: Cached adaptive-gate statistic: (realpath(sf_dir), documents file
#: state) -> max shingle document frequency. The gate depends only on
#: the corpus bytes, so it is cached exactly like a catalog table
#: statistic (ANALYZE): computed once per corpus, invalidated when the
#: source parquet's ``catalog.file_state`` changes. First query on a new
#: corpus pays one postings count-aggregate; every later run branches
#: for free. A corpus whose file state cannot be read recomputes.
_NGRAM_MAX_DF_CACHE: dict[tuple[str, tuple | None], int] = {}


def _max_shingle_df(spark: SparkSession, sf_dir: str) -> int:
    import os

    state = file_state(os.path.join(sf_dir, "documents.parquet"))
    key = (os.path.realpath(sf_dir), state)
    if state is None or key not in _NGRAM_MAX_DF_CACHE:
        docs = load_table(spark, sf_dir, "documents")
        posts = (
            docs.repartition(
                spark.sparkContext.defaultParallelism, F.col("doc_id")
            )
            .select("doc_id", tokenize(F.col("text")).alias("tokens"))
            .select(
                "doc_id",
                F.explode(
                    F.array_distinct(
                        F.transform(
                            shingles_from_tokens(F.col("tokens"), 3),
                            lambda s: hash64(s),
                        )
                    )
                ).alias("sh"),
            )
        )
        # df = docs-per-shingle (per-doc distinct, so count == df — the
        # same definition the oracle's HAVING uses). Map-side partial
        # counts make this one light shuffle; the driver receives ONE
        # scalar, never data rows.
        row = (
            posts.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .agg(F.max("df"))
            .first()
        )
        _NGRAM_MAX_DF_CACHE[key] = int(row[0] or 0)
    return _NGRAM_MAX_DF_CACHE[key]


@register(
    "dedup_ngram_jaccard_capped",
    oracle=f"""
    WITH shingled AS (
        SELECT doc_id, {hash64_sql('shingle')} AS sh
        FROM (
            SELECT doc_id, unnest({_SHINGLES_SQL.format(n=3)}) AS shingle
            FROM documents
        )
        GROUP BY doc_id, sh
    ), sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
        FROM shingled GROUP BY doc_id
    ), rare AS (
        SELECT sh FROM shingled GROUP BY sh
        HAVING COUNT(*) <= {_NGRAM_DF_CAP}
    ), idx AS (
        SELECT s.doc_id, s.sh FROM shingled s JOIN rare USING (sh)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM idx a JOIN idx b
          ON a.sh = b.sh AND a.doc_id < b.doc_id
    ), inter AS (
        SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM cand c
        JOIN shingled a ON a.doc_id = c.doc_a
        JOIN shingled b ON b.doc_id = c.doc_b AND b.sh = a.sh
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           ROUND(CAST(i.n_common AS DOUBLE)
                 / (sa.n_shingles + sb.n_shingles - i.n_common), 6)
               AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE)
          / (sa.n_shingles + sb.n_shingles - i.n_common) >= 0.2
    """,
    doc="Scale-bounded variant of dedup_ngram_jaccard: candidate pairs "
    "come from an inverted index that DROPS shingles with document "
    f"frequency > {_NGRAM_DF_CAP} (the Lee-et-al-style hot-shingle "
    "cap), so the self-join cost is bounded by cap * postings — LINEAR "
    "in corpus size, where the uncapped index pays sum(df^2) and goes "
    "super-linear as common shingles' df grows with the corpus "
    "(measured: the third SCALING.md decade). Jaccard is then computed "
    "EXACTLY for every candidate from the full per-doc distinct "
    "shingle arrays (size(array_intersect)) — reported pairs are "
    "exact; the only approximation is recall: a pair sharing ONLY "
    "hot shingles produces no candidate (such pairs are precisely the "
    "boilerplate-overlap ones a near-dup pass wants to ignore). The "
    "full arrays ride a hash join on doc_id, never through the "
    "candidate shuffle. Measured honesty (round 4): the SYNTHETIC "
    "corpus's vocabulary grows with corpus size (Heaps-like; max "
    "shingle df at sf1 is 25), so here the cap prunes nothing and the "
    "uncapped form's inverted index is already linear. On a "
    "natural-language corpus, common "
    "shingles' df grows ~linearly with the corpus and the uncapped "
    "sum(df^2) does not survive; this form does. ADAPTIVE (round 5): "
    "a cheap df-statistic (map-side-combined count per shingle, one "
    "scalar max to the driver, cached per corpus fingerprint like an "
    "ANALYZE statistic) decides the path — when max df <= cap the cap "
    "would prune nothing and the output is PROVABLY identical to the "
    "plain inverted-index join, so the query falls through to exactly "
    "that plan and skips the candidate-distinct + array-join "
    "insurance premium (steady-state cost ≈ the uncapped query); when "
    "hot shingles exist (the Zipfian regime "
    "scripts/hot_corpus_demo.py builds) the capped bucket path "
    "engages and keeps candidate cost linear.",
    tags=("dedup", "scale-twin"),
)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    if _max_shingle_df(spark, sf_dir) <= _NGRAM_DF_CAP:
        # Cap prunes nothing → output is PROVABLY identical to the
        # plain inverted-index join (every shingle is "rare", so the
        # candidate sets coincide); run exactly that plan and skip the
        # candidate-distinct + array-join insurance premium.
        return _ngram_jaccard_uncapped(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    arrs = barrier(
        docs.repartition(
            spark.sparkContext.defaultParallelism, F.col("doc_id")
        )
        .select("doc_id", tokenize(F.col("text")).alias("tokens"))
        .select(
            "doc_id",
            F.array_distinct(
                F.transform(
                    shingles_from_tokens(F.col("tokens"), 3),
                    lambda s: hash64(s),
                )
            ).alias("sh_arr"),
        )
        .withColumn("n_shingles", F.size("sh_arr")),
        # reused three times (postings + both sides of the pair join):
        # one materialization of the CPU-heavy shingle/hash pass
        "arrs",
    )
    posts = arrs.select("doc_id", F.explode("sh_arr").alias("sh"))
    # Hot shingles present: ONE shuffle of the postings builds the
    # per-shingle doc bucket; the df cap is a size filter on the
    # bucket, and candidate pairs are generated MAP-SIDE from each
    # sorted bucket (nested transform — the brand_affinity_lift
    # pattern), never via an index self-join.
    buckets = (
        posts.groupBy("sh")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter(
            (F.size("ds") >= 2) & (F.size("ds") <= _NGRAM_DF_CAP)
        )
        .select(F.array_sort("ds").alias("ds"))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + 2, _NGRAM_DF_CAP),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    pairs = (
        cand.join(
            arrs.select(
                F.col("doc_id").alias("doc_a"),
                F.col("sh_arr").alias("arr_a"),
                F.col("n_shingles").alias("na"),
            ),
            "doc_a",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("doc_b"),
                F.col("sh_arr").alias("arr_b"),
                F.col("n_shingles").alias("nb"),
            ),
            "doc_b",
        )
        .withColumn(
            "n_common", F.size(F.array_intersect("arr_a", "arr_b"))
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return pairs.filter(jac >= 0.2).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (portable-hash family → identical signatures in DuckDB)
# ---------------------------------------------------------------------------

NUM_HASHES = 12
BAND_SIZE = 3

_SHINGLED_DISTINCT_SQL = f"""
    shingled AS (
        SELECT doc_id, shingle
        FROM (SELECT doc_id, unnest({_SHINGLES_SQL.format(n=3)}) AS shingle
              FROM documents)
        GROUP BY doc_id, shingle
    ),
    based AS (
        SELECT doc_id, {hash64_sql('shingle')} % {HASH64_MOD} AS base_h
        FROM shingled
    )
"""

_SIG_AGGS_SQL = ",\n               ".join(
    f"MIN((base_h * {a} + {b}) % {HASH64_MOD}) AS h{i}"
    for i, (a, b) in enumerate(MINHASH_COEFFS[:NUM_HASHES])
)

_SIG_SQL = f"""
    sig AS (
        SELECT doc_id,
               {_SIG_AGGS_SQL}
        FROM based GROUP BY doc_id
    )
"""

_BANDS_SQL = "\n        UNION ALL\n".join(
    "        SELECT doc_id, {b} AS band_idx, ".format(b=b)
    + " || '_' || ".join(
        f"CAST(h{b * BAND_SIZE + j} AS VARCHAR)" for j in range(BAND_SIZE)
    )
    + " AS band_key FROM sig"
    for b in range(NUM_HASHES // BAND_SIZE)
)


@register(
    "dedup_minhash_signatures",
    oracle=f"""
    WITH {_SHINGLED_DISTINCT_SQL}, {_SIG_SQL}
    SELECT * FROM sig
    """,
    doc="Per-document MinHash signature (12 universal hashes over 3-word "
    "shingles, md5-prefix base hash). Strong oracle: every signature "
    "component must match DuckDB bit-for-bit.",
    tags=("dedup", "minhash"),
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_signatures(docs, "doc_id", "text", NUM_HASHES)


@register(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
    WITH {_SHINGLED_DISTINCT_SQL}, {_SIG_SQL},
    bands AS (
{_BANDS_SQL}
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
    """,
    doc="Banded-LSH candidate pairs (4 bands x 3 rows): docs agreeing on a "
    "full band. The shuffle key is the band bucket - no O(n^2) cross join.",
    tags=("dedup", "minhash"),
    bench=True,
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, "doc_id", "text", NUM_HASHES)
    pairs = lsh_candidate_pairs(sig, "doc_id", NUM_HASHES, BAND_SIZE)
    return pairs.select(
        F.col("id_a").alias("id_a"), F.col("id_b").alias("id_b")
    )


# ---------------------------------------------------------------------------
# SimHash (32-bit signatures; xor/bit_count exist in both engines).
# 16 bits saturates at ~5k docs (hamming<=3 admits ~half of all pairs);
# 32 bits keeps banded-LSH selective well past 1M docs.
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32

_TOKENS_HASHED_SQL = f"""
    tok AS (
        SELECT doc_id, token
        FROM (SELECT doc_id,
                     unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
              FROM documents)
        GROUP BY doc_id, token
    ),
    th AS (SELECT doc_id, {hash64_sql('token')} AS th FROM tok)
"""

_BIT_SUMS_SQL = ",\n               ".join(
    f"CAST(SUM(CASE WHEN (th >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s{j}"
    for j in range(SIMHASH_BITS)
)

_SIMHASH_EXPR_SQL = " + ".join(
    f"(CASE WHEN s{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END)"
    for j in range(SIMHASH_BITS)
)

_SIMHASH_SIG_SQL = f"""
    sums AS (
        SELECT doc_id,
               {_BIT_SUMS_SQL}
        FROM th GROUP BY doc_id
    ),
    simsig AS (
        SELECT doc_id, CAST({_SIMHASH_EXPR_SQL} AS BIGINT) AS simhash FROM sums
    )
"""


@register(
    "dedup_simhash_signatures",
    oracle=f"""
    WITH {_TOKENS_HASHED_SQL}, {_SIMHASH_SIG_SQL}
    SELECT * FROM simsig
    """,
    doc="32-bit SimHash per document: signed per-bit majority over distinct "
    "token hashes. Bit-exact against DuckDB.",
    tags=("dedup", "simhash"),
)
def dedup_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs, "doc_id", "text", SIMHASH_BITS)


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH {_TOKENS_HASHED_SQL}, {_SIMHASH_SIG_SQL},
    sliced AS (
        SELECT doc_id, simhash, 0 AS band_idx, (simhash >> 0) & 255 AS band_key FROM simsig
        UNION ALL
        SELECT doc_id, simhash, 1, (simhash >> 8) & 255 FROM simsig
        UNION ALL
        SELECT doc_id, simhash, 2, (simhash >> 16) & 255 FROM simsig
        UNION ALL
        SELECT doc_id, simhash, 3, (simhash >> 24) & 255 FROM simsig
    )
    SELECT id_a, id_b, hamming FROM (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM sliced a
        JOIN sliced b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                     AND a.doc_id < b.doc_id
    )
    WHERE hamming <= 3
    """,
    doc="SimHash near-dup pairs: banded buckets (4 x 8-bit slices; "
    "pigeonhole guarantees recall for hamming <= 3) then exact "
    "xor+bit_count filter.",
    tags=("dedup", "simhash"),
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sig = simhash(docs, "doc_id", "text", SIMHASH_BITS)
    pairs = simhash_near_pairs(sig, "doc_id", SIMHASH_BITS, bands=4, max_hamming=3)
    return pairs.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


# ---------------------------------------------------------------------------
# Cluster resolution: candidate pairs -> connected components
# ---------------------------------------------------------------------------

@register(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE {_SHINGLED_DISTINCT_SQL}, {_SIG_SQL},
    bands AS (
{_BANDS_SQL}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                   AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(node, root) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT node AS doc_id, MIN(root) AS component
    FROM reach GROUP BY node
    """,
    doc="Dedup clusters: connected components over the MinHash-LSH "
    "candidate-pair graph via distributed min-label propagation "
    "(operators/graph.py) — component id = min doc_id. The DuckDB oracle "
    "computes the same closure with a recursive CTE: two different "
    "algorithms must agree. Turns pairwise near-dup output into "
    "keep/drop sets.",
    tags=("dedup", "graph", "minhash"),
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flu_data_pipeline_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, "doc_id", "text", NUM_HASHES)
    pairs = lsh_candidate_pairs(sig, "doc_id", NUM_HASHES, BAND_SIZE)
    cc = connected_components(pairs, "id_a", "id_b")
    return cc.select(F.col("node").alias("doc_id"), F.col("component"))


@register(
    "dedup_components_scale",
    oracle=f"""
    WITH RECURSIVE {_SHINGLED_DISTINCT_SQL}, {_SIG_SQL},
    bands AS (
{_BANDS_SQL}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                   AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(node, root) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT node AS doc_id, MIN(root) AS component
    FROM reach GROUP BY node
    """,
    doc="Scale twin of dedup_components: the SAME LSH candidate graph "
    "resolved with the alternating large-star/small-star algorithm "
    "(Kiveris et al., SOCC'14; operators/graph.py "
    "connected_components_star) instead of min-label propagation. "
    "Rounds are O(log^2 n) INDEPENDENT OF COMPONENT DIAMETER — the "
    "form that survives the long-chain / power-law cluster shapes "
    "adversarial near-dup families produce at 100 TB, where "
    "propagation's O(diameter) rounds would either run forever or be "
    "cut off wrong by max_iter (property-tested on a path graph of "
    "length ≫ max_iter: tests/test_operators_property.py). Oracle is "
    "the identical recursive-CTE closure, so three algorithms (Spark "
    "star, Spark propagation via dedup_components, DuckDB recursion) "
    "must all agree.",
    tags=("dedup", "graph", "minhash", "scale-twin"),
)
def dedup_components_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flu_data_pipeline_spark.operators.graph import (
        connected_components_star,
    )

    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, "doc_id", "text", NUM_HASHES)
    pairs = lsh_candidate_pairs(sig, "doc_id", NUM_HASHES, BAND_SIZE)
    cc = connected_components_star(pairs, "id_a", "id_b")
    return cc.select(F.col("node").alias("doc_id"), F.col("component"))


@register(
    "dedup_cluster_size_histogram",
    oracle=f"""
    WITH RECURSIVE {_SHINGLED_DISTINCT_SQL}, {_SIG_SQL},
    bands AS (
{_BANDS_SQL}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                   AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(node, root) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (
        SELECT node AS doc_id, MIN(root) AS component
        FROM reach GROUP BY node
    ),
    sizes AS (
        SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM comp GROUP BY component
    ),
    hist AS (
        SELECT cluster_size,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(SUM(cluster_size) AS BIGINT) AS n_docs
        FROM sizes GROUP BY cluster_size
    ),
    singles AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM documents d
        WHERE NOT EXISTS (SELECT 1 FROM comp c WHERE c.doc_id = d.doc_id)
    )
    SELECT cluster_size, n_clusters, n_docs,
           CAST(n_docs - n_clusters AS BIGINT) AS n_redundant
    FROM (
        SELECT * FROM hist
        UNION ALL
        SELECT 1, n, n FROM singles WHERE n > 0
    )
    ORDER BY cluster_size
    """,
    doc="Duplication-inflation profile of the corpus: cluster-size "
    "histogram over the MinHash-LSH near-dup components INCLUDING "
    "singletons (docs with no candidate edge — an anti-join against "
    "the component node set; every edge-connected component has size "
    ">= 2, so the singleton row never collides with a graph row). "
    "Per size: cluster count, docs covered, and docs redundant under "
    "keep-one-per-cluster — summed over rows this is exactly the "
    "corpus shrinkage a dedup pass buys, the first number a training "
    "run wants from a new crawl (power-law tails here mean a few "
    "giant boilerplate families dominate the savings). Composition "
    "is proven parts (signatures → banded pairs → distributed "
    "components → two keyed aggregates + one anti-join); the oracle "
    "replays the whole chain through the recursive-CTE closure.",
    tags=("dedup", "graph", "minhash", "A10"),
)
def dedup_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from flu_data_pipeline_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, "doc_id", "text", NUM_HASHES)
    pairs = lsh_candidate_pairs(sig, "doc_id", NUM_HASHES, BAND_SIZE)
    cc = connected_components(pairs, "id_a", "id_b")
    sizes = cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
    )
    singles = (
        docs.select("doc_id")
        .join(
            cc.select(F.col("node").alias("doc_id")), "doc_id", "left_anti"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 0)
        .select(
            F.lit(1).cast("bigint").alias("cluster_size"),
            F.col("n").alias("n_clusters"),
            F.col("n").alias("n_docs"),
        )
    )
    return (
        hist.unionByName(singles)
        .select(
            "cluster_size",
            "n_clusters",
            "n_docs",
            (F.col("n_docs") - F.col("n_clusters"))
            .cast("bigint")
            .alias("n_redundant"),
        )
        .orderBy("cluster_size")
    )


@register(
    "fuzzy_blocked_pairs",
    oracle="""
    WITH p AS (
        SELECT p_partkey, p_name, p_size,
               string_split(p_name, ' ')[1] AS blk
        FROM part
    )
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM p a JOIN p b
      ON a.blk = b.blk AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
    doc="Entity resolution by blocking + edit distance: candidate pairs "
    "share a blocking key (first name token, size), then exact "
    "levenshtein <= 4 filters to near-matches. The blocking join is the "
    "scale mechanism — pair generation is bounded per block instead of "
    "O(n^2) over the table; at 100 TB the block key is what you'd "
    "bucket/partition by. Ordered (id_a < id_b) emits each pair once.",
    tags=("dedup", "fuzzy", "levenshtein"),
)
def fuzzy_blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_size",
        F.split("p_name", " ").getItem(0).alias("blk"),
    )
    a = p.select(
        F.col("p_partkey").alias("id_a"),
        F.col("p_name").alias("name_a"),
        F.col("blk").alias("blk_a"),
        F.col("p_size").alias("size_a"),
    )
    b = p.select(
        F.col("p_partkey").alias("id_b"),
        F.col("p_name").alias("name_b"),
        F.col("blk").alias("blk_b"),
        F.col("p_size").alias("size_b"),
    )
    return (
        a.join(
            b,
            (F.col("blk_a") == F.col("blk_b"))
            & (F.col("size_a") == F.col("size_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .filter(F.levenshtein("name_a", "name_b") <= 4)
        .select(
            "id_a",
            "id_b",
            F.levenshtein("name_a", "name_b").cast("int").alias("dist"),
        )
    )


@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH shingled AS (
        SELECT doc_id, {hash64_sql('shingle')} AS sh
        FROM (
            SELECT doc_id, unnest({_SHINGLES_SQL.format(n=3)}) AS shingle
            FROM documents
        )
        GROUP BY doc_id, sh
    ), sized AS (
        SELECT doc_id, sh,
               CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_shingles
        FROM shingled
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.n_shingles AS na, b.n_shingles AS nb,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM sized a JOIN sized b
          ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_common AS DOUBLE) / LEAST(na, nb), 6) AS containment
    FROM inter
    WHERE CAST(n_common AS DOUBLE) / LEAST(na, nb) >= 0.5
    """,
    doc="Containment near-dup (|A∩B| / min(|A|,|B|)): catches a short "
    "document embedded inside a longer one, which symmetric Jaccard "
    "dilutes below threshold — the snippet/quotation case in corpus "
    "dedup. Same map-side shingle-hash machinery and inverted-index "
    "self-join as dedup_ngram_jaccard; only the normalization differs.",
    tags=("dedup",),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    shingled = (
        docs.repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
        .select("doc_id", tokenize(F.col("text")).alias("tokens"))
        .select(
            "doc_id",
            F.array_distinct(
                F.transform(
                    shingles_from_tokens(F.col("tokens"), 3), lambda s: hash64(s)
                )
            ).alias("sh_arr"),
        )
        .select(
            "doc_id",
            F.size("sh_arr").cast("long").alias("n_shingles"),
            F.explode("sh_arr").alias("sh"),
        )
    )
    a = shingled.alias("a")
    b = shingled.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_shingles").alias("na"),
            F.col("b.n_shingles").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    containment = F.col("n_common").cast("double") / F.least("na", "nb")
    return inter.filter(containment >= 0.5).select(
        "doc_a", "doc_b", F.round(containment, 6).alias("containment")
    )


@register(
    "dedup_cluster_reps",
    oracle=f"""
    WITH RECURSIVE {_SHINGLED_DISTINCT_SQL}, {_SIG_SQL},
    bands AS (
{_BANDS_SQL}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                   AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(node, root) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (
        SELECT node AS doc_id, MIN(root) AS component
        FROM reach GROUP BY node
    )
    SELECT component AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
    FROM comp
    GROUP BY component
    """,
    doc="Dedup decision table: each near-dup cluster collapsed to its "
    "canonical representative (min doc_id = the component label) with "
    "the kept/dropped accounting — the final artifact a corpus-dedup "
    "pass hands to the filter step. Rolls up the dedup_components "
    "output; at scale the drop-set joins back as a broadcast/bloom "
    "anti-filter on the corpus.",
    tags=("dedup", "graph", "minhash"),
)
def dedup_cluster_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flu_data_pipeline_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, "doc_id", "text", NUM_HASHES)
    pairs = lsh_candidate_pairs(sig, "doc_id", NUM_HASHES, BAND_SIZE)
    cc = connected_components(pairs, "id_a", "id_b")
    return cc.groupBy(F.col("component").alias("keep_doc_id")).agg(
        F.count(F.lit(1)).alias("cluster_size"),
        (F.count(F.lit(1)) - 1).alias("n_dropped"),
    )


_JACCARD_TRUTH_SQL = f"""
    jsh AS (
        SELECT doc_id, {hash64_sql('shingle')} AS sh
        FROM (
            SELECT doc_id, unnest({_SHINGLES_SQL.format(n=3)}) AS shingle
            FROM documents
        )
        GROUP BY doc_id, sh
    ), jsizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
        FROM jsh GROUP BY doc_id
    ), jinter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM jsh a JOIN jsh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), truth AS (
        SELECT i.doc_a, i.doc_b
        FROM jinter i
        JOIN jsizes sa ON sa.doc_id = i.doc_a
        JOIN jsizes sb ON sb.doc_id = i.doc_b
        WHERE CAST(i.n_common AS DOUBLE)
              / (sa.n_shingles + sb.n_shingles - i.n_common) >= 0.2
    )
"""


@register(
    "dedup_lsh_eval",
    oracle=f"""
    WITH {_SHINGLED_DISTINCT_SQL}, {_SIG_SQL},
    bands AS (
{_BANDS_SQL}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id
    ), {_JACCARD_TRUTH_SQL},
    joined AS (
        SELECT COALESCE(t.doc_a, c.doc_a) AS doc_a,
               (t.doc_a IS NOT NULL) AS in_truth,
               (c.doc_a IS NOT NULL) AS in_cand
        FROM truth t FULL OUTER JOIN cand c
          ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    )
    SELECT CAST(SUM(CASE WHEN in_truth THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
           CAST(SUM(CASE WHEN in_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
           CAST(SUM(CASE WHEN in_truth AND in_cand THEN 1 ELSE 0 END)
                AS BIGINT) AS tp,
           ROUND(CAST(SUM(CASE WHEN in_truth AND in_cand THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / SUM(CASE WHEN in_cand THEN 1 ELSE 0 END), 6) AS precision,
           ROUND(CAST(SUM(CASE WHEN in_truth AND in_cand THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / SUM(CASE WHEN in_truth THEN 1 ELSE 0 END), 6) AS recall
    FROM joined
    """,
    doc="Retrieval-quality evaluation of the banded-LSH candidate "
    "generator against exact n-gram-Jaccard truth (threshold 0.2): "
    "TP/precision/recall in one summary row via a full-outer join of "
    "the two pair sets. With 4 bands × 3 rows the theoretical candidate "
    "probability is 1-(1-s³)⁴ — low recall at s≈0.2 and near-1 for "
    "true near-dups — and this query MEASURES that curve's integral on "
    "real data, deterministically on both engines (shared hash family). "
    "The production knob it informs: more/narrower bands raise recall "
    "at the cost of candidate volume; both pair sets stay "
    "bucket-bounded, never all-pairs.",
    tags=("dedup", "minhash", "quality"),
)
def dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    truth = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    sig = minhash_signatures(docs, "doc_id", "text", NUM_HASHES)
    cand = lsh_candidate_pairs(sig, "doc_id", NUM_HASHES, BAND_SIZE).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    t, c = truth.alias("t"), cand.alias("c")
    joined = t.join(
        c,
        (F.col("t.doc_a") == F.col("c.doc_a"))
        & (F.col("t.doc_b") == F.col("c.doc_b")),
        "full_outer",
    ).select(
        F.col("t.doc_a").isNotNull().alias("in_truth"),
        F.col("c.doc_a").isNotNull().alias("in_cand"),
    )
    tp = F.sum((F.col("in_truth") & F.col("in_cand")).cast("int"))
    return joined.agg(
        F.sum(F.col("in_truth").cast("int")).alias("n_truth"),
        F.sum(F.col("in_cand").cast("int")).alias("n_cand"),
        tp.alias("tp"),
        F.round(tp.cast("double") / F.sum(F.col("in_cand").cast("int")), 6).alias(
            "precision"
        ),
        F.round(tp.cast("double") / F.sum(F.col("in_truth").cast("int")), 6).alias(
            "recall"
        ),
    )


@register(
    "linkage_fs_weights",
    oracle="""
    WITH sides AS (
        SELECT p_partkey AS id, p_name AS name, p_brand AS brand,
               p_type AS type, p_size AS size,
               split_part(p_name, ' ', 1) AS blk
        FROM part
    ), pairs AS (
        SELECT CASE WHEN levenshtein(a.name, b.name) <= 4
                    THEN 1 ELSE 0 END AS is_match,
               CASE WHEN a.brand = b.brand THEN 1 ELSE 0 END AS agr_brand,
               CASE WHEN a.type = b.type THEN 1 ELSE 0 END AS agr_type,
               CASE WHEN a.size = b.size THEN 1 ELSE 0 END AS agr_size
        FROM sides a JOIN sides b
          ON a.blk = b.blk AND a.id < b.id
    ), tot AS (
        SELECT SUM(is_match) AS n_m, SUM(1 - is_match) AS n_u,
               SUM(is_match * agr_brand) AS m_brand,
               SUM((1 - is_match) * agr_brand) AS u_brand,
               SUM(is_match * agr_type) AS m_type,
               SUM((1 - is_match) * agr_type) AS u_type,
               SUM(is_match * agr_size) AS m_size,
               SUM((1 - is_match) * agr_size) AS u_size
        FROM pairs
    ), fields AS (
        SELECT 'brand' AS field, m_brand AS a_m, u_brand AS a_u, n_m, n_u
        FROM tot
        UNION ALL
        SELECT 'type', m_type, u_type, n_m, n_u FROM tot
        UNION ALL
        SELECT 'size', m_size, u_size, n_m, n_u FROM tot
    )
    SELECT field,
           CAST(n_m AS BIGINT) AS n_match,
           CAST(n_u AS BIGINT) AS n_unmatch,
           ROUND((a_m + 0.5) / (n_m + 1.0), 6) AS m_prob,
           ROUND((a_u + 0.5) / (n_u + 1.0), 6) AS u_prob,
           ROUND(ln(((a_m + 0.5) / (n_m + 1.0))
                    / ((a_u + 0.5) / (n_u + 1.0))), 6) AS w_agree,
           ROUND(ln((1.0 - (a_m + 0.5) / (n_m + 1.0))
                    / (1.0 - (a_u + 0.5) / (n_u + 1.0))), 6) AS w_disagree
    FROM fields
    ORDER BY field
    """,
    doc="Fellegi-Sunter record-linkage field weights, estimated from "
    "blocked candidate pairs: pairs sharing a block (first name word) "
    "are labeled match/unmatch by a deterministic edit-distance rule "
    "(levenshtein <= 4, same rule as fuzzy_blocked_pairs), then each "
    "comparison field (brand / type / size) gets m = P(agree|match), "
    "u = P(agree|unmatch) with +0.5/+1 Laplace smoothing (no ln(0)), "
    "and the classic agreement/disagreement log-likelihood weights "
    "ln(m/u), ln((1-m)/(1-u)). Downstream, a pair's match score is "
    "the SUM of its per-field weights — this query produces that "
    "scoring table. (Production FS fits m,u by EM; the label rule "
    "here is a stated deterministic proxy so both engines agree "
    "exactly.) Scale shape: identical to the blocked fuzzy join — "
    "block-bounded self-join, then ONE conditional-aggregation pass "
    "to a single row reshaped to field-cardinality; no per-field "
    "rescans of the pair set.",
    tags=("dedup", "linkage", "J6", "A10"),
)
def linkage_fs_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_brand",
        "p_type",
        "p_size",
        F.split("p_name", " ").getItem(0).alias("blk"),
    )
    a = p.select(
        F.col("p_partkey").alias("id_a"), F.col("p_name").alias("name_a"),
        F.col("p_brand").alias("brand_a"), F.col("p_type").alias("type_a"),
        F.col("p_size").alias("size_a"), F.col("blk").alias("blk_a"),
    )
    b = p.select(
        F.col("p_partkey").alias("id_b"), F.col("p_name").alias("name_b"),
        F.col("p_brand").alias("brand_b"), F.col("p_type").alias("type_b"),
        F.col("p_size").alias("size_b"), F.col("blk").alias("blk_b"),
    )
    is_match = (F.levenshtein("name_a", "name_b") <= 4).cast("long")
    pairs = a.join(
        b, (F.col("blk_a") == F.col("blk_b")) & (F.col("id_a") < F.col("id_b"))
    ).select(
        is_match.alias("is_match"),
        (F.col("brand_a") == F.col("brand_b")).cast("long").alias("agr_brand"),
        (F.col("type_a") == F.col("type_b")).cast("long").alias("agr_type"),
        (F.col("size_a") == F.col("size_b")).cast("long").alias("agr_size"),
    )
    um = 1 - F.col("is_match")
    tot = pairs.agg(
        F.sum("is_match").alias("n_m"),
        F.sum(um).alias("n_u"),
        F.sum(F.col("is_match") * F.col("agr_brand")).alias("m_brand"),
        F.sum(um * F.col("agr_brand")).alias("u_brand"),
        F.sum(F.col("is_match") * F.col("agr_type")).alias("m_type"),
        F.sum(um * F.col("agr_type")).alias("u_type"),
        F.sum(F.col("is_match") * F.col("agr_size")).alias("m_size"),
        F.sum(um * F.col("agr_size")).alias("u_size"),
    )
    fields = tot.select(
        F.expr(
            "stack(3, 'brand', m_brand, u_brand, "
            "'type', m_type, u_type, "
            "'size', m_size, u_size) AS (field, a_m, a_u)"
        ),
        "n_m",
        "n_u",
    )
    m_prob = (F.col("a_m") + 0.5) / (F.col("n_m") + 1.0)
    u_prob = (F.col("a_u") + 0.5) / (F.col("n_u") + 1.0)
    return fields.select(
        "field",
        F.col("n_m").cast("bigint").alias("n_match"),
        F.col("n_u").cast("bigint").alias("n_unmatch"),
        F.round(m_prob, 6).alias("m_prob"),
        F.round(u_prob, 6).alias("u_prob"),
        F.round(F.log(m_prob / u_prob), 6).alias("w_agree"),
        F.round(F.log((1.0 - m_prob) / (1.0 - u_prob)), 6).alias("w_disagree"),
    ).orderBy("field")


@register(
    "dedup_survivorship_best",
    oracle=f"""
    WITH RECURSIVE {_SHINGLED_DISTINCT_SQL}, {_SIG_SQL},
    bands AS (
{_BANDS_SQL}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                   AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(node, root) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (
        SELECT node AS doc_id, MIN(root) AS component
        FROM reach GROUP BY node
    ),
    scored AS (
        SELECT c.component, c.doc_id, d.n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY c.component
                   ORDER BY d.n_chars DESC, c.doc_id
               ) AS rk
        FROM comp c JOIN documents d ON c.doc_id = d.doc_id
    )
    SELECT component,
           CAST(MAX(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT)
               AS survivor_doc_id,
           CAST(MAX(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT)
               AS survivor_n_chars,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           CAST(MAX(CASE WHEN rk = 1 THEN doc_id END) = MIN(doc_id)
                AS INT) AS same_as_min_id
    FROM scored
    GROUP BY component
    ORDER BY component
    """,
    doc="Quality-based survivorship for near-dup clusters — the "
    "production 'keep the BEST copy' rule, vs dedup_cluster_reps' "
    "'keep the min-id copy': within each minhash-LSH connected "
    "component, the survivor is the longest document (n_chars desc, "
    "doc_id tie-break) — the usual proxy when near-dups differ by "
    "truncation or boilerplate stripping; any scoring column "
    "(quality gate output, recency, source priority) swaps into the "
    "same ordered window. same_as_min_id exposes how often the "
    "naive label-as-representative choice would have kept a "
    "SHORTER copy — the measurable argument for survivorship "
    "logic. Scale shape: components as before (distributed label "
    "propagation), one broadcast-joinable doc-stats join, one "
    "per-component window at cluster cardinality.",
    tags=("dedup", "graph", "minhash", "A6"),
)
def dedup_survivorship_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flu_data_pipeline_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, "doc_id", "text", NUM_HASHES)
    pairs = lsh_candidate_pairs(sig, "doc_id", NUM_HASHES, BAND_SIZE)
    cc = connected_components(pairs, "id_a", "id_b")
    scored = cc.join(
        docs.select("doc_id", "n_chars"),
        cc.node == F.col("doc_id"),
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    ranked = scored.select(
        "component", "doc_id", "n_chars", F.row_number().over(w).alias("rk")
    )
    return (
        ranked.groupBy("component")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("doc_id")))
            .cast("bigint")
            .alias("survivor_doc_id"),
            F.max(F.when(F.col("rk") == 1, F.col("n_chars")))
            .cast("bigint")
            .alias("survivor_n_chars"),
            F.count(F.lit(1)).alias("cluster_size"),
            (
                F.max(F.when(F.col("rk") == 1, F.col("doc_id")))
                == F.min("doc_id")
            )
            .cast("int")
            .alias("same_as_min_id"),
        )
        .orderBy("component")
    )


@register(
    "dedup_incremental_ingest",
    oracle=f"""
    WITH {_SHINGLED_DISTINCT_SQL}, {_SIG_SQL},
    bands AS (
{_BANDS_SQL}
    ),
    side AS (
        SELECT doc_id,
               CASE WHEN {hash64_sql('CAST(doc_id AS VARCHAR)')} % 2 = 0
                    THEN 1 ELSE 0 END AS is_index
        FROM documents
    ),
    fp AS (SELECT doc_id, md5(text) AS h FROM documents),
    exact_m AS (
        SELECT bf.doc_id, CAST(MIN(ifp.doc_id) AS BIGINT) AS exact_match_id
        FROM fp bf
        JOIN side sb ON bf.doc_id = sb.doc_id AND sb.is_index = 0
        JOIN fp ifp ON ifp.h = bf.h
        JOIN side si ON ifp.doc_id = si.doc_id AND si.is_index = 1
        GROUP BY bf.doc_id
    ),
    near_m AS (
        SELECT bb.doc_id, CAST(MIN(ib.doc_id) AS BIGINT) AS near_match_id
        FROM bands bb
        JOIN side sb ON bb.doc_id = sb.doc_id AND sb.is_index = 0
        JOIN bands ib ON ib.band_idx = bb.band_idx
                     AND ib.band_key = bb.band_key
        JOIN side si ON ib.doc_id = si.doc_id AND si.is_index = 1
        GROUP BY bb.doc_id
    )
    SELECT s.doc_id,
           CAST(CASE WHEN e.exact_match_id IS NOT NULL
                     THEN 1 ELSE 0 END AS INT) AS exact_dup,
           CAST(CASE WHEN n.near_match_id IS NOT NULL
                     THEN 1 ELSE 0 END AS INT) AS near_dup,
           e.exact_match_id, n.near_match_id
    FROM side s
    LEFT JOIN exact_m e ON s.doc_id = e.doc_id
    LEFT JOIN near_m n ON s.doc_id = n.doc_id
    WHERE s.is_index = 0
      AND (e.exact_match_id IS NOT NULL OR n.near_match_id IS NOT NULL)
    ORDER BY s.doc_id
    """,
    doc="Incremental-ingest dedup: screen a NEW document batch against an "
    "EXISTING corpus index (deterministic hash-split stands in for the "
    "two generations) on two tiers — exact (content md5 probe into the "
    "index fingerprint set) and near (MinHash band keys probed into "
    "the index's banded-LSH buckets, same 4x3 banding as "
    "dedup_minhash_lsh_pairs via operators/dedup.lsh_bands). This is "
    "the production crawl-refresh shape: only the new batch is "
    "re-shingled; the index contributes precomputed fingerprints and "
    "band keys. Scale shape: both probes are bucket-keyed joins "
    "(hash / (band_idx, band_key)) whose shuffle is bounded by bucket "
    "sizes; at 100 TB the index side is served from its stored "
    "signature table and a bloom filter of index fingerprints "
    "(bloom_semi_prune pattern) discards clean batch docs before the "
    "join.",
    tags=("dedup", "minhash", "curation", "D1"),
    bench=True,
)
def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    is_index = hash64(F.col("doc_id").cast("string")) % 2 == F.lit(0)
    idx = docs.filter(is_index)
    batch = docs.filter(~is_index)

    exact = (
        batch.select("doc_id", F.md5("text").alias("h"))
        .join(
            idx.select(
                F.md5("text").alias("h"), F.col("doc_id").alias("i_id")
            ),
            "h",
        )
        .groupBy("doc_id")
        .agg(F.min("i_id").cast("bigint").alias("exact_match_id"))
    )
    bands_b = lsh_bands(
        minhash_signatures(batch, "doc_id", "text", NUM_HASHES),
        "doc_id",
        NUM_HASHES,
        BAND_SIZE,
    )
    bands_i = lsh_bands(
        minhash_signatures(idx, "doc_id", "text", NUM_HASHES),
        "doc_id",
        NUM_HASHES,
        BAND_SIZE,
    ).withColumnRenamed("doc_id", "i_id")
    near = (
        bands_b.join(bands_i, ["band_idx", "band_key"])
        .groupBy("doc_id")
        .agg(F.min("i_id").cast("bigint").alias("near_match_id"))
    )
    return (
        batch.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .filter(
            F.col("exact_match_id").isNotNull()
            | F.col("near_match_id").isNotNull()
        )
        .select(
            "doc_id",
            F.when(F.col("exact_match_id").isNotNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("exact_dup"),
            F.when(F.col("near_match_id").isNotNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("near_dup"),
            "exact_match_id",
            "near_match_id",
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_lsh_recall_audit",
    oracle=f"""
    WITH {_SHINGLED_DISTINCT_SQL}, {_SIG_SQL},
    bands AS (
{_BANDS_SQL}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id
    ),
    shash AS (
        SELECT doc_id, {hash64_sql('shingle')} AS sh
        FROM shingled GROUP BY doc_id, sh
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shash GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM shash a JOIN shash b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT i.doc_a, i.doc_b,
               FLOOR(CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c) * 10) / 10
                   AS jac_bucket
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
    ),
    joined AS (
        SELECT t.jac_bucket,
               CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS caught
        FROM truth t
        LEFT JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    )
    SELECT jac_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
           CAST(SUM(caught) AS BIGINT) AS n_caught,
           ROUND(CAST(SUM(caught) AS DOUBLE) / COUNT(*), 6) AS recall,
           ROUND(1 - POWER(1 - POWER(jac_bucket + 0.05,
                                     {BAND_SIZE}), {NUM_HASHES // BAND_SIZE}),
                 6) AS lsh_theory
    FROM joined
    GROUP BY jac_bucket
    ORDER BY jac_bucket
    """,
    doc=f"Measured LSH s-curve: for every pair of docs sharing >=1 shingle, "
    "bucket the EXACT n-gram Jaccard (floor to 0.1) and report what "
    f"fraction of each bucket the banded MinHash-LSH ({NUM_HASHES // BAND_SIZE} "
    f"bands x {BAND_SIZE} rows) actually emits as a candidate, next to the "
    "theoretical 1-(1-s^r)^b at the bucket midpoint — the audit that "
    "justifies the band/row choice with data instead of folklore. "
    "High-similarity buckets must sit near recall 1.0; the near-zero "
    "bucket's recall is the wasted-verification rate (precision cost). "
    "Composes the two proven primitives (inverted-index exact Jaccard, "
    "banded LSH candidates) and joins them on the pair key — truth pairs "
    "and candidate pairs both stay bucket-bounded, never O(n^2). At 100 "
    "TB this runs on a stratified document sample, not the full corpus; "
    "the estimate only needs enough pairs per bucket.",
    tags=("dedup", "minhash", "eval"),
    bench=True,
)
def dedup_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flu_data_pipeline_spark.functions.hashing import (
        HASH64_MOD,
        MINHASH_COEFFS,
    )

    docs = load_table(spark, sf_dir, "documents")
    # ONE md5 pass serves both pipelines: the raw 56-bit shingle-hash
    # array is checkpointed, signatures derive map-side from it (mod-P
    # universal family) and the exact-Jaccard side explodes its distinct
    # elements — previously each pipeline re-tokenized and re-hashed the
    # corpus (md5-per-shingle dominates; measured ~1.4x on bench).
    hashed = barrier(
        docs.repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
        .select("doc_id", tokenize(F.col("text")).alias("tokens"))
        .filter(F.size("tokens") >= 3)
        .select(
            "doc_id",
            F.transform(
                shingles_from_tokens(F.col("tokens"), 3), lambda s: hash64(s)
            ).alias("h_arr"),
        ),
        "hashed",
    )
    sig = hashed.select(
        "doc_id",
        *[
            F.array_min(
                F.transform(
                    "h_arr", lambda h: ((h % HASH64_MOD) * a + b) % HASH64_MOD
                )
            ).alias(f"h{i}")
            for i, (a, b) in enumerate(MINHASH_COEFFS[:NUM_HASHES])
        ],
    )
    cand = lsh_candidate_pairs(sig, "doc_id", NUM_HASHES, BAND_SIZE)

    shingled = hashed.select(
        "doc_id", F.array_distinct("h_arr").alias("sh_arr")
    ).select(
        "doc_id",
        F.size("sh_arr").alias("n_shingles"),
        F.explode("sh_arr").alias("sh"),
    )
    a, b = shingled.alias("a"), shingled.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_shingles").alias("na"),
            F.col("b.n_shingles").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    jac = F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
    truth = inter.select(
        "doc_a", "doc_b", (F.floor(jac * 10) / 10).alias("jac_bucket")
    )
    joined = truth.join(
        cand,
        (F.col("doc_a") == F.col("id_a")) & (F.col("doc_b") == F.col("id_b")),
        "left",
    ).select(
        "jac_bucket",
        F.when(F.col("id_a").isNull(), 0).otherwise(1).alias("caught"),
    )
    b_, r_ = NUM_HASHES // BAND_SIZE, BAND_SIZE
    theory = 1 - F.pow(1 - F.pow(F.col("jac_bucket") + 0.05, r_), b_)
    return (
        joined.groupBy("jac_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_true_pairs"),
            F.sum("caught").cast("long").alias("n_caught"),
            F.round(
                F.sum("caught").cast("double") / F.count(F.lit(1)), 6
            ).alias("recall"),
        )
        .select(
            "jac_bucket",
            "n_true_pairs",
            "n_caught",
            "recall",
            F.round(theory, 6).alias("lsh_theory"),
        )
        .orderBy("jac_bucket")
    )


_SWEEP_THRESHOLDS = [round(0.1 * i, 1) for i in range(1, 10)]


@register(
    "dedup_threshold_sweep",
    oracle=f"""
    WITH shingled AS (
        SELECT doc_id, {hash64_sql('shingle')} AS sh
        FROM (
            SELECT doc_id, unnest({_SHINGLES_SQL.format(n=3)}) AS shingle
            FROM documents
        )
        GROUP BY doc_id, sh
    ), sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shingled GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM shingled a JOIN shingled b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), jac AS (
        SELECT i.doc_a, i.doc_b,
               CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c) AS j
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
    ), swept AS (
        SELECT t.t, jac.doc_a, jac.doc_b
        FROM jac JOIN (SELECT unnest(ARRAY[{", ".join(map(str, _SWEEP_THRESHOLDS))}]) AS t) t
          ON jac.j >= t.t
    )
    SELECT t AS threshold,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs_involved
    FROM (
        SELECT t, doc_a AS d FROM swept
        UNION ALL
        SELECT t, doc_b FROM swept
    )
    GROUP BY t
    ORDER BY t
    """,
    doc="Dedup-threshold sensitivity sweep: from ONE inverted-index pair "
    "computation, how many near-dup pairs and affected documents exist "
    "at every Jaccard cutoff 0.1..0.9 — the curve a data curator reads "
    "before committing to a threshold (too low: melts distinct docs "
    "together; too high: misses templated boilerplate). The pair frame "
    "is computed once and checkpointed (bucket-bounded inverted-index "
    "join, never all-pairs); the 9-way threshold fan-out explodes "
    "bounded pair rows, not documents. n_pairs counts doc-id slots "
    "(2x pairs), matching the doc-impact reading.",
    tags=("dedup", "eval", "A8", "A10"),
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    shingled = (
        docs.repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
        .select("doc_id", tokenize(F.col("text")).alias("tokens"))
        .select(
            "doc_id",
            F.array_distinct(
                F.transform(
                    shingles_from_tokens(F.col("tokens"), 3), lambda s: hash64(s)
                )
            ).alias("sh_arr"),
        )
        .select(
            "doc_id",
            F.size("sh_arr").alias("n_shingles"),
            F.explode("sh_arr").alias("sh"),
        )
    )
    a, b = shingled.alias("a"), shingled.alias("b")
    jac_col = F.col("c").cast("double") / (
        F.col("na") + F.col("nb") - F.col("c")
    )
    pairs = barrier(
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_shingles").alias("na"),
            F.col("b.n_shingles").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .select("doc_a", "doc_b", jac_col.alias("j")),
        "pairs",
    )
    thresholds = F.array(*[F.lit(t) for t in _SWEEP_THRESHOLDS])
    swept = pairs.select(
        F.explode(F.filter(thresholds, lambda t: F.col("j") >= t)).alias("t"),
        "doc_a",
        "doc_b",
    )
    slots = swept.select("t", F.col("doc_a").alias("d")).unionAll(
        swept.select("t", F.col("doc_b").alias("d"))
    )
    return (
        slots.groupBy(F.col("t").alias("threshold"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("d").alias("n_docs_involved"),
        )
        .orderBy("threshold")
    )


@register(
    "lsh_band_pair_metric",
    oracle=f"""
    WITH {_SHINGLED_DISTINCT_SQL}, {_SIG_SQL},
    bands AS (
{_BANDS_SQL}
    ),
    grp AS (
        SELECT band_idx, band_key, COUNT(*) AS c
        FROM bands GROUP BY band_idx, band_key
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sig) AS n_docs,
           CAST(SUM(c) AS BIGINT) AS n_band_rows,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(c) AS BIGINT) AS max_bucket,
           CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS pair_candidates
    FROM grp
    """,
    doc="Banded-LSH candidate VOLUME proven from execution metrics — "
    "the third self-proving-v2 gate (with semdedup_pair_cap_metric "
    "and ivf_pruning_files_metric): the builder executes the band-"
    "bucket self-join dedup_minhash_lsh_pairs runs (pre-distinct) and "
    "emits the join node's numOutputRows SQLMetric as "
    "pair_candidates; the oracle replays signatures + banding and "
    "computes sum over (band_idx, band_key) buckets of c*(c-1)/2 with "
    "no join at all. Candidate volume is THE scaling number for "
    "MinHash dedup (bucket sizes, not n^2, bound the shuffle — the "
    "claim every banded-LSH docstring makes); a hash match means the "
    "executed join moved exactly the pairs the bucket arithmetic "
    "admits, and max_bucket is the skew indicator an operator watches "
    "before raising the band count. The builder cross-checks metric "
    "== collected count (one execution) so a wrong-node read cannot "
    "pass silently.",
    tags=("dedup", "minhash", "scale-proof", "metrics"),
)
def lsh_band_pair_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flu_data_pipeline_spark.operators.dedup import (
        lsh_bands,
        minhash_signatures,
    )
    from flu_data_pipeline_spark.operators.plan_metrics import (
        collect_with_metrics,
    )

    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, "doc_id", "text", NUM_HASHES)
    banded = barrier(
        lsh_bands(sig, "doc_id", NUM_HASHES, BAND_SIZE), "banded", eager=False
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    probe = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    rows, mets = collect_with_metrics(probe, "Join")
    if len(mets) != 1:
        raise AssertionError(
            f"expected exactly 1 join node in the band probe, "
            f"found {len(mets)}"
        )
    pair_metric = int(mets[0]["numOutputRows"])
    if pair_metric != int(rows[0]["cnt"]):
        raise AssertionError(
            f"join metric {pair_metric} != collected pair count "
            f"{rows[0]['cnt']} — wrong node read"
        )
    stats = (
        banded.groupBy("band_idx", "band_key")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum("c").cast("bigint").alias("n_band_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.max("c").cast("bigint").alias("max_bucket"),
        )
        .first()
    )
    n_docs = sig.count()
    return spark.createDataFrame(
        [(
            n_docs,
            int(stats["n_band_rows"]),
            int(stats["n_buckets"]),
            int(stats["max_bucket"]),
            pair_metric,
        )],
        "n_docs bigint, n_band_rows bigint, n_buckets bigint, "
        "max_bucket bigint, pair_candidates bigint",
    )


# ---------------------------------------------------------------------------
# Paragraph-level dedup with document rewrite (CCNet / Dolma line dedup)
# ---------------------------------------------------------------------------

#: paragraph granularity: non-overlapping word windows. The corpus has no
#: newline structure, so a fixed word-window plays the role CCNet's line
#: split plays on crawl text — the dedup/rewrite machinery is identical.
_PARA_WORDS = 10


@register(
    "dedup_paragraph_rewrite",
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS words
        FROM documents
    ),
    chunks AS (
        SELECT doc_id, CAST(i AS INT) AS pos,
               array_to_string(
                   list_slice(words, CAST(i * {_PARA_WORDS} + 1 AS INT),
                              CAST((i + 1) * {_PARA_WORDS} AS INT)), ' ')
                   AS chunk
        FROM (
            SELECT doc_id, words,
                   unnest(range(0, CAST(ceil(len(words) /
                          {_PARA_WORDS}.0) AS BIGINT))) AS i
            FROM base
        )
    ),
    hashed AS (
        SELECT doc_id, pos, chunk, {hash64_sql("chunk")} AS h
        FROM chunks
    ),
    kept AS (
        SELECT doc_id, pos, chunk
        FROM (
            SELECT doc_id, pos, chunk,
                   ROW_NUMBER() OVER (PARTITION BY h
                                      ORDER BY doc_id, pos) AS rn
            FROM hashed
        ) WHERE rn = 1
    ),
    counts AS (
        SELECT doc_id, CAST(COUNT(*) AS INT) AS n_chunks
        FROM hashed GROUP BY doc_id
    ),
    rebuilt AS (
        SELECT doc_id, CAST(COUNT(*) AS INT) AS n_kept,
               string_agg(chunk, ' ' ORDER BY pos) AS new_text
        FROM kept GROUP BY doc_id
    )
    SELECT c.doc_id,
           c.n_chunks,
           COALESCE(r.n_kept, 0) AS n_kept,
           c.n_chunks - COALESCE(r.n_kept, 0) AS n_removed,
           CAST(length(COALESCE(r.new_text, '')) AS INT) AS new_n_chars,
           substr(md5(COALESCE(r.new_text, '')), 1, 16) AS new_text_md5
    FROM counts c LEFT JOIN rebuilt r USING (doc_id)
    """,
    doc="Paragraph-level dedup WITH document rewrite — the CCNet/Dolma "
    "line-dedup pass: split every document into fixed word-window "
    "paragraphs, keep only the globally FIRST occurrence of each "
    "paragraph (ordered by doc_id, then position), and re-assemble "
    "each document from its surviving paragraphs in original order. "
    "Output is the per-document audit (chunk/kept/removed counts, "
    "rewritten length, md5 fingerprint of the rewritten text) — the "
    "same artifact a crawl-cleaning run logs. Scale shape: paragraphs "
    "dedup on the portable 56-bit hash, so the first-occurrence agg "
    "shuffles (h, doc_id, pos) — never paragraph text; first-occurrence "
    "is a groupBy-min (map-side combinable), NOT a row_number window "
    "(which would sort the whole corpus inside each hash partition of "
    "a single window exchange); the re-assembly groups by doc_id and "
    "sorts only within each document's own chunk list. A 56-bit "
    "collision would merge two distinct paragraphs — the standard "
    "fingerprint-dedup tradeoff, same convention as dedup_exact's md5 "
    "keying. Reference has no corpus ops; extension mandate "
    "(BASELINE.json) names dedup as a first-class family.",
    tags=("dedup", "curation", "text"),
    bench=True,
)
def dedup_paragraph_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    return paragraph_rewrite(load_table(spark, sf_dir, "documents"))


#: oracle SQL shared with the stream twin (stream_paragraph_dedup_exact)
PARA_REWRITE_ORACLE: str  # assigned below, after registration


def _paragraph_chunks(
    docs: DataFrame, extra: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, pos, chunk, h[, *extra]): fixed word-window paragraphs
    with the portable 56-bit hash; shared by the rewrite, its stream
    twin, the executed-metric gate, and the cross-source matrix (which
    passes ``extra=("source",)`` so attribution rides the explode for
    free instead of joining back to the corpus)."""
    base = docs.select(
        "doc_id",
        *extra,
        tokenize(F.col("text")).alias("words"),
    )
    chunks = base.select(
        "doc_id",
        *extra,
        F.posexplode(
            F.expr(
                "transform("
                f"sequence(0, cast(ceil(size(words) / {_PARA_WORDS}.0) "
                "as int) - 1), "
                f"i -> array_join(slice(words, i * {_PARA_WORDS} + 1, "
                f"{_PARA_WORDS}), ' '))"
            )
        ).alias("pos", "chunk"),
    )
    return chunks.select(
        "doc_id", *extra, "pos", "chunk", hash64(F.col("chunk")).alias("h")
    )


def paragraph_rewrite(docs: DataFrame) -> DataFrame:
    """Core paragraph-dedup-and-rewrite over any (doc_id, text) frame;
    shared by dedup_paragraph_rewrite and its streaming twin."""
    hashed = _paragraph_chunks(docs)
    # Global first occurrence per paragraph hash. struct ordering is
    # field-by-field (doc_id, then pos) — identical to the oracle's
    # ROW_NUMBER ... ORDER BY doc_id, pos.
    keepers = hashed.groupBy("h").agg(
        F.min(F.struct("doc_id", "pos")).alias("first")
    )
    kept = (
        hashed.join(keepers, "h")
        .filter(
            (F.col("doc_id") == F.col("first.doc_id"))
            & (F.col("pos") == F.col("first.pos"))
        )
        .select("doc_id", "pos", "chunk")
    )
    counts = hashed.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_chunks")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda x: x["chunk"],
            ),
            " ",
        ).alias("new_text"),
    )
    empty = F.lit("")
    return counts.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        (F.col("n_chunks") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
        F.length(F.coalesce("new_text", empty)).cast("int").alias("new_n_chars"),
        F.substring(F.md5(F.coalesce("new_text", empty)), 1, 16).alias(
            "new_text_md5"
        ),
    )


PARA_REWRITE_ORACLE = REGISTRY["dedup_paragraph_rewrite"].oracle


@register(
    "paragraph_rewrite_join_metric",
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS words
        FROM documents
    ),
    chunks AS (
        SELECT doc_id, CAST(i AS INT) AS pos,
               array_to_string(
                   list_slice(words, CAST(i * {_PARA_WORDS} + 1 AS INT),
                              CAST((i + 1) * {_PARA_WORDS} AS INT)), ' ')
                   AS chunk
        FROM (
            SELECT doc_id, words,
                   unnest(range(0, CAST(ceil(len(words) /
                          {_PARA_WORDS}.0) AS BIGINT))) AS i
            FROM base
        )
    ),
    hashed AS (
        SELECT doc_id, {hash64_sql("chunk")} AS h FROM chunks
    )
    SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct_paragraphs,
           CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT)
               AS n_dup_occurrences,
           CAST(COUNT(*) AS BIGINT) AS join_output_rows,
           1 AS within_bound
    FROM hashed
    """,
    doc="Paragraph-rewrite volume proven from execution metrics — the "
    "FIFTH self-proving-v2 gate (semdedup pair cap, IVF files, LSH "
    "band pairs, incremental-semdedup caps): executes the exact "
    "chunk->keeper equi-join dedup_paragraph_rewrite runs and emits "
    "the join node's numOutputRows SQLMetric, hard-asserted AND "
    "oracle-pinned to equal the corpus chunk count — each paragraph "
    "occurrence matches exactly ONE first-occurrence keeper row, so "
    "the rewrite path moves every paragraph exactly once (a broken "
    "keeper aggregation — e.g. grouping by (h, chunk) under a hash "
    "collision, or a duplicated keeper row — would widen the join and "
    "go red at runtime before the hash compare even runs). The "
    "builder cross-checks metric == collected count on the same "
    "execution so a wrong-node read cannot pass silently; the oracle "
    "computes the bound joinlessly from chunk arithmetic.",
    tags=("dedup", "curation", "scale-proof", "metrics"),
)
def paragraph_rewrite_join_metric(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from flu_data_pipeline_spark.operators.plan_metrics import (
        collect_with_metrics,
    )

    docs = load_table(spark, sf_dir, "documents")
    # checkpoint truncates the explode lineage out of the probe plan so
    # the join node is unambiguous (same discipline as the LSH gate)
    hashed = barrier(_paragraph_chunks(docs), "hashed", eager=False)
    keepers = hashed.groupBy("h").agg(
        F.min(F.struct("doc_id", "pos")).alias("first")
    )
    joined = hashed.join(keepers, "h")
    probe = joined.agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    rows, mets = collect_with_metrics(probe, "Join")
    if len(mets) != 1:
        raise AssertionError(
            f"expected exactly 1 join node in the rewrite probe, "
            f"found {len(mets)}"
        )
    join_metric = int(mets[0]["numOutputRows"])
    if join_metric != int(rows[0]["cnt"]):
        raise AssertionError(
            f"join metric {join_metric} != collected row count "
            f"{rows[0]['cnt']} — wrong node read"
        )
    stats = hashed.agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.countDistinct("h").cast("bigint").alias("n_distinct"),
    ).first()
    n_chunks = int(stats["n_chunks"])
    if join_metric != n_chunks:
        raise AssertionError(
            f"rewrite join VIOLATED the move-once bound at runtime: "
            f"{join_metric} joined rows != {n_chunks} chunks"
        )
    return spark.createDataFrame(
        [(
            int(stats["n_docs"]),
            n_chunks,
            int(stats["n_distinct"]),
            n_chunks - int(stats["n_distinct"]),
            join_metric,
            1,
        )],
        "n_docs bigint, n_chunks bigint, n_distinct_paragraphs bigint, "
        "n_dup_occurrences bigint, join_output_rows bigint, "
        "within_bound int",
    )


@register(
    "dedup_paragraph_cross_source",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, source,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS words
        FROM documents
    ),
    chunks AS (
        SELECT doc_id, source, CAST(i AS INT) AS pos,
               array_to_string(
                   list_slice(words, CAST(i * {_PARA_WORDS} + 1 AS INT),
                              CAST((i + 1) * {_PARA_WORDS} AS INT)), ' ')
                   AS chunk
        FROM (
            SELECT doc_id, source, words,
                   unnest(range(0, CAST(ceil(len(words) /
                          {_PARA_WORDS}.0) AS BIGINT))) AS i
            FROM base
        )
    ),
    hashed AS (
        SELECT doc_id, source, pos, {hash64_sql("chunk")} AS h
        FROM chunks
    ),
    marked AS (
        SELECT h, source,
               FIRST_VALUE(source) OVER w AS orig_source,
               ROW_NUMBER() OVER w AS rn
        FROM hashed
        WINDOW w AS (PARTITION BY h ORDER BY doc_id, pos)
    )
    SELECT orig_source, source AS dup_source,
           CAST(COUNT(*) AS BIGINT) AS n_dup_paragraphs,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct_paragraphs
    FROM marked WHERE rn > 1
    GROUP BY orig_source, dup_source
    """,
    doc="Cross-source duplication ATTRIBUTION matrix — the governance "
    "artifact behind the paragraph pillar: for every non-first "
    "paragraph occurrence, attribute (origin source -> duplicating "
    "source) where origin is the source of the globally-first "
    "occurrence, and report the pair counts (total duplicated "
    "occurrences + distinct paragraphs involved). The diagonal is "
    "within-source boilerplate; off-diagonal mass is mirroring/"
    "syndication between crawl sources — what decides whether to "
    "de-prioritize a source in the next crawl. Scale shape: source "
    "rides the explode (no join back to the corpus); the keeper's "
    "source travels inside the groupBy-min struct — field order "
    "(doc_id, pos, source) makes the min identical to the oracle's "
    "(doc_id, pos) window order since positions are unique; the "
    "attribution join shuffles (h, source) pairs only and the final "
    "matrix is at most n_sources^2 rows. Completes the paragraph "
    "family: detect/rewrite -> stream twin -> executed move-once "
    "proof -> attribution.",
    tags=("dedup", "curation", "text"),
)
def dedup_paragraph_cross_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hashed = _paragraph_chunks(docs, extra=("source",))
    keepers = hashed.groupBy("h").agg(
        F.min(F.struct("doc_id", "pos", "source")).alias("first")
    )
    return (
        hashed.join(keepers, "h")
        .filter(
            (F.col("doc_id") != F.col("first.doc_id"))
            | (F.col("pos") != F.col("first.pos"))
        )
        .groupBy(
            F.col("first.source").alias("orig_source"),
            F.col("source").alias("dup_source"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dup_paragraphs"),
            F.countDistinct("h").cast("bigint").alias(
                "n_distinct_paragraphs"
            ),
        )
    )


@register(
    "sample_cluster_split_leakproof",
    oracle=f"""
    WITH RECURSIVE {_SHINGLED_DISTINCT_SQL}, {_SIG_SQL},
    bands AS (
{_BANDS_SQL}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                   AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(node, root) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (
        SELECT node AS doc_id, MIN(root) AS component
        FROM reach GROUP BY node
    ),
    labeled AS (
        SELECT d.doc_id,
               COALESCE(c.component, d.doc_id) AS grp,
               CASE WHEN {hash64_sql('CAST(d.doc_id AS VARCHAR)')} % 100
                         < 90 THEN 'train' ELSE 'val' END AS naive_split,
               CASE WHEN {hash64_sql(
                   'CAST(COALESCE(c.component, d.doc_id) AS VARCHAR)')}
                         % 100 < 90 THEN 'train' ELSE 'val'
                    END AS cluster_split
        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    ),
    naive_leaks AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS leaky_pairs_naive
        FROM pairs p
        JOIN labeled a ON a.doc_id = p.id_a
        JOIN labeled b ON b.doc_id = p.id_b
        WHERE a.naive_split <> b.naive_split
    ),
    cluster_leaks AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS leaky_pairs_clustered
        FROM pairs p
        JOIN labeled a ON a.doc_id = p.id_a
        JOIN labeled b ON b.doc_id = p.id_b
        WHERE a.cluster_split <> b.cluster_split
    )
    SELECT cluster_split AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_groups,
           nl.leaky_pairs_naive,
           cl.leaky_pairs_clustered
    FROM labeled CROSS JOIN naive_leaks nl CROSS JOIN cluster_leaks cl
    GROUP BY cluster_split, nl.leaky_pairs_naive, cl.leaky_pairs_clustered
    ORDER BY split
    """,
    doc="NEAR-DUP-cluster-leakproof train/val split — "
    "sample_group_split_leakproof's group key generalized from the "
    "exact content fingerprint to the MinHash-LSH connected COMPONENT "
    "(dedup_components' min-label clusters; singleton docs are their "
    "own group), which is the actual Lee et al. 2022 deduplicate-then-"
    "split practice: a val doc whose NEAR-duplicate (not just byte "
    "twin) sits in train still scores memorization. Splits by the hash "
    "of the cluster id, so no candidate PAIR can straddle splits — "
    "leaky_pairs_clustered is 0 by construction (both endpoints of "
    "every LSH edge share a component, hence a split), oracle-pinned, "
    "while leaky_pairs_naive counts the LSH edges the per-doc rule "
    "cuts across the boundary (the measured leak this split exists to "
    "close). Scale shape: signatures map-side, band-bucket self-join "
    "for edges, O(log^2 n) min-label rounds for components "
    "(operators/graph.py), one groupBy for budgets — the split "
    "assignment itself is a map-side hash of the component id.",
    tags=("dedup", "sampling", "curation", "llm", "graph", "minhash",
          "A8", "A10"),
)
def sample_cluster_split_leakproof(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from flu_data_pipeline_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, "doc_id", "text", NUM_HASHES)
    pairs = barrier(
        lsh_candidate_pairs(
            sig, "doc_id", NUM_HASHES, BAND_SIZE
        ),
        "pairs",
    )
    cc = connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), F.col("component")
    )
    labeled = barrier(
        docs.select("doc_id")
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("grp"),
        )
        .select(
            "doc_id",
            "grp",
            F.when(
                hash64(F.col("doc_id").cast("string")) % 100 < 90, "train"
            )
            .otherwise("val")
            .alias("naive_split"),
            F.when(hash64(F.col("grp").cast("string")) % 100 < 90, "train")
            .otherwise("val")
            .alias("cluster_split"),
        ),
        "labeled",
    )
    a = labeled.select(
        F.col("doc_id").alias("id_a"),
        F.col("naive_split").alias("na"),
        F.col("cluster_split").alias("ca"),
    )
    b = labeled.select(
        F.col("doc_id").alias("id_b"),
        F.col("naive_split").alias("nb"),
        F.col("cluster_split").alias("cb"),
    )
    edges = pairs.join(a, "id_a").join(b, "id_b")
    naive_leaks = edges.filter(F.col("na") != F.col("nb")).agg(
        F.count(F.lit(1)).cast("bigint").alias("leaky_pairs_naive")
    )
    cluster_leaks = edges.filter(F.col("ca") != F.col("cb")).agg(
        F.count(F.lit(1)).cast("bigint").alias("leaky_pairs_clustered")
    )
    return (
        labeled.groupBy(F.col("cluster_split").alias("split"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("grp").cast("bigint").alias("n_groups"),
        )
        .crossJoin(F.broadcast(naive_leaks))
        .crossJoin(F.broadcast(cluster_leaks))
        .orderBy("split")
    )
