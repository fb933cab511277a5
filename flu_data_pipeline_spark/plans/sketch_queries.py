"""Deterministic sketch structures: count-min sketch, Bloom filter,
HyperLogLog.

``approx_sketches`` (relational.py) exercises Spark's builtin HLL /
approx-percentile, which are engine-specific and only rows-checkable.
These queries instead build the classic sketches from first
principles on the portable md5-prefix hash family
(``functions/hashing.py``) — bit-identical in DuckDB — so the sketch
CONTENTS are hash-compared exactly, not statistically: the oracle proves
the estimate algebra, including its characteristic one-sided error.

Scale notes (100 TB):
- CMS: the sketch is d×w counters (4×1024 here) built by ONE
  groupBy(row, bucket) over the token stream — map-side combine shrinks
  every partition to ≤ d·w rows before the shuffle, so sketch build cost
  is a constant-size aggregate regardless of corpus size. Point queries
  join the d candidate counters, never the stream.
- Bloom: the filter is the distinct set-bit list (≤ m rows, here 8192)
  — broadcastable by construction. Probing is a broadcast join on bit
  position: the big probe side never shuffles. This is the manual form
  of Spark's runtime bloom-filter join pruning
  (``spark.sql.optimizer.runtime.bloomFilter.enabled``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flu_data_pipeline_spark.catalog import load_table
from flu_data_pipeline_spark.functions.hashing import (
    HASH64_MOD,
    MINHASH_COEFFS,
    hash64,
    minhash_value,
    minhash_value_sql,
)
from flu_data_pipeline_spark.operators.dedup import tokenize
from flu_data_pipeline_spark.operators.materialize import barrier
from flu_data_pipeline_spark.plans.registry import register

_TOKENS = "regexp_split_to_array(lower(trim(text)), '\\s+')"

_CMS_D = 4  # hash rows
_CMS_W = 1024  # buckets per row
_TOPK = 20

_BLOOM_M = 8192  # bits
_BLOOM_K = 3  # hashes per key


@register(
    "cms_term_frequency",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({_TOKENS}) AS term FROM documents
    ), exact AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS exact_n
        FROM toks GROUP BY term
    ), buckets AS (
        SELECT term, row_i,
               CASE row_i
                   {" ".join(f"WHEN {i} THEN {minhash_value_sql('term', i)} % {_CMS_W}" for i in range(_CMS_D))}
               END AS bucket
        FROM toks CROSS JOIN (
            SELECT unnest(range({_CMS_D})) AS row_i
        )
    ), sketch AS (
        SELECT row_i, bucket, CAST(COUNT(*) AS BIGINT) AS c
        FROM buckets GROUP BY row_i, bucket
    ), top_terms AS (
        SELECT term, exact_n FROM exact
        ORDER BY exact_n DESC, term LIMIT {_TOPK}
    ), est AS (
        SELECT t.term, t.exact_n, MIN(s.c) AS cms_est
        FROM top_terms t
        JOIN (
            SELECT term, row_i,
                   CASE row_i
                       {" ".join(f"WHEN {i} THEN {minhash_value_sql('term', i)} % {_CMS_W}" for i in range(_CMS_D))}
                   END AS bucket
            FROM top_terms CROSS JOIN (
                SELECT unnest(range({_CMS_D})) AS row_i
            )
        ) q ON q.term = t.term
        JOIN sketch s ON s.row_i = q.row_i AND s.bucket = q.bucket
        GROUP BY t.term, t.exact_n
    )
    SELECT term, exact_n, cms_est,
           CAST(cms_est - exact_n AS BIGINT) AS overcount
    FROM est ORDER BY exact_n DESC, term
    """,
    doc="Count-min sketch over the document token stream: d=4 portable "
    "universal hashes × w=1024 buckets. The stream is first collapsed "
    "to its (term, count) frequency vector — a CMS over a stream equals "
    "the CMS over its frequency vector — so md5 runs once per VOCAB "
    "entry, and the d buckets derive from that single hash by modular "
    "arithmetic. Sketch build is one groupBy(row, bucket) whose "
    "map-side combine caps every partition's shuffle output at d·w "
    "counters regardless of corpus size. The "
    "top-20 exact terms are then point-queried: estimate = min over "
    "the d counters. Oracle recomputes the identical sketch in DuckDB "
    "(same md5-prefix hash family), so the estimates — including CMS's "
    "guaranteed non-negative overcount — are hash-compared exactly. "
    "overcount = cms_est − exact_n ≥ 0 by construction.",
    tags=("sketch", "A8", "text"),
    bench=True,
)
def cms_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokenize(F.col("text"))).alias("term"))

    # Aggregate the token stream to (term, exact_n) FIRST: the CMS over a
    # stream equals the CMS over its frequency vector (counters add
    # exact_n instead of 1), so every downstream md5 runs once per VOCAB
    # entry, not once per token occurrence — at 100 TB the vocabulary is
    # orders of magnitude smaller than the stream, and this groupBy is
    # map-side combined anyway.
    exact = barrier(
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .withColumn("h", hash64("term") % HASH64_MOD),  # md5 ONCE per term
        "exact",  # sketch + top-k branches share one computation
    )

    def bucketed(df: DataFrame) -> DataFrame:
        """(term, h, …) → one row per hash row with its bucket; the d
        buckets derive from the single 'h' by cheap modular arithmetic —
        no further hashing."""
        rows = F.array(
            *[
                F.struct(
                    F.lit(i).alias("row_i"),
                    (
                        (F.col("h") * MINHASH_COEFFS[i][0] + MINHASH_COEFFS[i][1])
                        % HASH64_MOD
                        % _CMS_W
                    ).alias("bucket"),
                )
                for i in range(_CMS_D)
            ]
        )
        return df.select(
            "term", "exact_n", F.explode(rows).alias("rb")
        ).select("term", "exact_n", "rb.row_i", "rb.bucket")

    sketch = (
        bucketed(exact)
        .groupBy("row_i", "bucket")
        .agg(F.sum("exact_n").alias("c"))
    )
    top = exact.orderBy(F.col("exact_n").desc(), "term").limit(_TOPK)
    est = (
        bucketed(top)
        .join(F.broadcast(sketch), ["row_i", "bucket"])
        .groupBy("term", "exact_n")
        .agg(F.min("c").alias("cms_est"))
    )
    return est.select(
        "term",
        "exact_n",
        "cms_est",
        (F.col("cms_est") - F.col("exact_n")).cast("bigint").alias("overcount"),
    ).orderBy(F.col("exact_n").desc(), "term")


_BLOOM_POS = {
    "spark": lambda col: [
        (minhash_value(col, i) % _BLOOM_M) for i in range(_BLOOM_K)
    ],
    "sql": lambda expr: [
        f"{minhash_value_sql(expr, i)} % {_BLOOM_M}" for i in range(_BLOOM_K)
    ],
}


@register(
    "bloom_semi_prune",
    oracle=f"""
    WITH build AS (
        SELECT DISTINCT o_custkey AS k FROM orders
        WHERE o_orderpriority = '1-URGENT'
    ), bits AS (
        SELECT DISTINCT CASE i
            {" ".join(f"WHEN {i} THEN {p}" for i, p in enumerate(_BLOOM_POS["sql"]("CAST(k AS VARCHAR)")))}
        END AS pos
        FROM build CROSS JOIN (SELECT unnest(range({_BLOOM_K})) AS i)
    ), probe AS (
        SELECT c_custkey AS k FROM customer
    ), probe_pos AS (
        SELECT k, CASE i
            {" ".join(f"WHEN {i} THEN {p}" for i, p in enumerate(_BLOOM_POS["sql"]("CAST(k AS VARCHAR)")))}
        END AS pos
        FROM probe CROSS JOIN (SELECT unnest(range({_BLOOM_K})) AS i)
    ), hits AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS n_set
        FROM probe_pos WHERE pos IN (SELECT pos FROM bits)
        GROUP BY k
    ), passed AS (
        SELECT k FROM hits WHERE n_set = {_BLOOM_K}
    ), truth AS (
        SELECT k FROM probe WHERE k IN (SELECT k FROM build)
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM probe) AS n_probe,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM build) AS n_build,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM passed) AS n_pass,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM passed)
             - (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS false_pos
    """,
    doc="Bloom-filter semi-join pruning, built from first principles: "
    "m=8192 bits, k=3 portable hashes. The filter is the distinct "
    "set-bit list of the build side (urgent-order customers) — "
    "broadcastable by construction, ≤ m rows no matter how many build "
    "keys. Probing is explode-k-positions + broadcast join + count==k, "
    "so the probe side never shuffles: the manual form of Spark's "
    "runtime bloom-filter join pruning. The summary row pins exact "
    "membership (semi-join truth) against bloom passes; false_pos ≥ 0 "
    "is the sketch's one-sided error, reproduced exactly by the "
    "oracle's identical hash family.",
    tags=("sketch", "J7", "A8"),
)
def bloom_semi_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    build = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    probe = customer.select(F.col("c_custkey").alias("k"))

    def positions(df: DataFrame) -> DataFrame:
        ks = F.col("k").cast("string")
        return df.select(
            "k",
            F.explode(
                F.array(*[(minhash_value(ks, i) % _BLOOM_M) for i in range(_BLOOM_K)])
            ).alias("pos"),
        )

    bits = positions(build).select("pos").distinct()
    hits = (
        positions(probe)
        .join(F.broadcast(bits), "pos")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_set"))
    )
    passed = hits.filter(F.col("n_set") == _BLOOM_K)
    truth = probe.join(build, "k", "left_semi")

    def one(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias(name))

    return (
        one(probe, "n_probe")
        .crossJoin(one(build, "n_build"))
        .crossJoin(one(bits, "n_bits_set"))
        .crossJoin(one(passed, "n_pass"))
        .crossJoin(one(truth, "n_true"))
        .select(
            "n_probe",
            "n_build",
            "n_bits_set",
            "n_pass",
            "n_true",
            (F.col("n_pass") - F.col("n_true")).alias("false_pos"),
        )
    )


# --- HyperLogLog on the portable hash ---------------------------------
# m = 2^8 = 256 registers; the 56-bit portable hash splits into
# bucket = h >> 48 (top 8 bits) and w = h & (2^48 - 1). The register
# value is rho(w) = leading zeros of the 48-bit word + 1 = 49 -
# length(bin(w)) (minimal-width bin on BOTH engines), 49 when w = 0.
# The harmonic denominator is kept EXACT by integer scaling:
# z_scaled = sum(2^(49 - r)) + empty_buckets * 2^49 (max 256 * 2^49 =
# 2^57 < int64), so the only float op is one literal/int division —
# IEEE-identical on both engines. No engine-side ROUND anywhere
# (HALF_UP-vs-half-away boundary divergence); raw doubles are safe.
_HLL_B = 8
_HLL_M = 1 << _HLL_B  # 256 registers
_HLL_W = 56 - _HLL_B  # 48-bit register word
_HLL_POW_W = 1 << _HLL_W
#: alpha_m * m^2 * 2^(W+1), precomputed so each engine does ONE division
_HLL_C = (0.7213 / (1 + 1.079 / _HLL_M)) * _HLL_M * _HLL_M * (1 << (_HLL_W + 1))


@register(
    "hll_distinct_by_nation",
    oracle=f"""
    WITH v AS (
        SELECT n_name AS nation, l_partkey AS pk,
               CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 14)
                    AS BIGINT) AS h
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
    ), b AS (
        SELECT nation, h // {_HLL_POW_W} AS bucket,
               CASE WHEN h % {_HLL_POW_W} = 0 THEN {_HLL_W + 1}
                    ELSE {_HLL_W + 1} - length(bin(h % {_HLL_POW_W}))
               END AS rho
        FROM v
    ), reg AS (
        SELECT nation, bucket, MAX(rho) AS r FROM b GROUP BY nation, bucket
    ), agg AS (
        SELECT nation,
               CAST(COUNT(*) AS BIGINT) AS n_buckets_hit,
               CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_W + 1} - r))
                    + ({_HLL_M} - COUNT(*)) * (CAST(1 AS BIGINT) << {_HLL_W + 1})
                    AS BIGINT) AS z_scaled
        FROM reg GROUP BY nation
    ), ex AS (
        SELECT nation, CAST(COUNT(DISTINCT pk) AS BIGINT) AS exact_distinct
        FROM v GROUP BY nation
    )
    SELECT agg.nation, n_buckets_hit, z_scaled,
           {_HLL_C!r} / z_scaled AS hll_estimate,
           exact_distinct,
           ({_HLL_C!r} / z_scaled - exact_distinct) / exact_distinct * 100.0
               AS err_pct
    FROM agg JOIN ex ON agg.nation = ex.nation
    ORDER BY agg.nation
    """,
    doc="HyperLogLog distinct-part estimate per supplier nation, built "
    "from first principles on the portable 56-bit md5-prefix hash: "
    "256 registers (top 8 hash bits), rho = leading-zero count of the "
    "48-bit remainder + 1 via length(bin(w)) — identical minimal-width "
    "bin on both engines. Register build is ONE groupBy(nation, bucket) "
    "MAX — map-side combine caps every partition's shuffle output at "
    "groups x 256 rows regardless of fact size, the whole point of HLL "
    "at 100 TB (registers also merge associatively across partitions / "
    "days, unlike COUNT(DISTINCT)'s expand-shuffle). Exactness: the "
    "harmonic denominator is integer-scaled (z_scaled = sum 2^(49-r), "
    "exact in int64), so the only float op is one literal/integer "
    "division — IEEE-identical cross-engine, no rounding needed. The "
    "exact COUNT(DISTINCT) rides along so the oracle also pins HLL's "
    "~6.5% (1.04/sqrt(256)) error envelope as data.",
    tags=("sketch", "A8", "A10", "J6"),
    bench=True,
)
def hll_distinct_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey")
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    # (bucket, rho) depend only on the part key: hash the part DIM once
    # (|part| md5s, not |lineitem| — measured 1.5x at sf0.1) and
    # broadcast the 3-column map onto the fact. The oracle hashes
    # l_partkey directly — same key domain, identical values.
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    hashed = part.select(
        "p_partkey", hash64(F.col("p_partkey").cast("string")).alias("h")
    ).select(
        "p_partkey",
        F.expr(f"h div {_HLL_POW_W}").alias("bucket"),
        F.when(F.col("h") % _HLL_POW_W == 0, F.lit(_HLL_W + 1))
        .otherwise(
            F.lit(_HLL_W + 1) - F.length(F.bin(F.col("h") % _HLL_POW_W))
        )
        .alias("rho"),
    )
    b = (
        li.join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(hashed), li["l_partkey"] == hashed["p_partkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.col("l_partkey").alias("pk"),
            "bucket",
            "rho",
        )
    )
    # Registers AND the exact ground truth from ONE pass: pk determines
    # its bucket (bucket is a function of hash(pk)), so distinct pks
    # partition across buckets and per-nation exact_distinct is the SUM
    # of per-(nation, bucket) distinct counts. The previous two-branch
    # plan recomputed the 3-way join for the exact side (executedPlan
    # showed 8 scans); this shape is one join pass, one (nation, bucket)
    # aggregate, one constant-size (nation) rollup.
    # level 1: dedup (nation, pk) with map-side combine — rho/bucket are
    # functions of pk, so max(rho) per (nation, bucket, pk) is just rho;
    # no Expand-based distinct-agg plan, plain hash aggregation.
    dedup = b.groupBy("nation", "bucket", "pk").agg(F.max("rho").alias("rho"))
    # level 2: registers + per-bucket distinct counts from the deduped rows
    reg = dedup.groupBy("nation", "bucket").agg(
        F.max("rho").alias("r"),
        F.count(F.lit(1)).alias("nd"),
    )
    agg = reg.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_buckets_hit"),
        (
            F.sum(F.expr(f"shiftleft(cast(1 as bigint), {_HLL_W + 1} - r)"))
            + (F.lit(_HLL_M) - F.count(F.lit(1)))
            * F.lit(1 << (_HLL_W + 1)).cast("long")
        )
        .cast("bigint")
        .alias("z_scaled"),
        F.sum("nd").cast("long").alias("exact_distinct"),
    )
    est = F.lit(_HLL_C) / F.col("z_scaled")
    return agg.select(
        "nation",
        "n_buckets_hit",
        "z_scaled",
        est.alias("hll_estimate"),
        "exact_distinct",
        (
            (est - F.col("exact_distinct"))
            / F.col("exact_distinct")
            * F.lit(100.0)
        ).alias("err_pct"),
    ).orderBy("nation")


# --- KMV (bottom-k / theta-style) distinct sketch --------------------------

_KMV_K = 64
_KMV_HMAX = 1 << 56  # portable hash range: md5 14-hex-digit prefix
_KMV_NUM = (_KMV_K - 1) * _KMV_HMAX  # (k-1)*H — 4.5e18, inside int64
_KMV_PAIR = ("1-URGENT", "2-HIGH")
_KMV_HASH_SQL = "CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 14) AS BIGINT)"


@register(
    "kmv_distinct_setalgebra",
    oracle=f"""
    WITH pairs AS (
        SELECT DISTINCT o_orderpriority AS seg, {_KMV_HASH_SQL} AS h
        FROM orders
    ), ranked AS (
        SELECT seg, h,
               ROW_NUMBER() OVER (PARTITION BY seg ORDER BY h) AS rn
        FROM pairs
    ), sk AS (
        SELECT seg, MAX(h) AS kth_hash, CAST(COUNT(*) AS BIGINT) AS k_used
        FROM ranked WHERE rn <= {_KMV_K} GROUP BY seg
    ), exact AS (
        SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_exact FROM pairs GROUP BY seg
    ), per_seg AS (
        SELECT sk.seg AS label, n_exact, kth_hash,
               CASE WHEN k_used < {_KMV_K} THEN n_exact
                    ELSE CAST({_KMV_NUM} AS BIGINT) // kth_hash END AS kmv_est
        FROM sk JOIN exact ON sk.seg = exact.seg
    ), merged AS (
        SELECT h,
               MAX(CASE WHEN seg = '{_KMV_PAIR[0]}' THEN 1 ELSE 0 END) AS in_a,
               MAX(CASE WHEN seg = '{_KMV_PAIR[1]}' THEN 1 ELSE 0 END) AS in_b
        FROM ranked
        WHERE rn <= {_KMV_K} AND seg IN ('{_KMV_PAIR[0]}', '{_KMV_PAIR[1]}')
        GROUP BY h
    ), uranked AS (
        SELECT h, in_a, in_b, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM merged
    ), usk AS (
        SELECT MAX(h) AS kth_hash,
               CAST(SUM(in_a * in_b) AS BIGINT) AS k_both
        FROM uranked WHERE rn <= {_KMV_K}
    ), uexact AS (
        SELECT CAST(COUNT(DISTINCT h) AS BIGINT) AS u_exact,
               CAST(COUNT(DISTINCT CASE WHEN in_a = 1 AND in_b = 1
                                        THEN h END) AS BIGINT) AS i_exact
        FROM (SELECT h,
                     MAX(CASE WHEN seg = '{_KMV_PAIR[0]}' THEN 1 ELSE 0 END) AS in_a,
                     MAX(CASE WHEN seg = '{_KMV_PAIR[1]}' THEN 1 ELSE 0 END) AS in_b
              FROM pairs
              WHERE seg IN ('{_KMV_PAIR[0]}', '{_KMV_PAIR[1]}')
              GROUP BY h)
    ), setrows AS (
        SELECT '{_KMV_PAIR[0]} | {_KMV_PAIR[1]}' AS label, u_exact AS n_exact,
               usk.kth_hash AS kth_hash,
               CAST({_KMV_NUM} AS BIGINT) // usk.kth_hash AS kmv_est
        FROM usk, uexact
        UNION ALL
        SELECT '{_KMV_PAIR[0]} & {_KMV_PAIR[1]}' AS label, i_exact AS n_exact,
               usk.kth_hash AS kth_hash,
               (k_both * (CAST({_KMV_NUM} AS BIGINT) // usk.kth_hash))
                   // {_KMV_K} AS kmv_est
        FROM usk, uexact
    )
    SELECT label, n_exact, kth_hash, kmv_est,
           ROUND((kmv_est - n_exact) / n_exact * 100.0, 6) AS err_pct
    FROM (SELECT * FROM per_seg UNION ALL SELECT * FROM setrows)
    ORDER BY label
    """,
    doc="KMV (bottom-k, theta-sketch-style) distinct sketch per order "
    "priority with SET ALGEBRA — the capability HLL lacks: merged "
    "sketches estimate the union AND the intersection of two segments' "
    "customer sets. Built on the portable md5-prefix hash: per segment "
    "keep the k=64 smallest distinct hashes (distinct pairs via one "
    "map-side-combine groupBy, then a (segment)-partitioned bottom-k "
    "window); estimate = (k-1)*2^56 div kth_hash — pure int64 "
    "arithmetic, bit-identical on both engines. Union sketch = bottom-k "
    "of the two k-row sketches (the global window sorts <= 2k rows — "
    "constant, not data-sized); intersection = Jaccard-from-sketch "
    "(k_both/k) times the union estimate, integer-scaled. Exact "
    "distincts ride along to pin the ~1/sqrt(k-1)=13%% error envelope "
    "as data. At 100 TB the sketches are k-row mergeable partials "
    "(associative min-k), composable across days/partitions like the "
    "HLL registers but supporting intersections — the segment-overlap "
    "question (audience overlap, cross-split contamination) answered "
    "without COUNT(DISTINCT)'s expand shuffle.",
    tags=("sketch", "A8", "W1", "D1"),
    bench=True,
)
def kmv_distinct_setalgebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    a_seg, b_seg = _KMV_PAIR
    orders = load_table(spark, sf_dir, "orders")
    pairs = orders.select(
        F.col("o_orderpriority").alias("seg"),
        hash64(F.col("o_custkey").cast("string")).alias("h"),
    ).distinct()
    ranked = pairs.withColumn(
        "rn", F.row_number().over(Window.partitionBy("seg").orderBy("h"))
    ).filter(F.col("rn") <= _KMV_K)
    sk = ranked.groupBy("seg").agg(
        F.max("h").alias("kth_hash"), F.count(F.lit(1)).alias("k_used")
    )
    exact = pairs.groupBy("seg").agg(F.count(F.lit(1)).alias("n_exact"))
    est_expr = F.when(F.col("k_used") < _KMV_K, F.col("n_exact")).otherwise(
        F.expr(f"CAST({_KMV_NUM} AS BIGINT) div kth_hash")
    )
    per_seg = (
        sk.join(exact, "seg")
        .select(
            F.col("seg").alias("label"),
            "n_exact",
            "kth_hash",
            est_expr.alias("kmv_est"),
        )
    )
    # union/intersection of the two k-row sketches: constant-size frames
    merged = (
        ranked.filter(F.col("seg").isin(a_seg, b_seg))
        .groupBy("h")
        .agg(
            F.max((F.col("seg") == a_seg).cast("int")).alias("in_a"),
            F.max((F.col("seg") == b_seg).cast("int")).alias("in_b"),
        )
    )
    # <= 2k rows: the unpartitioned window is over a constant-size frame
    usk = (
        merged.withColumn("rn", F.row_number().over(Window.orderBy("h")))
        .filter(F.col("rn") <= _KMV_K)
        .agg(
            F.max("h").alias("kth_hash"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("k_both"),
        )
    )
    uexact = (
        pairs.filter(F.col("seg").isin(a_seg, b_seg))
        .groupBy("h")
        .agg(
            F.max((F.col("seg") == a_seg).cast("int")).alias("in_a"),
            F.max((F.col("seg") == b_seg).cast("int")).alias("in_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("u_exact"),
            F.sum((F.col("in_a") * F.col("in_b"))).cast("long").alias("i_exact"),
        )
    )
    uest = F.expr(f"CAST({_KMV_NUM} AS BIGINT) div kth_hash")
    setrows = (
        usk.crossJoin(F.broadcast(uexact))
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit(f"{a_seg} | {b_seg}").alias("label"),
                        F.col("u_exact").alias("n_exact"),
                        F.col("kth_hash").alias("kth_hash"),
                        uest.alias("kmv_est"),
                    ),
                    F.struct(
                        F.lit(f"{a_seg} & {b_seg}").alias("label"),
                        F.col("i_exact").alias("n_exact"),
                        F.col("kth_hash").alias("kth_hash"),
                        F.expr(
                            f"(k_both * (CAST({_KMV_NUM} AS BIGINT) div kth_hash))"
                            f" div {_KMV_K}"
                        ).alias("kmv_est"),
                    ),
                )
            ).alias("r")
        )
        .select("r.*")
    )
    return (
        per_seg.unionByName(setrows)
        .select(
            "label",
            "n_exact",
            "kth_hash",
            "kmv_est",
            F.round(
                (F.col("kmv_est") - F.col("n_exact")) / F.col("n_exact") * 100.0,
                6,
            ).alias("err_pct"),
        )
        .orderBy("label")
    )


@register(
    "hll_rolling_distinct",
    oracle=f"""
    WITH v AS (
        SELECT CAST(ts AS DATE) AS day, user_id,
               CAST('0x' || substr(md5('u|' || CAST(user_id AS VARCHAR)), 1, 14)
                    AS BIGINT) AS h
        FROM events
    ), day_regs AS (
        SELECT day, h // {_HLL_POW_W} AS bucket,
               MAX(CASE WHEN h % {_HLL_POW_W} = 0 THEN {_HLL_W + 1}
                        ELSE {_HLL_W + 1} - length(bin(h % {_HLL_POW_W}))
                   END) AS r
        FROM v GROUP BY 1, 2
    ), days AS (SELECT DISTINCT day FROM day_regs),
    merged AS (
        SELECT d.day AS day, dr.bucket, MAX(dr.r) AS r
        FROM days d
        JOIN day_regs dr ON dr.day BETWEEN d.day - 6 AND d.day
        GROUP BY 1, 2
    ), agg AS (
        SELECT day,
               CAST(COUNT(*) AS BIGINT) AS n_buckets_hit,
               CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_W + 1} - r))
                    + ({_HLL_M} - COUNT(*)) * (CAST(1 AS BIGINT) << {_HLL_W + 1})
                    AS BIGINT) AS z_scaled
        FROM merged GROUP BY day
    ), exact AS (
        SELECT d.day AS day,
               CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS exact_users_7d
        FROM days d
        JOIN (SELECT DISTINCT day, user_id FROM v) a
          ON a.day BETWEEN d.day - 6 AND d.day
        GROUP BY 1
    )
    SELECT agg.day, n_buckets_hit, z_scaled,
           {_HLL_C!r} / z_scaled AS hll_estimate,
           exact_users_7d,
           ({_HLL_C!r} / z_scaled - exact_users_7d) / exact_users_7d * 100.0
               AS err_pct
    FROM agg JOIN exact ON exact.day = agg.day
    ORDER BY agg.day
    """,
    doc="Trailing-7-day distinct users via HLL REGISTER MERGE — the "
    "compositional win the one-shot HLL (hll_distinct_by_nation) can't "
    "show: per-day 256-register sketches are built ONCE from the scan, "
    "then every trailing window is a bucket-wise MAX over at most "
    "7x256 tiny register rows — no re-scan of events per window, which "
    "is exactly how distinct-over-sliding-windows is done at 100 TB "
    "(registers persist per partition/day; any window, month, or "
    "ad-hoc union is a register merge). The exact twin "
    "(rolling_distinct_users' explode formulation) rides along so the "
    "per-day error is pinned as data. Same integer-scaled harmonic "
    "sum as the base query: the only float op is one literal/int64 "
    "division, IEEE-identical on both engines, no engine-side ROUND.",
    tags=("sketch", "timeseries", "A8", "W1"),
    bench=True,
)
def hll_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        F.col("ts").cast("date").alias("day"),
        "user_id",
        hash64(F.concat(F.lit("u|"), F.col("user_id").cast("string"))).alias("h"),
    )
    day_regs = (
        v.select(
            "day",
            F.expr(f"h div {_HLL_POW_W}").alias("bucket"),
            F.when(F.col("h") % _HLL_POW_W == 0, F.lit(_HLL_W + 1))
            .otherwise(
                F.lit(_HLL_W + 1) - F.length(F.bin(F.col("h") % _HLL_POW_W))
            )
            .alias("rho"),
        )
        .groupBy("day", "bucket")
        .agg(F.max("rho").alias("r"))
    )
    days = day_regs.select("day").distinct()
    fanned = day_regs.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("target_day"),
        "bucket",
        "r",
    )
    merged = (
        fanned.join(
            F.broadcast(days), fanned.target_day == days.day, "left_semi"
        )
        .groupBy(F.col("target_day").alias("day"), "bucket")
        .agg(F.max("r").alias("r"))
    )
    agg = merged.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_buckets_hit"),
        (
            F.sum(F.expr(f"shiftleft(cast(1 as bigint), {_HLL_W + 1} - r)"))
            + (F.lit(_HLL_M) - F.count(F.lit(1)))
            * F.lit(1 << (_HLL_W + 1)).cast("long")
        )
        .cast("long")
        .alias("z_scaled"),
    )
    act = v.select("day", "user_id").distinct()
    exact = (
        act.select(
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
            ).alias("target_day"),
            "user_id",
        )
        .join(F.broadcast(days), F.col("target_day") == days.day, "left_semi")
        .groupBy(F.col("target_day").alias("day"))
        .agg(F.countDistinct("user_id").alias("exact_users_7d"))
    )
    est = F.lit(_HLL_C) / F.col("z_scaled")
    return (
        agg.join(exact, "day")
        .select(
            "day",
            "n_buckets_hit",
            "z_scaled",
            est.alias("hll_estimate"),
            "exact_users_7d",
            (
                (est - F.col("exact_users_7d"))
                / F.col("exact_users_7d")
                * 100.0
            ).alias("err_pct"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Mergeable equi-width histogram → quantile sketch
# ---------------------------------------------------------------------------

QH_BINS = 256
QH_PS = (0.5, 0.9, 0.99)


@register(
    "quantile_histogram_sketch",
    oracle=f"""
    WITH mm AS (
        SELECT MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem
    ),
    hist AS (
        SELECT CAST(LEAST(FLOOR((l_extendedprice - mm.mn)
                                / ((mm.mx - mm.mn) / {QH_BINS})),
                          {QH_BINS} - 1) AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem, mm GROUP BY 1
    ),
    cum AS (
        SELECT bin, cnt,
               CAST(COALESCE(SUM(cnt) OVER (
                   ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        FROM hist
    ),
    ps AS (SELECT UNNEST({list(QH_PS)!r}) AS p)
    SELECT ps.p,
           CAST(CEIL(ps.p * mm.n) AS BIGINT) AS target_rank,
           c.bin AS bin_idx, c.cnt AS bin_count,
           ROUND(mm.mn + (CAST(c.bin AS DOUBLE)
                          + (CEIL(ps.p * mm.n) - c.cum_before) / c.cnt)
                         * ((mm.mx - mm.mn) / {QH_BINS}), 6) AS est_quantile,
           ROUND((mm.mx - mm.mn) / {QH_BINS}, 6) AS err_bound,
           mm.n AS n_rows
    FROM ps, mm
    JOIN cum c
      ON c.cum_before < CEIL(ps.p * mm.n)
     AND c.cum_before + c.cnt >= CEIL(ps.p * mm.n)
    ORDER BY ps.p
    """,
    doc=f"Quantile estimation from a {QH_BINS}-bin equi-width histogram "
    "sketch over l_extendedprice: p50/p90/p99 located by cumulative bin "
    "counts with within-bin rank interpolation, each estimate carrying "
    "its deterministic error bound (one bin width). The histogram is "
    "the simplest MERGEABLE quantile sketch — per-partition bin counts "
    "combine map-side into one <=256-row aggregate, so sketch build is "
    "one scan with constant shuffle regardless of data volume (the "
    "same merge algebra t-digest/KLL use, with a deterministic, "
    "oracle-checkable layout). The cumulative window runs over the "
    "bounded bin frame, never the data. Range comes from a first "
    "min/max scan; a production pipeline caches or pre-declares it.",
    tags=("sketch", "stats", "A11"),
)
def quantile_histogram_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    mm = li.agg(
        F.min("l_extendedprice").alias("mn"),
        F.max("l_extendedprice").alias("mx"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    width = (F.col("mx") - F.col("mn")) / F.lit(QH_BINS)
    hist = (
        li.crossJoin(F.broadcast(mm))
        .select(
            F.least(
                F.floor((F.col("l_extendedprice") - F.col("mn")) / width),
                F.lit(QH_BINS - 1),
            )
            .cast("bigint")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    # Cumulative counts over the <=QH_BINS-row histogram frame (bounded
    # single-partition window — O(bins), not O(rows)).
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.withColumn(
        "cum_before",
        F.coalesce(F.sum("cnt").over(wc), F.lit(0)).cast("bigint"),
    )
    ps = spark.createDataFrame([(p,) for p in QH_PS], "p double")
    target = F.ceil(F.col("p") * F.col("n")).cast("bigint")
    return (
        ps.crossJoin(F.broadcast(mm))
        .join(
            F.broadcast(cum),
            (F.col("cum_before") < target)
            & (F.col("cum_before") + F.col("cnt") >= target),
        )
        .select(
            "p",
            target.alias("target_rank"),
            F.col("bin").alias("bin_idx"),
            F.col("cnt").alias("bin_count"),
            F.round(
                F.col("mn")
                + (
                    F.col("bin").cast("double")
                    + (target - F.col("cum_before")) / F.col("cnt")
                )
                * width,
                6,
            ).alias("est_quantile"),
            F.round(width, 6).alias("err_bound"),
            F.col("n").alias("n_rows"),
        )
        .orderBy("p")
    )
