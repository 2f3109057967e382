"""Round-5 extensions: corpus language-model statistics, tokenizer
induction, record linkage, URL canonicalization, and a mergeable
frequency sketch.

Ops a 100 TB training-data platform runs that the registry did not yet
cover:

- ``llm_text_unigram_surprisal`` — corpus-trained unigram-LM rarity score
  per document (the perplexity-lite quality signal), in exact integer
  floor-log2 bits so it hash-matches across engines.
- ``llm_text_bigram_surprisal``  — the conditional (bigram) upgrade:
  word-order improbability the unigram score misses.
- ``llm_bpe_pair_counts``        — the first BPE merge step: corpus-frequency-
  weighted adjacent character-pair counts computed over the *distinct-word*
  table (vocabulary-sized, not corpus-sized).
- ``f_entity_resolution_customers`` — blocked record linkage: candidate
  pairs via a bounded blocking key, Levenshtein verify within blocks only
  (never a cross product).
- ``llm_dedup_url_normalize``    — Common-Crawl-style URL canonicalization
  dedup over injected raw-URL variants.
- ``llm_sketch_countmin``        — count-min sketch (d=4, w=256) with
  exact-vs-estimate honesty columns; counters are plain sums, so partial
  sketches merge losslessly (pinned by a partials test and a foreachBatch
  streaming twin).

Determinism (catalog.py contract): every score is exact integer arithmetic.
Floor-log2 is computed as ``length(bin(x)) - 1`` — both Spark and DuckDB
render ``bin(BIGINT)`` without leading zeros, so the result is an exact
integer on both engines where ``floor(log2(double))`` would be libm-
dependent at power-of-two boundaries. Levenshtein is the standard
character-level edit distance in both engines (ASCII inputs).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .. import tables as T
from ..operators.text import hexval_sql
from .catalog import query

# ---------------------------------------------------------------------------
# llm_text_unigram_surprisal — unigram-LM document rarity score.
#
# Train: token -> corpus count (one corpus shuffle, map-side combined; the
# (doc, term) tf frame is built first so the vocab agg runs over tf, not the
# raw token stream). Score: surprisal(token) = floor(log2(total_tokens /
# count(token))) bits — the integer part of the ideal code length; a doc's
# sum/mean over tokens is the perplexity-lite quality signal (word-salad and
# rare-token docs score high, boilerplate scores low).
#
# Scale: tf agg shuffles the corpus once on (doc_id, term) with map-side
# combine; the vocab is orders of magnitude smaller than the corpus and is
# joined back with a broadcast hint (same posture as llm_tfidf_top_terms);
# the final per-doc agg shuffles tf — already the compressed representation —
# on doc_id. No floating point anywhere.
# ---------------------------------------------------------------------------


@query(
    "llm_text_unigram_surprisal",
    oracle="""
WITH t AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2
), vocab AS (
    SELECT term, CAST(SUM(tf) AS BIGINT) AS tc FROM tf GROUP BY 1
), tot AS (
    SELECT CAST(SUM(tc) AS BIGINT) AS total_tokens FROM vocab
), s AS (
    SELECT tf.doc_id, tf.tf,
           CAST(length(bin(t.total_tokens // v.tc)) - 1 AS BIGINT) AS bits
    FROM tf JOIN vocab v USING (term) CROSS JOIN tot t
)
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT)        AS n_tokens,
       CAST(SUM(tf * bits) AS BIGINT) AS sum_surprisal_bits,
       CAST((1000 * SUM(tf * bits)) // greatest(SUM(tf), 1) AS BIGINT)
                                      AS mean_surprisal_millibits
FROM s GROUP BY 1
""",
    tags=("llm-text", "quality"),
)
def llm_text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram-LM surprisal: mean/sum of floor(log2(N/count))
    bits per token, trained on the corpus itself.

    ``bin()``-length floor-log2 keeps the score exact-integer on both
    engines (transcendental log2 is libm-dependent and never hash-stable).
    total // tc >= 1 always (tc <= total), so bin() never sees 0.
    """
    d = T.load(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = (
        t.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        # tf feeds BOTH the model derivation (vocab -> tot) and the scoring
        # join — without this the corpus is scanned and shuffled once per
        # consumer (censused at 3 scans); checkpointing the compressed
        # (doc,term,tf) frame is the standard fan-out trade
        .localCheckpoint()
    )
    vocab = tf.groupBy("term").agg(F.sum("tf").cast("bigint").alias("tc"))
    tot = vocab.agg(F.sum("tc").cast("bigint").alias("total_tokens"))
    s = (
        tf.join(F.broadcast(vocab), "term")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "bits",
            F.expr("CAST(length(bin(total_tokens div tc)) - 1 AS BIGINT)"),
        )
    )
    return s.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("n_tokens"),
        F.sum(F.col("tf") * F.col("bits")).cast("bigint").alias(
            "sum_surprisal_bits"
        ),
        F.expr(
            "CAST((1000 * SUM(tf * bits)) div greatest(SUM(tf), 1) AS BIGINT)"
        ).alias("mean_surprisal_millibits"),
    )


# ---------------------------------------------------------------------------
# llm_text_bigram_surprisal — conditional (bigram) LM surprisal per doc.
#
# The bigram upgrade of the unigram score: surprisal of token w2 given its
# predecessor w1 is floor(log2(count(w1 as context) / count(w1,w2))) bits —
# docs whose word order is improbable under the corpus bigram model score
# high even when every individual token is common (word-salad detection the
# unigram score misses).
#
# Scale: the corpus folds to (doc, w1, w2, btf) in one map-combined shuffle;
# the bigram and context-count tables are vocab²-/vocab-sized and broadcast
# back; the per-doc agg reruns over the compressed dtf frame. Exact integer
# arithmetic throughout (bin()-length floor-log2); cc >= bc always because
# cc(w1) sums bc(w1, *).
# ---------------------------------------------------------------------------


@query(
    "llm_text_bigram_surprisal",
    oracle="""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), tf AS (
    SELECT doc_id, t FROM t WHERE len(t) >= 2
), idx AS (
    SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM tf
), pr AS (
    SELECT doc_id, t[i] AS w1, t[i+1] AS w2 FROM idx
), dtf AS (
    SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS btf
    FROM pr GROUP BY 1, 2, 3
), bc AS (
    SELECT w1, w2, CAST(SUM(btf) AS BIGINT) AS bc FROM dtf GROUP BY 1, 2
), cc AS (
    SELECT w1, CAST(SUM(bc) AS BIGINT) AS cc FROM bc GROUP BY 1
), s AS (
    SELECT dtf.doc_id, dtf.btf,
           CAST(length(bin(cc.cc // bc.bc)) - 1 AS BIGINT) AS bits
    FROM dtf JOIN bc USING (w1, w2) JOIN cc USING (w1)
)
SELECT doc_id,
       CAST(SUM(btf) AS BIGINT)        AS n_bigrams,
       CAST(SUM(btf * bits) AS BIGINT) AS sum_bigram_bits,
       CAST((1000 * SUM(btf * bits)) // greatest(SUM(btf), 1) AS BIGINT)
                                       AS mean_bigram_millibits
FROM s GROUP BY 1
""",
    tags=("llm-text", "quality"),
)
def llm_text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document conditional bigram surprisal: mean/sum of
    floor(log2(context_count / bigram_count)) bits over adjacent token
    pairs, trained on the corpus itself.

    element_at indices are in [1, size] by the sequence bounds (i up to
    size-1, i+1 up to size), so ANSI mode never faults; docs with fewer
    than two tokens drop out on both engines (len filter / inner join).
    """
    d = T.load(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 2
    )
    pairs = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    dtf = (
        pairs.groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("btf"))
        # dtf feeds the bigram/context model AND the scoring join — same
        # checkpoint-the-fan-out discipline as the unigram twin
        .localCheckpoint()
    )
    bc = dtf.groupBy("w1", "w2").agg(F.sum("btf").cast("bigint").alias("bc"))
    cc = bc.groupBy("w1").agg(F.sum("bc").cast("bigint").alias("cc"))
    s = (
        dtf.join(F.broadcast(bc), ["w1", "w2"])
        .join(F.broadcast(cc), "w1")
        .withColumn(
            "bits", F.expr("CAST(length(bin(cc div bc)) - 1 AS BIGINT)")
        )
    )
    return s.groupBy("doc_id").agg(
        F.sum("btf").cast("bigint").alias("n_bigrams"),
        F.sum(F.col("btf") * F.col("bits")).cast("bigint").alias(
            "sum_bigram_bits"
        ),
        F.expr(
            "CAST((1000 * SUM(btf * bits)) div greatest(SUM(btf), 1) AS BIGINT)"
        ).alias("mean_bigram_millibits"),
    )


# ---------------------------------------------------------------------------
# llm_bpe_pair_counts — tokenizer induction, step one of BPE: count adjacent
# character pairs weighted by word frequency; the top pair is the first
# merge a BPE trainer would perform.
#
# Scale: the corpus is folded to the word-frequency table first (one
# map-combined shuffle); pair explosion runs over DISTINCT WORDS — a
# vocabulary-sized frame — so a trillion-token corpus costs one shuffle plus
# vocab-sized work. The final ranking windows over the aggregated PAIR table,
# whose cardinality is bounded by charset^2 (~single-digit thousands for
# ASCII text) independent of corpus size, so the single-partition sort is a
# constant-size step at any scale.
# ---------------------------------------------------------------------------
BPE_TOP_K = 20


@query(
    "llm_bpe_pair_counts",
    oracle=f"""
WITH w AS (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
), wf AS (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
    FROM w WHERE length(word) >= 2 GROUP BY 1
), idx AS (
    SELECT word, freq, unnest(range(1, length(word))) AS i FROM wf
), p AS (
    SELECT substr(word, i, 2) AS pair, freq FROM idx
), pc AS (
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count FROM p GROUP BY 1
), r AS (
    SELECT pair, pair_count,
           CAST(row_number() OVER (ORDER BY pair_count DESC, pair) AS BIGINT)
               AS rnk
    FROM pc
)
SELECT pair, pair_count, rnk FROM r WHERE rnk <= {BPE_TOP_K}
""",
    tags=("llm-text", "tokenizer"),
)
def llm_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{K} adjacent character pairs by corpus-frequency-weighted count —
    the first merge step of a BPE tokenizer trainer.

    Pairs are generated from the distinct-word table (vocab-sized), weighted
    by word frequency; rank ties broken by the pair string so the top-K set
    is deterministic on both engines.
    """
    d = T.load(spark, sf_dir, "documents")
    w = d.select(F.explode(F.split("text", " ")).alias("word")).filter(
        F.length("word") >= 2
    )
    wf = w.groupBy("word").agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    p = wf.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))")
        ).alias("pair"),
        "freq",
    )
    pc = p.groupBy("pair").agg(F.sum("freq").cast("bigint").alias("pair_count"))
    rnk = F.row_number().over(
        Window.orderBy(F.col("pair_count").desc(), "pair")
    )
    return (
        pc.withColumn("rnk", rnk.cast("bigint"))
        .filter(F.col("rnk") <= BPE_TOP_K)
        .select("pair", "pair_count", "rnk")
    )


# ---------------------------------------------------------------------------
# f_entity_resolution_customers — blocked record linkage (entity dedup).
#
# Candidate generation by a bounded blocking key (nation x segment x
# account-balance band), Levenshtein verify WITHIN blocks only — the classic
# blocking-then-verify shape; the pair space never crosses block boundaries
# and no cross product appears in the plan (equi-join on the block key).
#
# Scale: block count grows with key cardinality, block size with data/blocks;
# at 100 TB the blocking key must keep block sizes bounded (add more key
# components — zip/prefix/phonetic — exactly as the band component does
# here); AQE skew-join splits any hot block. Verification cost is
# sum(block_size^2), never N^2.
# ---------------------------------------------------------------------------
ER_MAX_DIST = 2
ER_BAND = 2000.0


@query(
    "f_entity_resolution_customers",
    oracle=f"""
WITH b AS (
    SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
           CAST(FLOOR(c_acctbal / {ER_BAND}) AS BIGINT) AS bal_band
    FROM customer
)
SELECT a.c_custkey                  AS custkey_a,
       b.c_custkey                  AS custkey_b,
       a.c_nationkey                AS c_nationkey,
       a.c_mktsegment               AS c_mktsegment,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS lev_dist
FROM b a JOIN b b
  ON a.c_nationkey = b.c_nationkey
 AND a.c_mktsegment = b.c_mktsegment
 AND a.bal_band = b.bal_band
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= {ER_MAX_DIST}
""",
    tags=("functions", "record-linkage"),
)
def f_entity_resolution_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy customer matching: equi-join on (nation, segment,
    balance band), edit-distance <= 2 verify inside blocks.

    The band component demonstrates the bounded-block discipline: double
    division + floor is IEEE-exact and identical on both engines, so block
    membership never diverges.
    """
    c = T.load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / F.lit(ER_BAND)).cast("bigint").alias(
            "bal_band"
        ),
    )
    a, b = c.alias("a"), c.alias("b")
    return (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
            & (F.col("a.bal_band") == F.col("b.bal_band"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .withColumn(
            "lev_dist",
            F.levenshtein(F.col("a.c_name"), F.col("b.c_name")).cast("bigint"),
        )
        .filter(F.col("lev_dist") <= ER_MAX_DIST)
        .select(
            F.col("a.c_custkey").alias("custkey_a"),
            F.col("b.c_custkey").alias("custkey_b"),
            F.col("a.c_nationkey").alias("c_nationkey"),
            F.col("a.c_mktsegment").alias("c_mktsegment"),
            "lev_dist",
        )
    )


# ---------------------------------------------------------------------------
# llm_dedup_url_normalize — URL canonicalization dedup (the Common-Crawl-
# style fetch-dedup step: the same resource reached via scheme/case/www/
# default-port/trailing-slash/param-order/fragment variants must collapse
# to ONE canonical key before refetch/storage).
#
# The documents table carries no URL column, so a deterministic raw URL is
# INJECTED JVM-side from doc_id (the PII/WAV/PPM construction applied to
# URLs): four docs share each canonical resource, each presenting a
# different obfuscation. The normalizer then has to genuinely earn the
# collapse. Cross-engine discipline: no regex backreferences (Spark uses
# $1, DuckDB \1 — divergent), only anchored regexes (Spark regexp_replace
# is global, DuckDB first-match: anchors make both replace exactly once),
# literal `replace` for port/slash folding, and engine-native
# sort-split-join for query-param ordering.
#
# Scale: one scan, one map-side projection chain, one map-combined
# groupBy on the canonical key — the same single-shuffle shape as exact
# dedup.
# ---------------------------------------------------------------------------
_URL_INJ_SQL = """
    CASE CAST(doc_id % 4 AS INT)
        WHEN 0 THEN 'https://example.com/p' || CAST(doc_id // 4 AS VARCHAR)
                 || '?b=2&a=1'
        WHEN 1 THEN 'HTTP://WWW.EXAMPLE.COM/p' || CAST(doc_id // 4 AS VARCHAR)
                 || '/?a=1&b=2'
        WHEN 2 THEN 'https://example.com:443/p' || CAST(doc_id // 4 AS VARCHAR)
                 || '?a=1&b=2#frag'
        ELSE 'http://example.com/p' || CAST(doc_id // 4 AS VARCHAR)
                 || '?a=1&b=2'
    END
"""

# normalization chain shared by both engines (text is identical modulo the
# split/sort/join function names): lower -> drop fragment -> fold scheme ->
# strip www. -> fold default ports -> fold '/?' -> sort query params ->
# strip trailing slash
_URL_NORM_ORA = """
    CASE WHEN strpos(u4, '?') > 0
         THEN regexp_replace(split_part(u4, '?', 1), '/$', '')
              || '?'
              || array_to_string(list_sort(string_split(
                     split_part(u4, '?', 2), '&')), '&')
         ELSE regexp_replace(u4, '/$', '')
    END
"""


@query(
    "llm_dedup_url_normalize",
    oracle=f"""
WITH inj AS (
    SELECT doc_id, {_URL_INJ_SQL} AS raw_url FROM documents
), n1 AS (
    SELECT doc_id, raw_url,
           replace(replace(regexp_replace(
               split_part(lower(raw_url), '#', 1), '^https?://', ''),
               ':443/', '/'), ':80/', '/') AS u3
    FROM inj
), n2 AS (
    SELECT doc_id, raw_url,
           replace(regexp_replace(u3, '^www\\.', ''), '/?', '?') AS u4
    FROM n1
), canon AS (
    SELECT doc_id, raw_url, {_URL_NORM_ORA} AS canonical_url FROM n2
)
SELECT canonical_url,
       CAST(COUNT(*) AS BIGINT)                 AS n_docs,
       CAST(COUNT(DISTINCT raw_url) AS BIGINT)  AS n_raw_variants,
       MIN(doc_id)                              AS keeper_doc_id
FROM canon GROUP BY 1
""",
    tags=("llm-dedup", "url"),
)
def llm_dedup_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup: normalize injected raw URL variants and group
    by the canonical key (keeper = min doc_id).

    Every step is a deterministic string op with identical semantics on
    both engines; the '/?' fold is a LITERAL replace (not regex). Expected
    shape on the synthetic input: 4 raw variants per canonical resource.
    """
    d = T.load(spark, sf_dir, "documents")
    inj = d.select(
        "doc_id",
        # NOTE: targeted replace — a blanket '//'->'div' would also rewrite
        # the URL literals' scheme separators
        F.expr(
            _URL_INJ_SQL.replace("doc_id // 4", "doc_id div 4").replace(
                "AS VARCHAR", "AS STRING"
            )
        ).alias("raw_url"),
    )
    u3 = F.replace(
        F.replace(
            F.regexp_replace(
                F.split_part(F.lower(F.col("raw_url")), F.lit("#"), F.lit(1)),
                F.lit("^https?://"),
                F.lit(""),
            ),
            F.lit(":443/"),
            F.lit("/"),
        ),
        F.lit(":80/"),
        F.lit("/"),
    )
    n2 = inj.withColumn(
        "u4",
        F.replace(
            F.regexp_replace(u3, F.lit("^www\\."), F.lit("")),
            F.lit("/?"),
            F.lit("?"),
        ),
    )
    base = F.regexp_replace(
        F.split_part(F.col("u4"), F.lit("?"), F.lit(1)), F.lit("/$"), F.lit("")
    )
    qsorted = F.array_join(
        F.array_sort(F.split(F.split_part(F.col("u4"), F.lit("?"), F.lit(2)), "&")),
        "&",
    )
    canon = n2.withColumn(
        "canonical_url",
        F.when(
            F.instr(F.col("u4"), "?") > 0,
            F.concat(base, F.lit("?"), qsorted),
        ).otherwise(F.regexp_replace(F.col("u4"), F.lit("/$"), F.lit(""))),
    )
    return canon.groupBy("canonical_url").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("raw_url").cast("bigint").alias("n_raw_variants"),
        F.min("doc_id").alias("keeper_doc_id"),
    )


# ---------------------------------------------------------------------------
# llm_sketch_countmin — count-min sketch over corpus token frequencies.
#
# d=4 independent hash rows x w=256 buckets; counters are plain sums of the
# token counts that hash into them, so per-partition / per-batch partial
# sketches merge by element-wise addition (the property the streaming twin
# test pins). Estimates are the row-wise MIN of the bucket counters — always
# >= the exact count (one-sided error), surfaced per token next to the exact
# count as honesty columns.
#
# Scale: the corpus folds to the vocab-count table first (one map-combined
# shuffle); everything after — hashing, the (rw, bucket) agg, the estimate
# join — is vocab-sized. The sketch itself is d*w = 1024 counters regardless
# of corpus size.
# ---------------------------------------------------------------------------
CM_DEPTH = 4
CM_WIDTH = 256

_CM_HV = hexval_sql("hx", "instr")
_CM_HV_ORA = hexval_sql("md5(token || ':cm' || CAST(rw AS VARCHAR))", "strpos")


def _cm_hashed(tc: DataFrame) -> DataFrame:
    """(token, exact_count, rw, bucket) — every token fanned out to its
    CM_DEPTH row/bucket coordinates. Unambiguous hash input: rw is a
    single char, so token1||':cm'||rw1 == token2||':cm'||rw2 forces equal
    lengths and hence equal (token, rw)."""
    rows = tc.select(
        "token",
        "exact_count",
        F.explode(F.array([F.lit(i) for i in range(CM_DEPTH)])).alias("rw"),
    )
    return rows.withColumn(
        "hx", F.md5(F.concat(F.col("token"), F.lit(":cm"), F.col("rw").cast("string")))
    ).withColumn("bucket", F.expr(f"({_CM_HV}) % {CM_WIDTH}"))


def countmin_sketch(tc: DataFrame) -> DataFrame:
    """Build the (rw, bucket, bucket_count) sketch from a (token,
    exact_count) frame. Counters are sums -> two sketches over disjoint
    corpus halves merge by summing bucket_count (pinned by
    test_countmin_partials_merge)."""
    return _cm_hashed(tc).groupBy("rw", "bucket").agg(
        F.sum("exact_count").cast("bigint").alias("bucket_count")
    )


@query(
    "llm_sketch_countmin",
    oracle=f"""
WITH t AS (
    SELECT unnest(string_split(text, ' ')) AS token FROM documents
), tc AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_count FROM t GROUP BY 1
), r AS (
    SELECT token, exact_count, unnest(range(0, {CM_DEPTH})) AS rw FROM tc
), h AS (
    SELECT token, exact_count, rw,
           ({_CM_HV_ORA}) % {CM_WIDTH} AS bucket
    FROM r
), sk AS (
    SELECT rw, bucket, CAST(SUM(exact_count) AS BIGINT) AS bucket_count
    FROM h GROUP BY 1, 2
), est AS (
    SELECT h.token, h.exact_count,
           CAST(MIN(sk.bucket_count) AS BIGINT) AS cm_estimate
    FROM h JOIN sk USING (rw, bucket) GROUP BY 1, 2
)
SELECT token, exact_count, cm_estimate,
       CAST(cm_estimate - exact_count AS BIGINT) AS overestimate
FROM est
""",
    tags=("llm-sketch",),
)
def llm_sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min estimates vs exact token counts (one-sided overestimate).

    tc is localCheckpoint'ed so the sketch branch and the estimate branch
    share one corpus scan (same discipline as the LSH/mix queries).
    """
    d = T.load(spark, sf_dir, "documents")
    t = d.select(F.explode(F.split("text", " ")).alias("token"))
    tc = (
        t.groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_count"))
        .localCheckpoint()
    )
    sk = countmin_sketch(tc)
    hashed = _cm_hashed(tc)
    est = (
        hashed.join(F.broadcast(sk), ["rw", "bucket"])
        .groupBy("token", "exact_count")
        .agg(F.min("bucket_count").cast("bigint").alias("cm_estimate"))
    )
    return est.select(
        "token",
        "exact_count",
        "cm_estimate",
        (F.col("cm_estimate") - F.col("exact_count")).cast("bigint").alias(
            "overestimate"
        ),
    )
