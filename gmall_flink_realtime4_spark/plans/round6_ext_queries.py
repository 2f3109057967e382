"""Round-6 extensions: perceptual image dedup (exact-hash groups + banded
hamming pairs), skew-resistant per-domain cap sampling, a z-order
file-layout audit, int8 embedding quantization, and the two CBO/statistics
ops (ANALYZE column profile, KMV join-cardinality estimate).

Ops a 100 TB training-data platform runs that the registry did not yet
cover (first wave documented below; later waves documented at their
blocks):

- ``llm_multimodal_image_dedup`` — near-dup IMAGE dedup via perceptual
  average-hash (aHash) computed from the real decoded pixel plane: the
  multimodal sibling of the text near-dup family (minhash/simhash/
  embedding-cosine). Quantizing each pixel against the image mean makes
  byte-different but visually-identical images collide, which exact
  payload-md5 dedup cannot.
- ``llm_sample_domain_cap`` — the Common-Crawl-style "at most K documents
  per domain" policy, implemented as a two-phase (salted partial top-K ->
  final top-K) selection so one hot domain with billions of pages never
  single-threads a reducer.
- ``f_zorder_layout_audit`` — Z-ORDER vs linear-sort data-layout audit:
  interleave the bits of two scan dimensions, bucket rows into files under
  both layouts, and report each file's per-dimension min/max span — the
  exact statistics a lakehouse file-skipping planner prunes on. Both
  layouts tile ~the same cell AREA per file (span_product ~ cells/file);
  the difference is the SHAPE: z-order files are ~square (32x32 here — a
  point predicate on EITHER dimension skips ~7/8 of files) while linear
  files are 4x256 (a b2-only predicate skips nothing) — why single-column
  sort cannot serve two predicate columns.

Determinism (catalog.py contract): aHash bits are exact-integer mean
compares (cross-multiplied, no division); the sampling rank orders on the
48-bit md5 prefix + doc_id (total order); z-values are pure integer bit
arithmetic generated from ONE template for both engines.

Reference scope: the reference engine (gmall-flink-realtime4) has no
multimodal/sampling/layout surface — these extend the LLM-pipeline family
the build brief names as first-class (dedup / sampling / storage layout).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .. import tables as T
from ..operators.text import (
    HEX,
    KMV_M,
    MINHASH_K,
    SHINGLE_SQL,
    hexval_sql,
    is_trigram,
    minhash_signatures,
    shingles,
    trigrams,
)
from ..operators.topk import two_phase_topk
from ..tables import PPB
from .catalog import query
from .llm_multimodal import ahash_image, fixed_ppm_frame
from .llm_scale_queries import KMV_K

# ---------------------------------------------------------------------------
# llm_multimodal_image_dedup — perceptual aHash near-dup grouping.
#
# Plan: scan -> JVM P6 construction -> Arrow batch -> one 48-bit fingerprint
# row per image (map-only; the decode never shuffles) -> fingerprint frame is
# localCheckpoint'ed (it feeds both the group agg and the join-back — the
# census discipline: never re-run a codec for fan-out) -> groupBy(ahash)
# keeper/size -> join back on ahash. Both shuffles move 1 row per image of
# a few BIGINTs — at 100 TB of image bytes the shuffled bytes are ~1e-6 of
# the scan, and the join is an AQE-splittable equi join (a degenerate hash
# bucket of identical frames splits fine because only min/count cross it).
# ---------------------------------------------------------------------------


@query(
    "llm_multimodal_image_dedup",
    oracle="""
WITH img AS (
    SELECT doc_id, rpad(text, 144, 'x') AS plane
    FROM documents WHERE CAST(doc_id % 3 AS INT) = 0
), px AS (
    SELECT doc_id, i,
           ascii(substr(plane, CAST(3 * i + 1 AS INT), 1))
         + ascii(substr(plane, CAST(3 * i + 2 AS INT), 1))
         + ascii(substr(plane, CAST(3 * i + 3 AS INT), 1)) AS luma3
    FROM img, range(48) t(i)
), bt AS (
    SELECT doc_id, i,
           CASE WHEN 48 * luma3 >= SUM(luma3) OVER (PARTITION BY doc_id)
                THEN 1 ELSE 0 END AS bit
    FROM px
), hs AS (
    SELECT doc_id,
           SUM(bit * (CAST(1 AS BIGINT) << CAST(47 - i AS INT))) AS ahash,
           CAST(SUM(bit) AS BIGINT) AS n_ones
    FROM bt GROUP BY doc_id
), grp AS (
    SELECT ahash, CAST(COUNT(*) AS BIGINT) AS group_size,
           MIN(doc_id) AS keeper_doc_id
    FROM hs GROUP BY ahash
)
SELECT h.doc_id,
       lower(lpad(hex(h.ahash), 12, '0')) AS ahash_hex,
       h.n_ones, g.group_size, g.keeper_doc_id,
       h.doc_id <> g.keeper_doc_id AS is_dup
FROM hs h JOIN grp g USING (ahash)
""",
    tags=("llm-multimodal", "dedup"),
)
def llm_multimodal_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup image dedup by perceptual average-hash over REAL decoded
    P6 pixel planes (header parse + numpy byte reduction in mapInPandas).

    The oracle reproduces every fingerprint bit from the container
    construction rule (plane == rpad'ed ASCII text bytes), proving the
    codec read exactly the bytes the container carries AND that the
    mean-threshold quantization is integer-identical across engines.
    Keeper = min(doc_id) per hash — a deterministic total order on both
    engines (catalog dedup contract)."""
    fp = (
        ahash_image(fixed_ppm_frame(spark, sf_dir))
        .filter(F.col("ok"))
        .select("doc_id", "ahash", "n_ones")
        .localCheckpoint()  # codec runs once; agg + join-back reuse it
    )
    grp = fp.groupBy("ahash").agg(
        F.count(F.lit(1)).cast("bigint").alias("group_size"),
        F.min("doc_id").alias("keeper_doc_id"),
    )
    return fp.join(grp, "ahash").select(
        "doc_id",
        F.lower(F.lpad(F.hex("ahash"), 12, "0")).alias("ahash_hex"),
        "n_ones",
        "group_size",
        "keeper_doc_id",
        (F.col("doc_id") != F.col("keeper_doc_id")).alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# llm_sample_domain_cap — "at most K docs per domain", skew-resistant.
#
# The pick is a pure function of the data (smallest 48-bit md5(doc_id)
# prefix wins, doc_id breaks ties), so the sample is reproducible across
# engines, retries and repartitioning. The two-phase shape is the scale
# point: phase 1 ranks within (domain, salt) — a hot domain's rows are
# split across NSALT reducers, each keeping at most CAP — so phase 2 ranks
# at most NSALT*CAP survivors per domain (constant, broadcast-sized).
# Global-top-K-per-domain == top-K of per-salt top-Ks exactly (any final
# winner is also a winner within its salt bucket), pinned by
# tests/test_round6_ext.py against the one-window form.
# ---------------------------------------------------------------------------
DOMAIN_CAP = 10  # keep at most this many docs per source
CAP_NSALT = 16  # phase-1 fanout (4096+ on a real cluster)


@query(
    "llm_sample_domain_cap",
    oracle=f"""
WITH h AS (
    SELECT source, doc_id,
           {hexval_sql("md5(CAST(doc_id AS VARCHAR))", "strpos")} AS u
    FROM documents
), r AS (
    SELECT source, doc_id, u,
           row_number() OVER (PARTITION BY source
                              ORDER BY u, doc_id) AS pick_rank
    FROM h
)
SELECT source, CAST(pick_rank AS BIGINT) AS pick_rank, doc_id, u
FROM r WHERE pick_rank <= {DOMAIN_CAP}
""",
    tags=("llm-text", "sampling"),
)
def llm_sample_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (the C4/Common-Crawl anti-spam policy):
    keep the CAP docs with the smallest deterministic hash per source.

    Oracle is the textbook single window; the Spark plan is the two-phase
    salted top-K that survives a billion-page domain. Phase-1 output is
    bounded (NSALT*CAP rows per domain) so the final window's partitions
    are constant-size no matter how skewed the input."""
    d = T.load(spark, sf_dir, "documents", spread=False).select(
        "source",
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("hx"),
    )
    h = d.withColumn("u", F.expr(hexval_sql("hx", "instr"))).drop("hx")
    return two_phase_topk(
        h,
        ["source"],
        "doc_id",
        ["u", "doc_id"],
        DOMAIN_CAP,
        salt=CAP_NSALT,
        rank_col="pick_rank",
    ).select("source", "pick_rank", "doc_id", "u")


# ---------------------------------------------------------------------------
# f_zorder_layout_audit — z-order vs linear file layout, quantified.
#
# Both engines compute z-values from ONE generated integer-arithmetic
# template (no engine-specific bit intrinsics), so the audit is exact.
# One scan -> per-row (b1, b2, file under each layout) -> explode the two
# layout assignments -> one (layout, file_id) agg. A single shuffle whose
# key count is 2 * N_FILES regardless of table size.
# ---------------------------------------------------------------------------
ZB_BITS = 8  # 256 buckets per dimension
ZB = 1 << ZB_BITS
Z_FILES = 64  # files per layout
CK_SPAN = 1500  # o_custkey in [0, 1500)
DATE_EPOCH = "1995-01-01"
DAY_SPAN = 2406  # datediff(max o_orderdate, epoch) == 2404 < 2406


def _interleave_sql(c1: str, c2: str, divtok: str) -> str:
    """Bit-interleave two ZB_BITS-wide non-negative ints: c1 takes the odd
    bit positions, c2 the even — plain div/mod arithmetic valid in both
    Spark SQL (divtok='div') and DuckDB (divtok='//')."""
    terms = []
    for i in range(ZB_BITS):
        terms.append(f"(({c1} {divtok} {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"(({c2} {divtok} {1 << i}) % 2) * {1 << (2 * i)}")
    return "(" + " + ".join(terms) + ")"


def _zorder_oracle() -> str:
    z = _interleave_sql("b1", "b2", "//")
    return f"""
WITH b AS (
    SELECT least(greatest((o_custkey * {ZB}) // {CK_SPAN}, 0), {ZB - 1})
               AS b1,
           least(greatest(
               (date_diff('day', DATE '{DATE_EPOCH}',
                          CAST(o_orderdate AS DATE)) * {ZB}) // {DAY_SPAN},
               0), {ZB - 1}) AS b2
    FROM orders
), f AS (
    SELECT 'zorder' AS layout,
           ({z} * {Z_FILES}) // {ZB * ZB} AS file_id, b1, b2 FROM b
    UNION ALL
    SELECT 'linear' AS layout,
           ((b1 * {ZB} + b2) * {Z_FILES}) // {ZB * ZB} AS file_id, b1, b2
    FROM b
)
SELECT layout, CAST(file_id AS BIGINT) AS file_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(b1) AS BIGINT) AS min_b1, CAST(MAX(b1) AS BIGINT) AS max_b1,
       CAST(MIN(b2) AS BIGINT) AS min_b2, CAST(MAX(b2) AS BIGINT) AS max_b2,
       CAST(MAX(b1) - MIN(b1) + 1 AS BIGINT) AS span_b1,
       CAST(MAX(b2) - MIN(b2) + 1 AS BIGINT) AS span_b2,
       CAST((MAX(b1) - MIN(b1) + 1) * (MAX(b2) - MIN(b2) + 1) AS BIGINT)
           AS span_product
FROM f GROUP BY 1, 2
"""


@query(
    "f_zorder_layout_audit",
    oracle=_zorder_oracle(),
    tags=("storage-layout",),
)
def f_zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout audit for two-dimensional scan pruning: bucket orders by
    (customer, order-day) into 256x256 cells, assign each row to one of 64
    files under (a) z-order and (b) linear (b1-major) sort, and emit every
    file's per-dimension min/max footprint + span_product — the rectangle
    a min/max-pruning reader must intersect with a predicate. At 100 TB
    this IS the OPTIMIZE ZORDER decision input: z-order keeps both spans
    small (point predicates on EITHER dimension skip most files); linear
    keeps only b1 small while every file spans all of b2."""
    z = _interleave_sql("b1", "b2", "div")
    b = T.load(spark, sf_dir, "orders", spread=False).select(
        # clamp into [0, ZB): an out-of-constant-range key must saturate at
        # the edge cell, not alias into low cells through the 8-bit
        # interleave (b1=256 would z-collide with b1=0), and a pre-epoch
        # date must not hit the div-truncate (Spark) vs floor (DuckDB)
        # negative-division divergence
        F.expr(
            f"least(greatest((o_custkey * {ZB}) div {CK_SPAN}, 0), {ZB - 1})"
        ).alias("b1"),
        F.expr(
            f"least(greatest((datediff(cast(o_orderdate as date),"
            f" date'{DATE_EPOCH}') * {ZB}) div {DAY_SPAN}, 0), {ZB - 1})"
        ).alias("b2"),
    )
    lay = b.select(
        "b1",
        "b2",
        F.explode(
            F.array(
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.expr(f"({z} * {Z_FILES}) div {ZB * ZB}").alias(
                        "file_id"
                    ),
                ),
                F.struct(
                    F.lit("linear").alias("layout"),
                    F.expr(
                        f"((b1 * {ZB} + b2) * {Z_FILES}) div {ZB * ZB}"
                    ).alias("file_id"),
                ),
            )
        ).alias("a"),
    ).select("a.layout", F.col("a.file_id").cast("bigint").alias("file_id"), "b1", "b2")
    return (
        lay.groupBy("layout", "file_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("b1").cast("bigint").alias("min_b1"),
            F.max("b1").cast("bigint").alias("max_b1"),
            F.min("b2").cast("bigint").alias("min_b2"),
            F.max("b2").cast("bigint").alias("max_b2"),
        )
        .withColumn(
            "span_b1",
            (F.col("max_b1") - F.col("min_b1") + 1).cast("bigint"),
        )
        .withColumn(
            "span_b2",
            (F.col("max_b2") - F.col("min_b2") + 1).cast("bigint"),
        )
        .withColumn(
            "span_product",
            (F.col("span_b1") * F.col("span_b2")).cast("bigint"),
        )
    )


# ---------------------------------------------------------------------------
# llm_multimodal_image_neardup_pairs — banded hamming search over aHash.
#
# Extends exact-hash grouping to NEAR hashes: 48-bit fingerprints split
# into 4 bands of 12 bits; candidate pairs share >= 1 band; verify is two
# integer intrinsics (xor + bit_count) per pair. Pigeonhole guarantee:
# hamming <= 3 differing bits cannot touch all 4 bands, so recall within
# the radius is exactly 100% — same banding contract as llm_dedup_simhash.
# The fingerprint frame is checkpointed (codec once); the band self-join
# is an AQE-splittable equi join whose fan-out tracks true collisions.
# ---------------------------------------------------------------------------
AHASH_BANDS = 4
AHASH_BAND_BITS = 12
AHASH_HAM_MAX = 3


@query(
    "llm_multimodal_image_neardup_pairs",
    oracle=f"""
WITH img AS (
    SELECT doc_id, rpad(text, 144, 'x') AS plane
    FROM documents WHERE CAST(doc_id % 3 AS INT) = 0
), px AS (
    SELECT doc_id, i,
           ascii(substr(plane, CAST(3 * i + 1 AS INT), 1))
         + ascii(substr(plane, CAST(3 * i + 2 AS INT), 1))
         + ascii(substr(plane, CAST(3 * i + 3 AS INT), 1)) AS luma3
    FROM img, range(48) t(i)
), bt AS (
    SELECT doc_id, i,
           CASE WHEN 48 * luma3 >= SUM(luma3) OVER (PARTITION BY doc_id)
                THEN 1 ELSE 0 END AS bit
    FROM px
), hs AS (
    SELECT doc_id,
           SUM(bit * (CAST(1 AS BIGINT) << CAST(47 - i AS INT))) AS ahash
    FROM bt GROUP BY doc_id
), bands AS (
    SELECT doc_id, ahash, k,
           (ahash // (CAST(1 AS BIGINT) << CAST({AHASH_BAND_BITS} * k AS INT)))
               % {1 << AHASH_BAND_BITS} AS bv
    FROM hs, range({AHASH_BANDS}) t(k)
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.ahash AS ha, b.ahash AS hb
    FROM bands a JOIN bands b
      ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming,
       bit_count(xor(ha, hb)) = 0 AS is_exact
FROM cand WHERE bit_count(xor(ha, hb)) <= {AHASH_HAM_MAX}
""",
    tags=("llm-multimodal", "dedup"),
)
def llm_multimodal_image_neardup_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-duplicate IMAGE pairs within hamming radius 3 of the 48-bit
    perceptual hash — LSH banding (4 x 12-bit bands) generates candidates,
    two integer intrinsics verify. 100% recall inside the radius by
    pigeonhole (3 flipped bits cannot touch 4 bands). The multimodal twin
    of llm_dedup_simhash_pairs; candidates — never the image corpus —
    cross the shuffle."""
    fp = (
        ahash_image(fixed_ppm_frame(spark, sf_dir))
        .filter(F.col("ok"))
        .select("doc_id", "ahash")
        .localCheckpoint()  # codec once; both join sides read the frame
    )
    bands = fp.select(
        "doc_id",
        "ahash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("k"),
                        F.expr(
                            f"(ahash div {1 << (AHASH_BAND_BITS * k)})"
                            f" % {1 << AHASH_BAND_BITS}"
                        ).alias("bv"),
                    )
                    for k in range(AHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "ahash", "b.k", "b.bv")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.ahash").alias("ha"),
            F.col("b.ahash").alias("hb"),
        )
        .distinct()
    )
    ham = F.expr("bit_count(ha ^ hb)")
    return (
        cand.withColumn("hamming", ham.cast("bigint"))
        .filter(F.col("hamming") <= AHASH_HAM_MAX)
        .select(
            "doc_a",
            "doc_b",
            "hamming",
            (F.col("hamming") == 0).alias("is_exact"),
        )
    )


# ---------------------------------------------------------------------------
# llm_embedding_quantize_int8 — per-dimension scalar quantization audit.
#
# The vector-compression recipe every large ANN deployment runs before
# IVF/PQ: per-dim [min, max] over the corpus, 8-bit codes
# code = (v - min) * 255 div (max - min), reconstruction
# v' = min + code * (max - min) div 255. Everything runs on the shared
# DECIMAL(9,7) e7-integer ladder (operators.vectors.dec7), so codes and error
# statistics are exact integers on both engines.
#
# Scale: classic two-pass — pass 1 folds the corpus to 64 (dim, min, max)
# rows with map-side combine (the shuffle moves 64 rows per map task, not
# N*64); pass 2 re-scans with the broadcast stats row set and folds the
# error stats the same way. Re-scanning beats materializing an N*64-row
# exploded frame at 100 TB; both aggs are mergeable partials (the
# streaming form appends pass-1 partials per micro-batch).
# ---------------------------------------------------------------------------
_E7 = 10**7
_V7 = (
    "cast(cast(cast(v as double) as decimal(9,7)) * {e7} as bigint)".format(
        e7=_E7
    )
)


@query(
    "llm_embedding_quantize_int8",
    oracle=f"""
WITH ix AS (
    SELECT unnest(range(1, 65)) AS i
), v AS (
    SELECT ix.i - 1 AS dim,
           CAST(CAST(CAST(e.embedding[ix.i] AS DOUBLE) AS DECIMAL(9,7))
                * {_E7} AS BIGINT) AS v7
    FROM embeddings e, ix
), s AS (
    SELECT dim, MIN(v7) AS mn, MAX(v7) AS mx, CAST(COUNT(*) AS BIGINT) AS n
    FROM v GROUP BY 1
), q AS (
    SELECT v.dim, s.n, s.mn, s.mx,
           abs(v7 - (s.mn + (CASE WHEN s.mx > s.mn
                                  THEN ((v7 - s.mn) * 255) // (s.mx - s.mn)
                                  ELSE 0 END * (s.mx - s.mn)) // 255))
               AS err
    FROM v JOIN s USING (dim)
)
SELECT CAST(dim AS BIGINT) AS dim, n, mn AS min_e7, mx AS max_e7,
       CAST(MAX(err) AS BIGINT) AS max_abs_err_e7,
       CAST(SUM(err) // n AS BIGINT) AS mean_abs_err_e7
FROM q GROUP BY 1, 2, 3, 4
""",
    tags=("llm-embedding", "compression"),
)
def llm_embedding_quantize_int8(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Scalar 8-bit quantization audit over the embedding corpus: per-dim
    corpus [min, max] (pass 1), then exact reconstruction-error statistics
    of the 255-level code (pass 2 with the 64-row stats frame broadcast).
    Integer-exact end-to-end on the shared e7 decimal ladder; the
    mean/max error columns are the honesty metric that decides whether
    int8 is safe for a given corpus before rolling it into IVF/PQ."""

    def exploded() -> DataFrame:
        e = T.load(spark, sf_dir, "embeddings")
        return e.select(
            F.posexplode("embedding").alias("dim", "v")
        ).select(F.col("dim").cast("bigint").alias("dim"), F.expr(_V7).alias("v7"))

    stats = exploded().groupBy("dim").agg(
        F.min("v7").alias("mn"),
        F.max("v7").alias("mx"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    code = F.expr(
        "case when mx > mn then ((v7 - mn) * 255) div (mx - mn)"
        " else 0 end"
    )
    err = F.abs(
        F.col("v7")
        - (F.col("mn") + F.expr("code * (mx - mn) div 255"))
    )
    q = (
        exploded()
        .join(F.broadcast(stats), "dim")
        .withColumn("code", code)
        .withColumn("err", err)
    )
    return (
        q.groupBy("dim", "n", "mn", "mx")
        .agg(
            F.max("err").cast("bigint").alias("max_abs_err_e7"),
            F.expr("cast(sum(err) div any_value(n) as bigint)").alias(
                "mean_abs_err_e7"
            ),
        )
        .select(
            "dim",
            "n",
            F.col("mn").alias("min_e7"),
            F.col("mx").alias("max_e7"),
            "max_abs_err_e7",
            "mean_abs_err_e7",
        )
    )


# ---------------------------------------------------------------------------
# dq_table_stats_profile — ANALYZE-style per-column statistics.
#
# The CBO input every warehouse collects (ANALYZE TABLE ... COMPUTE
# STATISTICS FOR COLUMNS): per column, row/null counts, exact NDV, typed
# min/max, and the KMV NDV *estimate* beside its exact twin — the honesty
# column that shows what a sketch-only (single-scan, mergeable) profile
# would have reported at 100 TB, where the exact NDV's per-column distinct
# shuffle is the expensive part.
#
# Shape: one stack() Generate turns the row into 6 (col_name, canonical
# repr) rows; the profile agg and the salted KMV fold both run over that
# long frame (recomputed, not checkpointed: materializing a 6N-row frame
# is exactly what a 100 TB profile avoids — the scan is the cheaper side);
# typed min/max come from a third single-output-row agg unpivoted by a
# second stack. Every repr is canonical across engines: ints as decimal
# strings, money as e2-integer strings, dates as yyyy-MM-dd.
# ---------------------------------------------------------------------------
_PROF_COLS: list[tuple[str, str, str]] = [
    # (column, spark repr expr, duckdb repr expr)
    ("o_orderkey", "cast(o_orderkey as string)", "CAST(o_orderkey AS VARCHAR)"),
    ("o_custkey", "cast(o_custkey as string)", "CAST(o_custkey AS VARCHAR)"),
    ("o_orderstatus", "o_orderstatus", "o_orderstatus"),
    (
        "o_totalprice",
        "cast(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"
        " as string)",
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        " AS VARCHAR)",
    ),
    (
        "o_orderdate",
        "date_format(o_orderdate, 'yyyy-MM-dd')",
        "strftime(o_orderdate, '%Y-%m-%d')",
    ),
    (
        "o_orderpriority",
        "o_orderpriority",
        "o_orderpriority",
    ),
]


def _stats_kmv_sql() -> str:
    units = " UNION ALL ".join(
        f"SELECT '{c}' AS col_name, {dk} AS repr FROM orders"
        for c, _, dk in _PROF_COLS
    )
    minmax = " UNION ALL ".join(
        f"SELECT '{c}' AS col_name, MIN({dk}) AS min_repr,"
        f" MAX({dk}) AS max_repr FROM orders"
        if c in ("o_orderstatus", "o_orderpriority", "o_orderdate")
        else (
            f"SELECT '{c}' AS col_name,"
            f" CAST(MIN({_mm}) AS VARCHAR) AS min_repr,"
            f" CAST(MAX({_mm}) AS VARCHAR) AS max_repr FROM orders"
        )
        for c, _, dk in _PROF_COLS
        for _mm in [
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            if c == "o_totalprice"
            else c
        ]
    )
    return f"""
WITH s AS (
    {units}
), prof AS (
    SELECT col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(repr) AS BIGINT) AS n_nonnull,
           CAST(COUNT(DISTINCT repr) AS BIGINT) AS ndv_exact
    FROM s GROUP BY 1
), h AS (
    SELECT DISTINCT col_name, md5(repr) AS hx FROM s WHERE repr IS NOT NULL
), r AS (
    SELECT col_name, hx,
           row_number() OVER (PARTITION BY col_name ORDER BY hx) AS rn,
           COUNT(*) OVER (PARTITION BY col_name) AS n
    FROM h
), kth AS (
    SELECT col_name, n, {hexval_sql("hx", "strpos")} AS v
    FROM r WHERE rn = LEAST(n, {KMV_K})
), mm AS (
    {minmax}
)
SELECT p.col_name, p.n_rows, p.n_nonnull, p.ndv_exact,
       CAST(CASE WHEN k.n < {KMV_K} THEN k.n
                 ELSE ({KMV_K - 1} * {KMV_M}) // greatest(k.v, 1) END
            AS BIGINT) AS ndv_kmv_est,
       CAST((1000 * abs(CASE WHEN k.n < {KMV_K} THEN k.n
                             ELSE ({KMV_K - 1} * {KMV_M})
                                  // greatest(k.v, 1) END
                        - p.ndv_exact)) // greatest(p.ndv_exact, 1)
            AS BIGINT) AS ndv_err_permille,
       mm.min_repr, mm.max_repr
FROM prof p
JOIN kth k USING (col_name)
JOIN mm USING (col_name)
"""


@query(
    "dq_table_stats_profile",
    oracle=_stats_kmv_sql(),
    tags=("dq", "stats"),
)
def dq_table_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column ANALYZE profile of orders: rows / non-nulls / exact NDV /
    canonical min-max, plus the deterministic KMV NDV estimate with its
    measured per-mille error — exact-vs-sketch honesty in one row per
    column, the statistics a cost-based optimizer and a partition-pruning
    planner both feed on."""
    o = T.load(spark, sf_dir, "orders", spread=False)
    stacked = o.select(
        F.expr(
            "stack("
            + str(len(_PROF_COLS))
            + ", "
            + ", ".join(f"'{c}', {sp}" for c, sp, _ in _PROF_COLS)
            + ") as (col_name, repr)"
        )
    )
    prof = stacked.groupBy("col_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count("repr").cast("bigint").alias("n_nonnull"),
        F.countDistinct("repr").cast("bigint").alias("ndv_exact"),
    )
    # salted k-min fold (the llm_sketch_kmv pattern, keyed by col_name)
    h = stacked.filter(F.col("repr").isNotNull()).select(
        "col_name", F.md5("repr").alias("hx")
    )
    salted = h.withColumn(
        "salt", F.expr(f"instr('{HEX}', substr(hx, 1, 1)) % 16")
    )
    partial = (
        salted.groupBy("col_name", "salt")
        .agg(F.array_sort(F.collect_set("hx")).alias("hs"))
        .select(
            "col_name",
            F.slice("hs", 1, KMV_K).alias("kmin"),
            F.size("hs").cast("bigint").alias("n_bucket"),
        )
    )
    kth = (
        partial.groupBy("col_name")
        .agg(
            F.sum("n_bucket").alias("n"),
            F.slice(
                F.array_sort(F.flatten(F.collect_list("kmin"))), 1, KMV_K
            ).alias("kmin_all"),
        )
        .select(
            "col_name",
            "n",
            F.expr(
                hexval_sql(
                    f"element_at(kmin_all, cast(least(n, {KMV_K}) as int))",
                    "instr",
                )
            ).alias("v"),
        )
    )
    # typed min/max: one single-row agg, unpivoted by a second stack
    mm_aggs = []
    for c, _, _ in _PROF_COLS:
        src = (
            "cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"
            if c == "o_totalprice"
            else c
        )
        mm_aggs.append(F.expr(f"min({src})").alias(f"mn_{c}"))
        mm_aggs.append(F.expr(f"max({src})").alias(f"mx_{c}"))
    one = o.agg(*mm_aggs)
    reprs = {
        "o_orderdate": lambda s: f"date_format({s}, 'yyyy-MM-dd')",
    }
    mm = one.select(
        F.expr(
            "stack("
            + str(len(_PROF_COLS))
            + ", "
            + ", ".join(
                "'{c}', {mn}, {mx}".format(
                    c=c,
                    mn=reprs.get(c, lambda s: f"cast({s} as string)")(
                        f"mn_{c}"
                    ),
                    mx=reprs.get(c, lambda s: f"cast({s} as string)")(
                        f"mx_{c}"
                    ),
                )
                for c, _, _ in _PROF_COLS
            )
            + ") as (col_name, min_repr, max_repr)"
        )
    )
    est = F.when(F.col("n") < KMV_K, F.col("n")).otherwise(
        F.expr(f"({KMV_K - 1} * {KMV_M}) div greatest(v, 1)")
    )
    return (
        prof.join(kth, "col_name")
        .join(F.broadcast(mm), "col_name")
        .withColumn("ndv_kmv_est", est.cast("bigint"))
        .select(
            "col_name",
            "n_rows",
            "n_nonnull",
            "ndv_exact",
            "ndv_kmv_est",
            F.expr(
                "cast((1000 * abs(ndv_kmv_est - ndv_exact))"
                " div greatest(ndv_exact, 1) as bigint)"
            ).alias("ndv_err_permille"),
            "min_repr",
            "max_repr",
        )
    )


# ---------------------------------------------------------------------------
# dq_sketch_join_cardinality — theta-style KMV intersection estimate.
#
# The join planner's question — "how many keys will this join match?" —
# answered from two mergeable k-min sketches WITHOUT joining the key sets:
# theta = min(kth_A, kth_B); every sketch hash below theta is a uniform
# sample of the union at rate theta/M; the intersection estimate is
# |S_A ∩ S_B ∩ [0, theta)| * M / theta (Dasgupta et al., theta sketches).
# md5 as the hash makes the estimate deterministic, so the oracle computes
# the IDENTICAL number, and the exact intersection (key-only join) rides
# along as the honesty column. At 100 TB the two sketches fold map-side
# (the salted k-min fold) and meet on the driver as 64-value arrays — the
# exact twin is the expensive path the sketch replaces.
# ---------------------------------------------------------------------------


def _kmv_set_sketch(df: DataFrame, key: str) -> DataFrame:
    """Global (ungrouped) salted k-min fold over DISTINCT md5(key):
    one row out: (n = exact distinct count, kmin = 64 smallest hashes)."""
    h = df.filter(F.col(key).isNotNull()).select(
        F.md5(F.col(key).cast("string")).alias("hx")
    )
    salted = h.withColumn(
        "salt", F.expr(f"instr('{HEX}', substr(hx, 1, 1)) % 16")
    )
    partial = (
        salted.groupBy("salt")
        .agg(F.array_sort(F.collect_set("hx")).alias("hs"))
        .select(
            F.slice("hs", 1, KMV_K).alias("kmin"),
            F.size("hs").cast("bigint").alias("n_bucket"),
        )
    )
    return partial.agg(
        F.sum("n_bucket").alias("n"),
        F.slice(
            F.array_sort(F.flatten(F.collect_list("kmin"))), 1, KMV_K
        ).alias("kmin"),
    )


@query(
    "dq_sketch_join_cardinality",
    oracle=f"""
WITH a AS (
    SELECT DISTINCT md5(CAST(o_custkey AS VARCHAR)) AS hx FROM orders
), b AS (
    SELECT DISTINCT md5(CAST(user_id AS VARCHAR)) AS hx
    FROM events WHERE user_id IS NOT NULL
), ra AS (
    SELECT hx, row_number() OVER (ORDER BY hx) AS rn, COUNT(*) OVER () AS n
    FROM a
), rb AS (
    SELECT hx, row_number() OVER (ORDER BY hx) AS rn, COUNT(*) OVER () AS n
    FROM b
), ka AS (SELECT hx FROM ra WHERE rn <= {KMV_K}),
   kb AS (SELECT hx FROM rb WHERE rn <= {KMV_K}),
   kth AS (
    SELECT (SELECT hx FROM ra WHERE rn = LEAST(n, {KMV_K})) AS tha,
           (SELECT hx FROM rb WHERE rn = LEAST(n, {KMV_K})) AS thb,
           (SELECT n FROM ra LIMIT 1) AS n_a,
           (SELECT n FROM rb LIMIT 1) AS n_b
), th AS (
    SELECT n_a, n_b, LEAST(tha, thb) AS theta_hx,
           {hexval_sql("LEAST(tha, thb)", "strpos")} AS theta_v
    FROM kth
), below AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_below
    FROM ka JOIN kb USING (hx), th
    WHERE ka.hx < th.theta_hx
), exact AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS inter_exact
    FROM (SELECT DISTINCT o_custkey AS k FROM orders) x
    JOIN (SELECT DISTINCT user_id AS k FROM events
          WHERE user_id IS NOT NULL) y USING (k)
)
SELECT CAST(th.n_a AS BIGINT) AS n_a_exact,
       CAST(th.n_b AS BIGINT) AS n_b_exact,
       e.inter_exact,
       CAST((below.n_below * {KMV_M}) // greatest(th.theta_v, 1) AS BIGINT)
           AS inter_est,
       CAST((1000 * abs((below.n_below * {KMV_M})
                        // greatest(th.theta_v, 1) - e.inter_exact))
            // greatest(e.inter_exact, 1) AS BIGINT) AS err_permille
FROM th, below, exact e
""",
    tags=("dq", "sketch"),
)
def dq_sketch_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from two KMV sketches (theta
    intersection) with the exact key-only join as the honesty column:
    |orders.o_custkey ∩ events.user_id| estimated without ever joining
    the key sets. Sketches fold map-side; the combine is two 64-element
    arrays meeting on one row."""
    o = T.load(spark, sf_dir, "orders", spread=False)
    e = T.load(spark, sf_dir, "events", spread=False)
    ska = _kmv_set_sketch(o, "o_custkey").select(
        F.col("n").alias("n_a"), F.col("kmin").alias("ka")
    )
    skb = _kmv_set_sketch(e, "user_id").select(
        F.col("n").alias("n_b"), F.col("kmin").alias("kb")
    )
    # one-row frames: broadcast cross join is constant-size by construction
    sk = ska.crossJoin(F.broadcast(skb)).select(
        "n_a",
        "n_b",
        F.expr(
            f"least(element_at(ka, cast(least(n_a, {KMV_K}) as int)),"
            f" element_at(kb, cast(least(n_b, {KMV_K}) as int)))"
        ).alias("theta_hx"),
        "ka",
        "kb",
    )
    sk = sk.select(
        "n_a",
        "n_b",
        F.expr(
            "cast(size(filter(array_intersect(ka, kb), x -> x < theta_hx))"
            " as bigint)"
        ).alias("n_below"),
        F.expr(hexval_sql("theta_hx", "instr")).alias("theta_v"),
    )
    exact = (
        o.select(F.col("o_custkey").alias("k"))
        .distinct()
        .join(
            e.filter(F.col("user_id").isNotNull())
            .select(F.col("user_id").alias("k"))
            .distinct(),
            "k",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter_exact"))
    )
    return sk.crossJoin(F.broadcast(exact)).select(
        F.col("n_a").cast("bigint").alias("n_a_exact"),
        F.col("n_b").cast("bigint").alias("n_b_exact"),
        "inter_exact",
        F.expr(
            f"cast((n_below * {KMV_M}) div greatest(theta_v, 1) as bigint)"
        ).alias("inter_est"),
        F.expr(
            f"cast((1000 * abs((n_below * {KMV_M})"
            f" div greatest(theta_v, 1) - inter_exact))"
            " div greatest(inter_exact, 1) as bigint)"
        ).alias("err_permille"),
    )


# ---------------------------------------------------------------------------
# llm_bpe_train_merges — the REAL BPE training loop (N merge rounds).
#
# Extends llm_bpe_pair_counts (one pair-count step) into the iterative
# trainer (Sennrich et al. 2016): per round, (1) count adjacent SYMBOL
# pairs over the frequency-weighted vocabulary, (2) pick the most frequent
# pair (count DESC, then symbols lexicographically — deterministic), and
# (3) merge every greedy left-to-right occurrence in every word. The merge
# is an EXACT greedy fold, identical on both engines: words are
# '|'-delimited symbol strings folded element-by-element — the accumulator
# ends with '|'+left and the next element equals '|'+right iff the LAST
# SYMBOL is exactly `left` (the delimiter cannot appear inside a symbol),
# in which case `right` is appended WITHOUT a delimiter (the in-place
# merge); a just-merged token never re-merges in the same round because
# left+right != left (right is non-empty). Spark folds with
# aggregate(zero='') and DuckDB with list_reduce(init=first element) —
# equivalent because the zero-acc first step is always the plain append.
#
# Scale: the corpus folds once to the word-frequency table; every round is
# vocabulary-sized (pair agg with map-side combine -> LIMIT-1 top over the
# charset²-bounded pair table -> broadcast 1-row join + narrow map). Each
# round's vocab and top row are localCheckpoint'ed: the DAG would
# otherwise recompute vocab_r for vocab_{r+1} AND for its pair agg —
# exponential in rounds. No driver-side collect anywhere: the chosen pair
# flows into the next round as a broadcast row, not a literal.
# ---------------------------------------------------------------------------
BPE_TRAIN_ROUNDS = 4
_BPE_STEP = (
    "case when right(acc, length(lft) + 1) = concat('|', lft)"
    " and x = concat('|', rgt) then concat(acc, rgt)"
    " else concat(acc, x) end"
)


def _bpe_cte_prefix() -> str:
    """The shared DuckDB training CTEs: wf -> v0 -> (pc/top/v)*rounds.
    Word identity rides through every round so the final vocab CTE doubles
    as the encode lookup table."""
    parts = [
        """
WITH wf AS (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE length(word) >= 1 AND word NOT LIKE '%|%'
    GROUP BY 1
), v0 AS (
    SELECT word, freq, string_split(word, '') AS syms FROM wf
)"""
    ]
    for r in range(BPE_TRAIN_ROUNDS):
        parts.append(
            f""", pc{r} AS (
    SELECT syms[i] AS lft, syms[i + 1] AS rgt,
           CAST(SUM(freq) AS BIGINT) AS cnt
    FROM v{r}, unnest(range(1, len(syms))) t(i)
    WHERE len(syms) >= 2
    GROUP BY 1, 2
), top{r} AS (
    SELECT lft, rgt, cnt FROM pc{r} ORDER BY cnt DESC, lft, rgt LIMIT 1
), v{r + 1} AS (
    SELECT v.word, v.freq,
           string_split(substr(list_reduce(
               list_transform(v.syms, s -> '|' || s),
               (acc, x) -> CASE WHEN right(acc, length(t.lft) + 1)
                                     = '|' || t.lft
                                AND x = '|' || t.rgt
                                THEN acc || t.rgt ELSE acc || x END
           ), 2), '|') AS syms
    FROM v{r} v CROSS JOIN top{r} t
)"""
        )
    return "".join(parts)


def _bpe_oracle() -> str:
    finals = " UNION ALL ".join(
        f"SELECT CAST({r + 1} AS BIGINT) AS merge_rank, lft AS left_sym,"
        f" rgt AS right_sym, lft || rgt AS merged, cnt AS pair_count"
        f" FROM top{r}"
        for r in range(BPE_TRAIN_ROUNDS)
    )
    return _bpe_cte_prefix() + "\n" + finals


def _bpe_train(
    spark: SparkSession, sf_dir: str, need_vocab: bool = True
) -> tuple[list[DataFrame], DataFrame | None]:
    """Run the BPE_TRAIN_ROUNDS training rounds; returns (tops, vocab):
    ``tops`` = one checkpointed 1-row frame per round (lft, rgt, cnt), and
    ``vocab`` = the final (word, freq, syms) frame with all merges applied
    — the artifact the encode query consumes (None when ``need_vocab``
    is False: the merge-table query never reads it, so the final —
    heaviest — vocabulary fold is neither planned nor run). Word identity
    is carried through every round so the trained vocabulary doubles as
    the encode lookup table.

    r13 job shape (guide §2 chained shuffles / §5 lineage): the 1-row
    ``top`` checkpoints stay EAGER (one pair-count job per round — the
    round barrier is inherent to greedy BPE), but the vocabulary folds are
    LAZY checkpoints: each materializes inside the NEXT round's pair-count
    job (or the encode consumer) instead of paying its own job + an extra
    pass over the blocks, halving the job count. The fold itself only
    runs the interpreted greedy aggregate on words that can contain the
    winning pair: syms partitions word into contiguous substrings, so
    adjacent (lft, rgt) implies instr(word, lft||rgt) > 0 — for every
    other word the fold is the identity and the CASE skips it."""
    d = T.load(spark, sf_dir, "documents")
    w = d.select(F.explode(F.split("text", " ")).alias("word")).filter(
        (F.length("word") >= 1) & (~F.col("word").like("%|%"))
    )
    wf = w.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )
    cur = wf.select(
        "word", "freq", F.split("word", "").alias("syms")
    ).localCheckpoint(eager=False)
    tops: list[DataFrame] = []
    for _r in range(BPE_TRAIN_ROUNDS):
        pairs = (
            cur.filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> struct(element_at(syms, i) as lft,"
                        " element_at(syms, i + 1) as rgt))"
                    )
                ).alias("p"),
            )
            .select("freq", "p.lft", "p.rgt")
        )
        pc = pairs.groupBy("lft", "rgt").agg(
            F.sum("freq").cast("bigint").alias("cnt")
        )
        top = (
            pc.orderBy(F.col("cnt").desc(), "lft", "rgt")
            .limit(1)
            .localCheckpoint()
        )
        tops.append(top)
        if _r == BPE_TRAIN_ROUNDS - 1 and not need_vocab:
            return tops, None
        cur = (
            cur.crossJoin(F.broadcast(top))
            .select(
                "word",
                "freq",
                F.expr(
                    "CASE WHEN instr(word, concat(lft, rgt)) = 0 THEN syms"
                    " ELSE split(substr(aggregate("
                    " transform(syms, s -> concat('|', s)), '',"
                    f" (acc, x) -> {_BPE_STEP}), 2), '\\\\|') END"
                ).alias("syms"),
            )
            .localCheckpoint(eager=False)
        )
    return tops, cur


@query(
    "llm_bpe_train_merges",
    oracle=_bpe_oracle(),
    tags=("llm-text", "tokenizer"),
)
def llm_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, 4 merge rounds end-to-end: per round the
    winning adjacent symbol pair (frequency-weighted, deterministic
    tie-break) merges greedily left-to-right across the whole vocabulary,
    and the next round trains on the merged symbols. Output = the ordered
    merge table (rank, pair, merged token, count) — the artifact a BPE
    tokenizer ships. Exact greedy-fold semantics proven equal across
    engines by construction (see block comment) and pinned by the
    from-scratch python model test."""
    tops, _ = _bpe_train(spark, sf_dir, need_vocab=False)
    out = None
    for r, top in enumerate(tops):
        row = top.select(
            F.lit(r + 1).cast("bigint").alias("merge_rank"),
            F.col("lft").alias("left_sym"),
            F.col("rgt").alias("right_sym"),
            F.concat("lft", "rgt").alias("merged"),
            F.col("cnt").alias("pair_count"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# llm_bpe_encode_corpus — apply the trained merges to every document.
#
# The other half of the tokenizer pair: train once (vocabulary-sized), then
# ENCODE the corpus through the merge table. The trained vocabulary IS the
# encode lookup (word -> merged symbol count), broadcast against the
# corpus word stream — the encode pass is scan -> explode -> broadcast
# join -> per-doc agg: no corpus shuffle except the final doc_id fold of
# the already-compressed (doc, word-count) rows. Per-doc char-token vs
# BPE-token counts + the per-mille saving are the tokenizer-efficiency
# metric a training pipeline tracks per corpus slice.
# ---------------------------------------------------------------------------


def _bpe_encode_oracle() -> str:
    final = f"""
, enc AS (
    SELECT word, CAST(len(syms) AS BIGINT) AS n_bpe
    FROM v{BPE_TRAIN_ROUNDS}
), t AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), tw AS (
    SELECT doc_id, word FROM t
    WHERE length(word) >= 1 AND word NOT LIKE '%|%'
)
SELECT tw.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(length(tw.word)) AS BIGINT) AS n_char_tokens,
       CAST(SUM(e.n_bpe) AS BIGINT) AS n_bpe_tokens,
       CAST((1000 * (SUM(length(tw.word)) - SUM(e.n_bpe)))
            // SUM(length(tw.word)) AS BIGINT) AS saved_permille
FROM tw JOIN enc e USING (word)
GROUP BY 1
"""
    return _bpe_cte_prefix() + final


@query(
    "llm_bpe_encode_corpus",
    oracle=_bpe_encode_oracle(),
    tags=("llm-text", "tokenizer"),
)
def llm_bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document with the 4-round trained BPE merges: per doc,
    word count, char-level token count, BPE token count and the per-mille
    compression the merges bought. Train is vocabulary-sized; encode is a
    broadcast lookup of the trained vocab against the corpus word stream —
    the map-side-combinable (doc_id) fold is the only corpus shuffle."""
    _, vocab = _bpe_train(spark, sf_dir)
    enc = vocab.select(
        "word", F.size("syms").cast("bigint").alias("n_bpe")
    )
    d = T.load(spark, sf_dir, "documents")
    tw = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter((F.length("word") >= 1) & (~F.col("word").like("%|%")))
    return (
        tw.join(F.broadcast(enc), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum(F.length("word")).cast("bigint").alias("n_char_tokens"),
            F.sum("n_bpe").cast("bigint").alias("n_bpe_tokens"),
            F.expr(
                "cast((1000 * (sum(length(word)) - sum(n_bpe)))"
                " div sum(length(word)) as bigint)"
            ).alias("saved_permille"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming-incremental ANALYZE: the stats profile as mergeable partials.
#
# The checksum/countmin/anomaly partials pattern applied to the column
# profile: per micro-batch, fold the batch to (col_name, salt) rows
# carrying row/non-null counts and the bucket's DISTINCT hash set; counts
# sum and distinct-hash sets union across batches (the salt partitions the
# hash space, so bucket sets never overlap ACROSS salts and merging stays
# per-bucket). Finalizing accumulated partials reproduces the one-shot
# profile's n_rows / n_nonnull / ndv_exact / ndv_kmv_est EXACTLY — the
# accumulate-then-finalize contract `test_incremental_stats_profile_
# partials_merge` pins. State is bounded by per-column NDV (the distinct
# hash sets), not corpus size — the same bound the exact-dedup keeper
# state carries. Typed min/max are omitted from the twin (they merge
# trivially as min-of-mins but need per-type comparators in state;
# documented scope cut).
# ---------------------------------------------------------------------------


def _profile_stacked(o: DataFrame) -> DataFrame:
    """The (col_name, canonical repr) long frame the profile aggregates."""
    return o.select(
        F.expr(
            "stack("
            + str(len(_PROF_COLS))
            + ", "
            + ", ".join(f"'{c}', {sp}" for c, sp, _ in _PROF_COLS)
            + ") as (col_name, repr)"
        )
    )


def stats_profile_partials(batch: DataFrame) -> DataFrame:
    """Fold one orders-shaped micro-batch to mergeable profile partials:
    (col_name, salt, n_rows, n_nonnull, hashes). NULL reprs land in
    salt=-1 with an empty hash set so row counts still sum per column."""
    stacked = _profile_stacked(batch)
    h = stacked.select(
        "col_name",
        "repr",
        F.when(
            F.col("repr").isNotNull(),
            F.expr(
                f"instr('{HEX}', substr(md5(repr), 1, 1)) % 16"
            ),
        )
        .otherwise(F.lit(-1))
        .alias("salt"),
    )
    return h.groupBy("col_name", "salt").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count("repr").cast("bigint").alias("n_nonnull"),
        F.array_sort(
            F.array_distinct(
                F.collect_list(F.when(F.col("repr").isNotNull(), F.md5("repr")))
            )
        ).alias("hashes"),
    )


def stats_profile_finalize(partials: DataFrame) -> DataFrame:
    """Fold accumulated partials (several rows per (col, salt) — one per
    micro-batch) to the one-shot profile columns. Bucket sets union
    losslessly because the salt partitions the hash space."""
    bucket = partials.groupBy("col_name", "salt").agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_nonnull").alias("n_nonnull"),
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("hashes")))
        ).alias("hs"),
    )
    merged = bucket.groupBy("col_name").agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum("n_nonnull").cast("bigint").alias("n_nonnull"),
        F.sum(F.size("hs")).cast("bigint").alias("n"),
        F.slice(
            F.array_sort(F.flatten(F.collect_list(F.slice("hs", 1, KMV_K)))),
            1,
            KMV_K,
        ).alias("kmin_all"),
    )
    kth = merged.withColumn(
        "v",
        F.expr(
            hexval_sql(
                f"element_at(kmin_all, cast(least(n, {KMV_K}) as int))",
                "instr",
            )
        ),
    )
    est = F.when(F.col("n") < KMV_K, F.col("n")).otherwise(
        F.expr(f"({KMV_K - 1} * {KMV_M}) div greatest(v, 1)")
    )
    return kth.select(
        "col_name",
        "n_rows",
        "n_nonnull",
        F.col("n").alias("ndv_exact"),
        est.cast("bigint").alias("ndv_kmv_est"),
    )


# ---------------------------------------------------------------------------
# dws_event_type_pagerank — integer-exact PageRank on the transition graph.
#
# The second graph operator (next to operators/graph.py connected
# components): PageRank over the event-type transition graph that
# dws_user_path_transitions derives. All arithmetic is scaled-integer
# (ppb = parts-per-billion) with a FIXED evaluation order — per-edge
# contribution rank(u) * cnt(u,v) div out(u), damping 85/100, dangling
# mass redistributed as dang div N — so three power iterations produce
# bit-identical ranks on both engines (float PageRank never hash-matches).
#
# Scale: the ONLY corpus-sized work is the lag Window on user_id (max-
# cardinality key) + one map-combined (src, dst) agg — identical posture
# to dws_user_path_transitions. The graph after aggregation is
# |event_types|^2 rows; every iteration is joins over that tiny frame
# (checkpointed so round r+1 does not recompute round r; same discipline
# as the BPE trainer rounds).
# ---------------------------------------------------------------------------
PR_ITERS = 3
PR_DAMP_NUM = 85  # damping factor 0.85 as an exact ratio


def _pagerank_oracle() -> str:
    head = f"""
WITH s AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev
    FROM events
), e AS (
    SELECT prev AS src, event_type AS dst, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM s WHERE prev IS NOT NULL GROUP BY 1, 2
), nodes AS (
    SELECT DISTINCT src AS node FROM e
    UNION SELECT DISTINCT dst FROM e
), nn AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes
), outs AS (
    SELECT src, CAST(SUM(cnt) AS BIGINT) AS out_cnt FROM e GROUP BY 1
), r0 AS (
    SELECT node, {PPB} // nn.n AS rank_ppb FROM nodes, nn
)"""
    rounds = []
    for i in range(PR_ITERS):
        rounds.append(
            f""", c{i} AS (
    SELECT e.dst AS node,
           CAST(SUM((r.rank_ppb * e.cnt) // o.out_cnt) AS BIGINT) AS contrib
    FROM e JOIN r{i} r ON e.src = r.node JOIN outs o ON e.src = o.src
    GROUP BY 1
), d{i} AS (
    SELECT CAST(COALESCE(SUM(r.rank_ppb), 0) AS BIGINT) AS dang
    FROM r{i} r LEFT JOIN outs o ON r.node = o.src
    WHERE o.src IS NULL
), r{i + 1} AS (
    SELECT n.node,
           (({100 - PR_DAMP_NUM} * ({PPB} // nn.n)) // 100)
           + ({PR_DAMP_NUM} * (COALESCE(c.contrib, 0) + d.dang // nn.n))
             // 100 AS rank_ppb
    FROM nodes n CROSS JOIN nn CROSS JOIN d{i} d
    LEFT JOIN c{i} c ON n.node = c.node
)"""
        )
    tail = f"""
SELECT r.node AS event_type,
       CAST(r.rank_ppb AS BIGINT) AS rank_ppb,
       CAST(COALESCE(o.out_cnt, 0) AS BIGINT) AS out_transitions,
       CAST(COALESCE(i.in_cnt, 0) AS BIGINT) AS in_transitions
FROM r{PR_ITERS} r
LEFT JOIN outs o ON r.node = o.src
LEFT JOIN (SELECT dst, CAST(SUM(cnt) AS BIGINT) AS in_cnt
           FROM e GROUP BY 1) i ON r.node = i.dst
"""
    return head + "".join(rounds) + tail


@query(
    "dws_event_type_pagerank",
    oracle=_pagerank_oracle(),
    tags=("graph", "analytics"),
)
def dws_event_type_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 power iterations, damping 0.85) over the event-type
    transition graph, in exact ppb integers with a pinned evaluation
    order — the graph-centrality sibling of connected components. The
    corpus collapses to a |V|^2 edge frame in one Window+agg pass;
    iterations run on that tiny checkpointed frame."""
    e_raw = T.load(spark, sf_dir, "events", spread=False)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e_raw.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    )
    e = (
        s.filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    return pagerank_from_edges(e)


def pagerank_from_edges(edges: DataFrame) -> DataFrame:
    """The iteration half of ``dws_event_type_pagerank``, shared with the
    streaming twin: given a weighted edge frame ``(src, dst, cnt)``
    (mergeable by summing ``cnt`` — micro-batch transition partials fold
    losslessly before this runs), produce the exact ppb-integer ranks.
    The edge frame is checkpointed so round r+1 never recomputes round r
    (the BPE-trainer discipline)."""
    e = edges.localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select("dst"))
        .distinct()
        .localCheckpoint()
    )
    nn = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    outs = e.groupBy("src").agg(
        F.sum("cnt").cast("bigint").alias("out_cnt")
    ).localCheckpoint()
    ranks = (
        nodes.crossJoin(F.broadcast(nn))
        .select("node", F.expr(f"{PPB} div n").alias("rank_ppb"))
        .localCheckpoint()
    )
    for _i in range(PR_ITERS):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outs, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.sum(
                    F.expr("(rank_ppb * cnt) div out_cnt")
                ).cast("bigint").alias("contrib")
            )
        )
        dang = (
            ranks.join(outs, ranks.node == outs.src, "left_anti")
            .agg(
                F.coalesce(F.sum("rank_ppb"), F.lit(0))
                .cast("bigint")
                .alias("dang")
            )
        )
        ranks = (
            nodes.crossJoin(F.broadcast(nn))
            .crossJoin(F.broadcast(dang))
            .join(F.broadcast(contrib), "node", "left")
            .select(
                "node",
                F.expr(
                    f"(({100 - PR_DAMP_NUM} * ({PPB} div n)) div 100)"
                    f" + ({PR_DAMP_NUM} * (coalesce(contrib, 0)"
                    f" + dang div n)) div 100"
                ).alias("rank_ppb"),
            )
            .localCheckpoint()
        )
    ins = e.groupBy("dst").agg(F.sum("cnt").cast("bigint").alias("in_cnt"))
    return (
        ranks.join(F.broadcast(outs), ranks.node == outs.src, "left")
        .join(F.broadcast(ins), ranks.node == ins.dst, "left")
        .select(
            F.col("node").alias("event_type"),
            F.col("rank_ppb").cast("bigint").alias("rank_ppb"),
            F.coalesce("out_cnt", F.lit(0))
            .cast("bigint")
            .alias("out_transitions"),
            F.coalesce("in_cnt", F.lit(0))
            .cast("bigint")
            .alias("in_transitions"),
        )
    )


# ---------------------------------------------------------------------------
# llm_sketch_hll_distinct — deterministic HyperLogLog, the canonical
# mergeable distinct sketch (Flajolet et al. 2007), built from the same
# md5 random oracle as the KMV sketch so BOTH engines compute identical
# registers and an identical estimate (library HLLs — Spark's
# approx_count_distinct, DuckDB's approx_distinct — have incompatible
# register layouts and can never hash-match; this one can, which is the
# whole point of implementing it from scratch).
#
# Layout: p = 6 -> m = 64 registers. bucket = first 8 hash bits mod 64;
# rho = leading-zero count of the NEXT 44 bits + 1, via the engine-
# portable floor-log2 trick (45 - length(bin(v)); bin() is minimal-width
# on both engines, checked). Registers fold by plain MAX — duplicate
# hashes cannot move a max, so NO distinct pass is needed anywhere
# (KMV's structural cost), the partial agg map-combines, and partials
# from any corpus split merge losslessly (the streaming twin).
#
# Estimate: alpha_64 * m^2 / sum_j 2^(-R_j) evaluated in EXACT integer
# arithmetic with a pinned order — denom = sum 2^(45-R_j) (absent
# registers contribute 2^45), numerator m^2*2^45 = 2^57 (fits BIGINT),
# alpha_64 pinned at 709/1000. The small-range (linear-counting) branch
# needs ln() and is deliberately omitted — transcendental libm calls are
# not bit-stable across engines; err_permille reports the resulting
# small-group bias honestly next to the exact count.
# ---------------------------------------------------------------------------
HLL_M = 64  # registers (p = 6)
_HLL_W = 44  # bits consumed by rho after the bucket byte
_HLL_ALPHA_NUM, _HLL_ALPHA_DEN = 709, 1000  # alpha_64 = 0.709 pinned


def hll_register_partials(keyed: DataFrame) -> DataFrame:
    """Per-(grp, bucket) max-rho registers for any slice of a (grp, key)
    frame — mergeable by MAX, so micro-batch partials union + re-max to
    exactly the one-shot registers (the streaming twin's state). No
    distinct pass anywhere: duplicate keys hash identically and cannot
    move a MAX."""
    h = keyed.filter(F.col("key").isNotNull()).select(
        "grp", F.md5(F.col("key")).alias("hx")
    )
    br = h.select(
        "grp",
        F.expr(f"{hexval_sql('hx', 'instr', 1, 2)} % {HLL_M}").alias("bucket"),
        F.expr(hexval_sql("hx", "instr", 3, 11)).alias("v"),
    )
    return br.groupBy("grp", "bucket").agg(
        F.expr(
            f"MAX(CASE WHEN v = 0 THEN {_HLL_W + 1} "
            f"ELSE {_HLL_W + 1} - length(bin(v)) END)"
        ).cast("int").alias("r")
    )


def hll_estimate_col() -> str:
    """The pinned-order integer estimate expression over a ``denom``
    column — one template string shared by Spark and the DuckDB oracle
    (both spell integer division the same way via the {d} placeholder)."""
    return (
        f"((({HLL_M * HLL_M} * CAST({2 ** _HLL_W} AS BIGINT) * 2) {{d}} denom)"
        f" * {_HLL_ALPHA_NUM}) {{d}} {_HLL_ALPHA_DEN}"
    )


def hll_finalize(partials: DataFrame, exact: DataFrame) -> DataFrame:
    """Merge register partials (MAX per (grp, bucket)), fold to the
    denominator, and emit estimate + measured error next to the exact
    distinct count (a (grp, ex) frame)."""
    reg = partials.groupBy("grp", "bucket").agg(F.max("r").alias("r"))
    den = reg.groupBy("grp").agg(
        F.expr(
            f"CAST(SUM(shiftleft(CAST(1 AS BIGINT), {_HLL_W + 1} - r)) AS BIGINT)"
            f" + ({HLL_M} - COUNT(*))"
            f" * shiftleft(CAST(1 AS BIGINT), {_HLL_W + 1})"
        ).alias("denom"),
        F.count(F.lit(1)).cast("bigint").alias("buckets_active"),
    )
    est = den.select(
        "grp",
        "buckets_active",
        F.expr(hll_estimate_col().format(d="div")).cast("bigint").alias("est"),
    )
    return est.join(exact, "grp").select(
        F.col("grp").alias("source"),
        F.col("ex").cast("bigint").alias("exact_distinct"),
        F.col("est").alias("hll_estimate"),
        F.expr("(1000 * abs(est - ex)) div ex").cast("bigint").alias(
            "err_permille"
        ),
        "buckets_active",
    )


def _hll_oracle() -> str:
    est = hll_estimate_col().format(d="//")
    return f"""
WITH {_SHINGLE_SQL_SRC}, h AS (
    SELECT source AS grp, md5(shingle) AS hx FROM shs
), br AS (
    SELECT grp,
           {hexval_sql("hx", "strpos", 1, 2)} % {HLL_M} AS bucket,
           {hexval_sql("hx", "strpos", 3, 11)} AS v
    FROM h
), reg AS (
    SELECT grp, bucket,
           MAX(CASE WHEN v = 0 THEN {_HLL_W + 1}
               ELSE {_HLL_W + 1} - length(bin(v)) END) AS r
    FROM br GROUP BY 1, 2
), den AS (
    SELECT grp,
           CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_W + 1} - r)) AS BIGINT)
           + ({HLL_M} - COUNT(*)) * (CAST(1 AS BIGINT) << {_HLL_W + 1})
               AS denom,
           CAST(COUNT(*) AS BIGINT) AS buckets_active
    FROM reg GROUP BY 1
), est AS (
    SELECT grp, buckets_active, CAST({est} AS BIGINT) AS est
    FROM den
), exact AS (
    SELECT source AS grp, COUNT(DISTINCT shingle) AS ex FROM shs GROUP BY 1
)
SELECT e.grp AS source,
       CAST(x.ex AS BIGINT) AS exact_distinct,
       e.est AS hll_estimate,
       CAST((1000 * abs(e.est - x.ex)) // x.ex AS BIGINT) AS err_permille,
       e.buckets_active
FROM est e JOIN exact x ON e.grp = x.grp
"""


# the minhash family's shingle construction (SHINGLE_SQL) with the
# source column carried through — HLL needs no per-doc DISTINCT (MAX
# absorbs duplicates), so the sh CTE's dedup is skipped
_SHINGLE_SQL_SRC = """toks AS (
    SELECT source, string_split(text, ' ') AS t FROM documents
), idx AS (
    SELECT source, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i
    FROM toks
), shs AS (
    SELECT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
    FROM idx
)"""


def _source_shingles(d: DataFrame) -> DataFrame:
    """(grp=source, key=shingle) rows — operators.text's trigram kernel
    without the per-doc distinct, which HLL does not need. Map-only:
    split -> transform -> explode, no join, no shuffle."""
    toks = d.select("source", F.split("text", " ").alias("t"))
    return toks.select(
        F.col("source").alias("grp"),
        F.explode(trigrams(F.col("t"))).alias("key"),
    ).filter(is_trigram("key"))


@query(
    "llm_sketch_hll_distinct",
    oracle=_hll_oracle(),
    tags=("llm-text", "sketch"),
)
def llm_sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog count of distinct 3-gram shingles per
    source — the size of each source's dedup candidate space (what
    MinHash banding parameters are tuned against), measured WITHOUT the
    distinct shuffle the exact count needs.

    The register-max sibling of llm_sketch_kmv_distinct (same md5 random
    oracle, different sketch algebra): HLL needs no distinct pass at all
    because MAX absorbs duplicate shingles map-side. Scale shape: one
    scan -> map-only shingle explode -> map-combined (source, bucket) MAX
    -> 64-row fold per source; the only corpus-wide shuffle carries <= m
    rows per source of two ints. The exact COUNT(DISTINCT) rides along as
    the expensive honesty twin (a full (source, shingle) distinct
    shuffle), with per-source NDV ~1.1-1.5k >> 2.5*m = 160, so every
    group sits in HLL's estimating regime (the omitted linear-counting
    branch is never the operative path here)."""
    d = T.load(spark, sf_dir, "documents")
    # two scans on purpose, NOT a checkpoint: the fan-out consumers each
    # re-run the split+explode (cheap codegen) rather than materialize the
    # exploded shingle-string frame, which is ~100x the source bytes — the
    # opposite call from the codec/signature checkpoints, for the same
    # reason (recompute cost vs materialized size)
    partials = hll_register_partials(_source_shingles(d))
    exact = (
        _source_shingles(d)
        .groupBy("grp")
        .agg(F.countDistinct("key").alias("ex"))
    )
    return hll_finalize(partials, exact)


# ---------------------------------------------------------------------------
# llm_bm25_topk — BM25 retrieval over the corpus for a fixed query set:
# the ranking function behind RAG retrieval, eval-set decontamination by
# retrieval, and quality-by-query corpus probes. Okapi BM25 with k1 = 6/5
# and b = 3/4 kept as EXACT rationals: with avgdl floored to an integer
# (documented, identical on both engines), the per-term saturation factor
#   tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
# multiplies out to the all-BIGINT form
#   22*tf*avgdl / (20*tf*avgdl + 6*avgdl + 18*dl)
# and the ln-free idf surrogate (1000*(N - df + 1)) // (df + 1) replaces
# the transcendental Robertson idf (ln is not bit-stable across engines;
# the surrogate is monotone in df, which is all ranking needs).
# Overflow audit (BIGINT): idf_pm <= 1000*N; frac_ppb <= 2.2e9;
# idf_pm * frac_ppb <= 9e18 only past N ~ 4e6 docs — production at 100 TB
# would flip the final multiply to DOUBLE and keep the rank (documented).
# ---------------------------------------------------------------------------
BM25_TOP_K = 5
# audited BIGINT-overflow bound for the exact-integer score algebra (see
# block comment): past this corpus size idf_pm * frac_ppb can exceed
# 2^63-1, so the plan FAILS LOUDLY (raise_error) instead of silently
# wrapping — enforced in bm25_score_topk (r6 ADVICE item 3)
BM25_MAX_DOCS = 4_000_000
BM25_QUERIES: dict[str, tuple[str, ...]] = {
    "q_join_order": ("hash", "join", "order"),
    "q_scan_window": ("window", "scan"),
    "q_stream": ("stream", "batch", "merge", "sort"),
}


def _bm25_oracle() -> str:
    vals = ", ".join(
        f"('{q}', '{t}')" for q, ts in BM25_QUERIES.items() for t in ts
    )
    return f"""
WITH q(query_id, term) AS (VALUES {vals}),
tok AS (
    SELECT doc_id, len(string_split(text, ' ')) AS dl,
           unnest(string_split(text, ' ')) AS term
    FROM documents
), g AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS a
    FROM documents
), tf AS (
    SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM tok WHERE term IN (SELECT term FROM q)
    GROUP BY 1, 2, 3
), df AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
), sc AS (
    SELECT q.query_id, tf.doc_id,
           CAST(SUM(
               ((1000 * (g.n - df.df + 1)) // (df.df + 1))
             * ((22 * tf.tf * (g.a // g.n) * 1000000000)
                // (20 * tf.tf * (g.a // g.n) + 6 * (g.a // g.n)
                    + 18 * tf.dl))
             // 1000
           ) AS BIGINT) AS score_ppb,
           CAST(COUNT(*) AS BIGINT) AS n_terms_hit
    FROM tf JOIN q USING (term) JOIN df USING (term), g
    GROUP BY 1, 2
), r AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score_ppb DESC, doc_id) AS rnk
    FROM sc
)
SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id, score_ppb, n_terms_hit
FROM r WHERE rnk <= {BM25_TOP_K}
"""


@query("llm_bm25_topk", oracle=_bm25_oracle(), tags=("llm-text", "retrieval"))
def llm_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 documents per query by exact-integer Okapi BM25 (k1=6/5,
    b=3/4 as rationals, floored integer avgdl, ln-free monotone idf
    surrogate — see the block comment for the algebra and the overflow
    audit).

    Scale shape: the token stream is cut to the query vocabulary by a
    literal In-filter BEFORE any shuffle (map-side; the exploded stream
    never leaves the stage), so the only corpus-wide exchange carries
    (doc, query-term) rows — a few rows per matching doc. df is a
    query-vocabulary-sized agg; N and avgdl are one global agg broadcast
    back; the final per-query top-K window partitions on query_id after a
    (query, doc)-keyed sum, never on an unkeyed global sort. One pruned
    scan of documents survives to the final plan (corpus constants); the
    token scan runs once inside the checkpointed tf job."""
    d = T.load(spark, sf_dir, "documents")
    q = bm25_query_frame(spark)
    # tf feeds TWO consumers (the df agg + the score join) and is tiny
    # next to the corpus (doc_id/dl/term/tf for query-vocab terms only)
    # — checkpoint so the corpus token scan runs once, not twice
    tf = bm25_tf_rows(d).localCheckpoint()
    g = d.select(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("a"),
    )
    return bm25_score_topk(tf, g, q)


def bm25_tf_rows(d: DataFrame) -> DataFrame:
    """(doc_id, dl, term, tf) for query-vocabulary terms only — the
    BM25 inverted-index rows. The literal In-filter cuts the exploded
    token stream map-side, before the tf shuffle. Append-only under
    corpus growth (docs are immutable), so per-batch slices of this
    frame ARE the streaming index partials."""
    all_terms = sorted({t for ts in BM25_QUERIES.values() for t in ts})
    tok = d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("dl"),
        F.explode(F.split("text", " ")).alias("term"),
    ).filter(F.col("term").isin(*all_terms))
    return tok.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )


def bm25_score_topk(tf: DataFrame, g: DataFrame, q: DataFrame) -> DataFrame:
    """Score + top-K from the index rows and the 1-row (n, a) corpus
    stats — shared by the batch query and the streaming-index twin (df
    is derived from tf here, so merged partials need no separate df
    state)."""
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    # overflow-bound enforcement: the exact-BIGINT algebra is audited only
    # to BM25_MAX_DOCS documents — refuse (raise_error in the 1-row stats
    # frame, so the check is free) rather than silently wrap past it; a
    # 100 TB deployment flips the final multiply to DOUBLE and keeps the
    # rank order (idf and saturation are each individually safe)
    g = g.select(
        F.expr(
            f"CASE WHEN n <= {BM25_MAX_DOCS} THEN n ELSE raise_error("
            "concat('llm_bm25_topk: corpus of ', CAST(n AS STRING), "
            f"' docs exceeds the {BM25_MAX_DOCS}-doc audited bound of the "
            "exact-BIGINT score algebra (idf_pm * frac_ppb would overflow "
            "BIGINT); switch the final multiply to DOUBLE for larger "
            "corpora')) END"
        ).alias("n"),
        "a",
    )
    sc = (
        tf.join(F.broadcast(q), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(g))
        .groupBy("query_id", "doc_id")
        .agg(
            F.expr(
                "CAST(SUM("
                " ((1000 * (n - df + 1)) div (df + 1))"
                " * ((22 * tf * (a div n) * 1000000000)"
                "    div (20 * tf * (a div n) + 6 * (a div n) + 18 * dl))"
                " div 1000"
                ") AS BIGINT)"
            ).alias("score_ppb"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
        )
    )
    rnk = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.col("score_ppb").desc(), "doc_id"
        )
    )
    return (
        sc.withColumn("rnk", rnk.cast("bigint"))
        .filter(F.col("rnk") <= BM25_TOP_K)
        .select("query_id", "rnk", "doc_id", "score_ppb", "n_terms_hit")
    )


def bm25_query_frame(spark: SparkSession) -> DataFrame:
    """The literal (query_id, term) query set as a broadcastable frame."""
    return spark.createDataFrame(
        [(qid, t) for qid, ts in BM25_QUERIES.items() for t in ts],
        "query_id string, term string",
    )


# ---------------------------------------------------------------------------
# llm_winnow_fingerprints — winnowing document fingerprints (Schleimer,
# Wilkerson, Aiken, SIGMOD 2003 — the MOSS algorithm): hash every token
# 3-gram, slide a window of w=4 consecutive hashes, keep each window's
# MINIMUM. Guarantee: any shared token run of length >= w+k-1 = 6 yields
# a shared fingerprint, at ~2/(w+1) the density of full shingling — the
# local fingerprinting scheme between exact rolling-hash fingerprints
# (position-fragile) and MinHash (whole-doc only; winnowing localizes
# partial overlap).
#
# Fingerprint selection is ALL array math inside one codegen'd projection
# (transform/slice/array_min/array_distinct) — no Window operator, no
# shuffle until the (doc, fp) explode. Hot/boilerplate fingerprints are
# dropped by a df cap BEFORE the pair join (both engines), the MOSS
# "ignore over-common fingerprints" rule that also bounds join fan-out:
# a fingerprint shared by every doc can never produce a quadratic bucket.
# ---------------------------------------------------------------------------
WINNOW_W = 4  # window of consecutive k-gram hashes
WINNOW_MAX_DF = 64  # MOSS over-common cut: fingerprint in > this many docs
WINNOW_MIN_SHARED = 2  # candidate pairs must share >= this many prints


def _winnow_oracle() -> str:
    hexpoly = " + ".join(
        f"(strpos('{HEX}', substr(x, {i + 1}, 1)) - 1) * "
        f"CAST({16 ** (10 - i)} AS BIGINT)"
        for i in range(11)
    )
    return f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
    WHERE len(string_split(text, ' ')) >= 6
), hv AS (
    SELECT doc_id, list_transform(
        list_transform(range(1, greatest(len(t) - 1, 1)),
                       i -> md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2])),
        x -> {hexpoly}) AS h
    FROM toks
), fp AS (
    SELECT DISTINCT doc_id, unnest(list_distinct(list_transform(
        range(1, greatest(len(h) - {WINNOW_W - 1}, 0) + 1),
        i -> list_min(h[i:i+{WINNOW_W - 1}])))) AS f
    FROM hv
), keep AS (
    SELECT f FROM fp GROUP BY f
    HAVING COUNT(*) BETWEEN {WINNOW_MIN_SHARED} AND {WINNOW_MAX_DF}
), sizes AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp FROM fp GROUP BY 1
), pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS shared_fp
    FROM fp a JOIN keep USING (f) JOIN fp b USING (f)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
)
SELECT p.doc_a, p.doc_b, p.shared_fp,
       sa.n_fp AS n_fp_a, sb.n_fp AS n_fp_b,
       (1000 * p.shared_fp) // least(sa.n_fp, sb.n_fp) AS overlap_pm
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
"""


def winnow_fingerprint_rows(d: DataFrame) -> DataFrame:
    """(doc_id, f) winnowing fingerprints — one codegen'd projection from
    text to the selected hash set (k-gram md5 -> 44-bit int -> sliding
    window-of-{WINNOW_W} minima -> distinct), then explode. Map-only."""
    hexpoly = hexval_sql("x", "instr", 1, 11)
    return (
        d.filter(F.size(F.split("text", " ")) >= 6)
        .select(
            "doc_id",
            F.expr(
                "transform("
                " transform(sequence(1, size(split(text, ' ')) - 2),"
                "   i -> md5(concat_ws(' ',"
                "        element_at(split(text, ' '), i),"
                "        element_at(split(text, ' '), i + 1),"
                "        element_at(split(text, ' '), i + 2)))),"
                f" x -> {hexpoly})"
            ).alias("h"),
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "array_distinct(transform("
                    f" sequence(1, size(h) - {WINNOW_W - 1}),"
                    f" i -> array_min(slice(h, i, {WINNOW_W}))))"
                )
            ).alias("f"),
        )
    )


@query(
    "llm_winnow_fingerprints",
    oracle=_winnow_oracle(),
    tags=("llm-text", "dedup"),
)
def llm_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs by winnowing fingerprints (MOSS): pairs
    sharing >= 2 selected k-gram-hash minima, with per-doc fingerprint
    counts and integer per-mille overlap vs the smaller doc.

    Scale shape: fingerprint selection never shuffles (array math in one
    projection, ~2/(w+1) the density of full shingling); the fingerprint
    frame is localCheckpoint'ed because FOUR consumers read it (df cap,
    both pair-join sides, sizes) and it is ~100x SMALLER than the text it
    came from — the opposite call from the HLL shingle frame, same
    recompute-vs-bytes rule. The df cap (MOSS's over-common cut) bounds
    every join bucket to {WINNOW_MAX_DF} docs, so the pair join is
    AQE-splittable with no quadratic hot key."""
    d = T.load(spark, sf_dir, "documents")
    fp = winnow_fingerprint_rows(d).localCheckpoint()
    return winnow_pairs(fp, max_df=WINNOW_MAX_DF)


def winnow_pairs(fp: DataFrame, max_df: int | None) -> DataFrame:
    """Candidate pairs from a (doc_id, f) fingerprint frame — shared by
    the batch query (``max_df=WINNOW_MAX_DF``, the MOSS over-common cut)
    and the streaming twin (``max_df=None``: the cap is RETROACTIVE — a
    fingerprint crossing it would retract already-emitted pairs — so the
    incremental form runs capless; see streaming/incremental.py)."""
    cond = F.col("nd") >= WINNOW_MIN_SHARED
    if max_df is not None:
        cond = cond & (F.col("nd") <= max_df)
    keep = fp.groupBy("f").agg(F.count(F.lit(1)).alias("nd")).filter(
        cond
    ).select("f")
    sizes = fp.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fp")
    )
    a = fp.join(keep, "f")
    b = fp.withColumnRenamed("doc_id", "doc_b")
    pairs = (
        a.join(b, "f")
        .filter(F.col("doc_id") < F.col("doc_b"))
        .groupBy(F.col("doc_id").alias("doc_a"), "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fp"))
        .filter(F.col("shared_fp") >= WINNOW_MIN_SHARED)
    )
    sa = sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
        "n_fp", "n_fp_a"
    )
    sb = sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
        "n_fp", "n_fp_b"
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared_fp",
            "n_fp_a",
            "n_fp_b",
            F.expr("(1000 * shared_fp) div least(n_fp_a, n_fp_b)").alias(
                "overlap_pm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# dq_distribution_drift_ks — per-source distribution drift: the exact
# two-sample Kolmogorov–Smirnov statistic (max ECDF gap, integer
# per-mille) between each source's n_chars distribution and the REST of
# the corpus — the training-data monitoring report that flags a source
# whose length profile shifted (truncation bug, boilerplate injection,
# scraper change) before it poisons a data mix.
#
# Exactness: KS = max over pooled support v of |cum_s/n_s - cum_r/n_r|;
# cross-multiplied to (1000*|cum_s*n_r - cum_r*n_s|) // (n_s*n_r) — all
# BIGINT, no floats anywhere. The support grid is |sources| x |distinct
# values| — n_chars is a bounded physical quantity (a histogram domain),
# so the grid stays tiny at any corpus size; the ONLY corpus-wide work is
# the one map-combined (source, value) count.
# ---------------------------------------------------------------------------


@query(
    "dq_distribution_drift_ks",
    oracle="""
WITH c AS (
    SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
    FROM documents GROUP BY 1, 2
), grid AS (
    SELECT s.source, vals.v, COALESCE(c.c, 0) AS c
    FROM (SELECT DISTINCT source FROM c) s
    CROSS JOIN (SELECT DISTINCT v FROM c) vals
    LEFT JOIN c ON c.source = s.source AND c.v = vals.v
), cum AS (
    SELECT source, v,
           CAST(SUM(c) OVER (PARTITION BY source ORDER BY v) AS BIGINT)
               AS cum_s
    FROM grid
), tot AS (
    SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM c GROUP BY 1
), alln AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c),
allcum AS (
    SELECT v, CAST(SUM(cum_s) AS BIGINT) AS cum_all FROM cum GROUP BY 1
), d AS (
    SELECT cum.source, cum.v, tot.n_s, alln.n - tot.n_s AS n_r,
           (1000 * abs(cum_s * (alln.n - tot.n_s)
                       - (cum_all - cum_s) * tot.n_s))
           // (tot.n_s * (alln.n - tot.n_s)) AS d_pm
    FROM cum JOIN tot USING (source) JOIN allcum USING (v), alln
    WHERE alln.n - tot.n_s > 0
), mx AS (
    SELECT source, MAX(d_pm) AS ks_pm FROM d GROUP BY 1
)
SELECT m.source,
       CAST(MIN(d.n_s) AS BIGINT) AS n_source,
       CAST(MIN(d.n_r) AS BIGINT) AS n_rest,
       CAST(m.ks_pm AS BIGINT) AS ks_pm,
       CAST(MIN(d.v) AS BIGINT) AS ks_at_value
FROM mx m JOIN d ON d.source = m.source AND d.d_pm = m.ks_pm
GROUP BY 1, 4
""",
    tags=("dq", "drift"),
)
def dq_distribution_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS drift (integer per-mille) of each source's
    n_chars distribution vs the rest of the corpus, with the value where
    the max ECDF gap occurs (min such value — deterministic argmax).

    Scale shape: ONE map-combined (source, value) count is the only
    corpus-wide shuffle; the counted frame is localCheckpoint'ed because
    everything downstream (support grid, cumsums, totals, the argmax
    join-back) re-reads it and it is histogram-sized (|sources| x
    |distinct n_chars| rows), so the full document scan runs exactly
    once. The cumsum Window partitions by source over the bounded grid —
    never over corpus rows.

    Streaming posture: the (source, value) count frame is a plain
    additive histogram — per-micro-batch partials from
    ``ks_count_partials`` union + re-sum to exactly the one-shot counts,
    and ``ks_finalize`` is the batch tail over any such merge
    (tests/test_round6_ext.py::test_incremental_ks_count_partials_merge).
    """
    d = T.load(spark, sf_dir, "documents")
    c = ks_count_partials(d).localCheckpoint()
    return ks_finalize(c)


def ks_count_partials(d: DataFrame) -> DataFrame:
    """Per-(source, n_chars) counts for any slice of documents — the
    mergeable (sum-algebra) state of the KS drift report."""
    return d.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )


def ks_finalize(c: DataFrame) -> DataFrame:
    """The KS tail over a (source, v, c) histogram frame (already merged
    and, in the batch query, checkpointed)."""
    srcs = c.select("source").distinct()
    vals = c.select("v").distinct()
    grid = (
        srcs.crossJoin(F.broadcast(vals))
        .join(c, ["source", "v"], "left")
        .select("source", "v", F.coalesce("c", F.lit(0)).alias("c"))
    )
    w = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select(
        "source", "v", F.sum("c").over(w).cast("bigint").alias("cum_s")
    )
    tot = c.groupBy("source").agg(F.sum("c").cast("bigint").alias("n_s"))
    alln = c.select(F.sum("c").cast("bigint").alias("n"))
    allcum = cum.groupBy("v").agg(
        F.sum("cum_s").cast("bigint").alias("cum_all")
    )
    dd = (
        cum.join(F.broadcast(tot), "source")
        .join(F.broadcast(allcum), "v")
        .crossJoin(F.broadcast(alln))
        .filter(F.col("n") - F.col("n_s") > 0)
        .select(
            "source",
            "v",
            "n_s",
            (F.col("n") - F.col("n_s")).alias("n_r"),
            F.expr(
                "(1000 * abs(cum_s * (n - n_s) - (cum_all - cum_s) * n_s))"
                " div (n_s * (n - n_s))"
            ).alias("d_pm"),
        )
    )
    mx = dd.groupBy("source").agg(F.max("d_pm").alias("ks_pm"))
    return (
        dd.join(F.broadcast(mx), "source")
        .filter(F.col("d_pm") == F.col("ks_pm"))
        .groupBy("source", "ks_pm")
        .agg(
            F.min("n_s").cast("bigint").alias("n_source"),
            F.min("n_r").cast("bigint").alias("n_rest"),
            F.min("v").cast("bigint").alias("ks_at_value"),
        )
        .select(
            "source",
            "n_source",
            "n_rest",
            F.col("ks_pm").cast("bigint").alias("ks_pm"),
            "ks_at_value",
        )
    )


# ---------------------------------------------------------------------------
# dq_vocab_drift — per-source VOCABULARY drift vs the corpus: total-
# variation and chi-square distance (ppm-quantized integers) between each
# source's unigram distribution and the corpus distribution over the
# global top-V vocabulary, everything else folded into one '§other'
# bucket map-side. The content-drift sibling of dq_distribution_drift_ks
# (which watches a numeric column): a source whose WORDING shifted
# (template change, language mix change, spam injection) moves these
# distances even when its length profile stays put.
#
# Quantization contract: proportions are floored to ppm BEFORE the
# distance math (p = 1e6*c // n) — both engines quantize identically, so
# the distances are bit-stable where float division would not be; the
# docstring reports the resulting <= 1e-6 per-bucket bias honestly.
# Overflow: (p_s - p_c)^2 <= 1e12, summed over V+1 = 65 buckets <= 7e13.
# ---------------------------------------------------------------------------
VOCAB_DRIFT_V = 64  # top-V corpus terms kept as individual buckets
VOCAB_DRIFT_MIN_SUPPORT = 5  # heavy-hitters prefilter before the top-V rank
_OTHER = "§other"


@query(
    "dq_vocab_drift",
    oracle=f"""
WITH tok AS (
    SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
), cv AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS cv FROM tok GROUP BY 1
    HAVING COUNT(*) >= {VOCAB_DRIFT_MIN_SUPPORT}
), topv AS (
    SELECT term FROM (
        SELECT term, row_number() OVER (ORDER BY cv DESC, term) AS rnk
        FROM cv
    ) WHERE rnk <= {VOCAB_DRIFT_V}
), b AS (
    SELECT source,
           CASE WHEN term IN (SELECT term FROM topv)
                THEN term ELSE '{_OTHER}' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM tok GROUP BY 1, 2
), ns AS (
    SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM b GROUP BY 1
), cb AS (
    SELECT bucket, CAST(SUM(c) AS BIGINT) AS cb FROM b GROUP BY 1
), nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM b),
grid AS (
    SELECT s.source, k.bucket, COALESCE(b.c, 0) AS c
    FROM (SELECT DISTINCT source FROM b) s
    CROSS JOIN (SELECT DISTINCT bucket FROM b) k
    LEFT JOIN b ON b.source = s.source AND b.bucket = k.bucket
), p AS (
    SELECT g.source, g.bucket,
           (1000000 * g.c) // ns.n_s AS p_s,
           (1000000 * cb.cb) // nn.n AS p_c
    FROM grid g JOIN ns USING (source) JOIN cb USING (bucket), nn
), term_d AS (
    SELECT source, bucket, abs(p_s - p_c) AS d,
           ((p_s - p_c) * (p_s - p_c)) // greatest(p_c, 1) AS x2
    FROM p
), agg AS (
    SELECT source, CAST(SUM(d) AS BIGINT) AS tv_ppm,
           CAST(SUM(x2) AS BIGINT) AS chi2_ppm,
           CAST(MAX(d) AS BIGINT) AS top_shift_ppm
    FROM term_d GROUP BY 1
)
SELECT a.source, ns.n_s AS n_tokens, a.tv_ppm, a.chi2_ppm,
       MIN(t.bucket) AS top_shifted_term, a.top_shift_ppm
FROM agg a
JOIN term_d t ON t.source = a.source AND t.d = a.top_shift_ppm
JOIN ns ON ns.source = a.source
GROUP BY 1, 2, 3, 4, 6
""",
    tags=("dq", "drift"),
)
def dq_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary drift vs the corpus: total-variation and
    chi-square distance (ppm-floored integers) over the global top-64
    terms + one '§other' bucket, plus the single most-shifted bucket
    (deterministic min-term argmax).

    Scale shape: two corpus scans, both pushed — pass 1 builds the
    vocabulary (map-combined term counts, heavy-hitters min-support
    BEFORE the vocab-sized global rank, top-V checkpointed at 64 rows);
    pass 2 folds every token into its top-V term or '§other' MAP-SIDE
    via a broadcast membership lookup, so the second shuffle carries at
    most (V+1) x |sources| rows. All distance math runs on that bounded
    grid. Distances are ppm-quantized before differencing (bit-stable
    across engines; per-bucket quantization bias < 1e-6, i.e. smaller
    than one count in a million tokens)."""
    d = T.load(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("term"))
    cv = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cv"))
        .filter(F.col("cv") >= VOCAB_DRIFT_MIN_SUPPORT)
    )
    rnk = F.row_number().over(Window.orderBy(F.col("cv").desc(), "term"))
    topv = (
        cv.withColumn("rnk", rnk)
        .filter(F.col("rnk") <= VOCAB_DRIFT_V)
        .select("term")
        .localCheckpoint()  # 64 rows; pass 2 and the grid both read it
    )
    b = (
        tok.join(
            F.broadcast(topv.withColumnRenamed("term", "tv")),
            tok["term"] == F.col("tv"),
            "left",
        )
        .withColumn("bucket", F.coalesce("tv", F.lit(_OTHER)))
        .groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint()  # (V+1) x |sources| rows, five consumers
    )
    return _vocab_drift_from_buckets(b)


def _vocab_drift_from_buckets(b: DataFrame) -> DataFrame:
    """Drift report from the bounded (source, bucket, c) grid — shared by
    the one-shot batch plan and the streaming accumulate-then-finalize
    twin (``vocab_drift_finalize``); everything below runs on at most
    (V+1) x |sources| rows."""
    ns = b.groupBy("source").agg(F.sum("c").cast("bigint").alias("n_s"))
    cb = b.groupBy("bucket").agg(F.sum("c").cast("bigint").alias("cb"))
    nn = b.select(F.sum("c").cast("bigint").alias("n"))
    grid = (
        b.select("source").distinct()
        .crossJoin(F.broadcast(b.select("bucket").distinct()))
        .join(b, ["source", "bucket"], "left")
        .select("source", "bucket", F.coalesce("c", F.lit(0)).alias("c"))
    )
    p = (
        grid.join(F.broadcast(ns), "source")
        .join(F.broadcast(cb), "bucket")
        .crossJoin(F.broadcast(nn))
        .select(
            "source",
            "bucket",
            F.expr("(1000000 * c) div n_s").alias("p_s"),
            F.expr("(1000000 * cb) div n").alias("p_c"),
        )
    )
    term_d = p.select(
        "source",
        "bucket",
        F.abs(F.col("p_s") - F.col("p_c")).alias("d"),
        F.expr(
            "((p_s - p_c) * (p_s - p_c)) div greatest(p_c, 1)"
        ).alias("x2"),
    )
    agg = term_d.groupBy("source").agg(
        F.sum("d").cast("bigint").alias("tv_ppm"),
        F.sum("x2").cast("bigint").alias("chi2_ppm"),
        F.max("d").cast("bigint").alias("top_shift_ppm"),
    )
    arg = term_d.select(
        F.col("source").alias("src2"),
        F.col("bucket"),
        F.col("d"),
    )
    return (
        agg.join(
            arg,
            (agg["source"] == arg["src2"])
            & (arg["d"] == agg["top_shift_ppm"]),
        )
        .join(F.broadcast(ns), "source")
        .groupBy(
            "source",
            F.col("n_s").alias("n_tokens"),
            "tv_ppm",
            "chi2_ppm",
            "top_shift_ppm",
        )
        .agg(F.min("bucket").alias("top_shifted_term"))
        .select(
            "source",
            "n_tokens",
            "tv_ppm",
            "chi2_ppm",
            "top_shifted_term",
            "top_shift_ppm",
        )
    )


def vocab_drift_term_partials(docs_batch: DataFrame) -> DataFrame:
    """Mergeable per-batch partials for the vocab-drift report: the
    (source, term, c) unigram counts of one document slice. Counts are
    sum-mergeable across batches (the checksum/KS/Benford partials
    pattern), so the streaming state is term-count rows — never raw
    documents — and the top-V vocabulary is derived at FINALIZE time from
    the merged counts (a vocabulary frozen per batch would drift)."""
    tok = docs_batch.select(
        "source", F.explode(F.split("text", " ")).alias("term")
    )
    return tok.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )


def vocab_drift_finalize(parts: DataFrame) -> DataFrame:
    """One-shot report from accumulated term-count partials: re-sum the
    unioned batches, rebuild the global top-V vocabulary (min-support
    before the vocab-sized rank, exactly the batch plan's pass 1), fold
    every term row into its bucket via the same broadcast lookup, and
    reuse the batch report core — union-of-batches == one-shot batch is
    pinned by test_incremental_vocab_drift_partials_merge."""
    st = parts.groupBy("source", "term").agg(
        F.sum("c").cast("bigint").alias("c")
    )
    cv = (
        st.groupBy("term")
        .agg(F.sum("c").cast("bigint").alias("cv"))
        .filter(F.col("cv") >= VOCAB_DRIFT_MIN_SUPPORT)
    )
    rnk = F.row_number().over(Window.orderBy(F.col("cv").desc(), "term"))
    topv = (
        cv.withColumn("rnk", rnk)
        .filter(F.col("rnk") <= VOCAB_DRIFT_V)
        .select("term")
    )
    b = (
        st.join(
            F.broadcast(topv.withColumnRenamed("term", "tv")),
            st["term"] == F.col("tv"),
            "left",
        )
        .withColumn("bucket", F.coalesce("tv", F.lit(_OTHER)))
        .groupBy("source", "bucket")
        .agg(F.sum("c").cast("bigint").alias("c"))
        .localCheckpoint()
    )
    return _vocab_drift_from_buckets(b)


# ---------------------------------------------------------------------------
# dq_langid_eval — classifier-quality rollup of the stopword language-ID
# heuristic against the declared `lang` label: per-class confusion-matrix
# counts and integer per-mille precision / recall / F1 — the label-audit
# report a data platform runs before trusting either the labels or the
# classifier for routing/mixing decisions.
# ---------------------------------------------------------------------------


def _langid_pred_cte() -> str:
    from .llm_queries import LANG_STOPWORDS, hits_sql

    return f"""
h AS (
    SELECT lang AS labeled_lang,
           {hits_sql(LANG_STOPWORDS['en'])} AS en_hits,
           {hits_sql(LANG_STOPWORDS['fr'])} AS fr_hits,
           {hits_sql(LANG_STOPWORDS['es'])} AS es_hits,
           {hits_sql(LANG_STOPWORDS['de'])} AS de_hits
    FROM documents
), pred AS (
    SELECT labeled_lang,
           CASE WHEN en_hits + fr_hits + es_hits + de_hits = 0 THEN 'und'
                WHEN en_hits >= fr_hits AND en_hits >= es_hits
                     AND en_hits >= de_hits THEN 'en'
                WHEN fr_hits >= es_hits AND fr_hits >= de_hits THEN 'fr'
                WHEN es_hits >= de_hits THEN 'es'
                ELSE 'de' END AS predicted_lang
    FROM h
)"""


@query(
    "dq_langid_eval",
    oracle=f"""
WITH {_langid_pred_cte()},
classes AS (
    SELECT labeled_lang AS lang FROM pred
    UNION SELECT predicted_lang FROM pred
), lab AS (
    SELECT labeled_lang AS lang, CAST(COUNT(*) AS BIGINT) AS n_labeled
    FROM pred GROUP BY 1
), prd AS (
    SELECT predicted_lang AS lang, CAST(COUNT(*) AS BIGINT) AS n_predicted
    FROM pred GROUP BY 1
), cor AS (
    SELECT labeled_lang AS lang, CAST(COUNT(*) AS BIGINT) AS n_correct
    FROM pred WHERE labeled_lang = predicted_lang GROUP BY 1
), m AS (
    SELECT c.lang,
           COALESCE(lab.n_labeled, 0)   AS n_labeled,
           COALESCE(prd.n_predicted, 0) AS n_predicted,
           COALESCE(cor.n_correct, 0)   AS n_correct
    FROM classes c
    LEFT JOIN lab USING (lang) LEFT JOIN prd USING (lang)
    LEFT JOIN cor USING (lang)
), s AS (
    SELECT lang, n_labeled, n_predicted, n_correct,
           (1000 * n_correct) // greatest(n_predicted, 1) AS precision_pm,
           (1000 * n_correct) // greatest(n_labeled, 1)   AS recall_pm
    FROM m
)
SELECT lang, n_labeled, n_predicted, n_correct, precision_pm, recall_pm,
       (2 * precision_pm * recall_pm)
       // greatest(precision_pm + recall_pm, 1) AS f1_pm
FROM s
""",
    tags=("dq", "eval"),
)
def dq_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 (integer per-mille, zero-guarded
    floor-div) of the stopword language-ID heuristic vs the declared
    `lang` label — classes are the union of labeled and predicted values,
    so a class the model never predicts (or that never occurs) still gets
    a row with honest zeros.

    Scale shape: the per-doc predictor is one codegen'd projection (the
    registered ``llm_text_langid`` plan); everything above it is three
    map-combined aggs on the lang-cardinality key (a handful of classes)
    joined on a broadcastable frame. The F1 here is computed from the
    per-mille-floored P and R (documented — quantize-then-combine, same
    on both engines)."""
    from .llm_queries import llm_text_langid

    pred = llm_text_langid(spark, sf_dir).select(
        "labeled_lang", "predicted_lang"
    )
    # three aggs + the class union all read the predictor output; it is
    # doc-cardinality, so DON'T checkpoint — re-deriving the projection
    # is cheaper than materializing a per-doc frame (the HLL rule)
    classes = (
        pred.select(F.col("labeled_lang").alias("lang"))
        .union(pred.select("predicted_lang"))
        .distinct()
    )
    lab = pred.groupBy(F.col("labeled_lang").alias("lang")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_labeled")
    )
    prd = pred.groupBy(F.col("predicted_lang").alias("lang")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_predicted")
    )
    cor = (
        pred.filter(F.col("labeled_lang") == F.col("predicted_lang"))
        .groupBy(F.col("labeled_lang").alias("lang"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_correct"))
    )
    return _langid_report(classes, lab, prd, cor)


def _langid_report(
    classes: DataFrame, lab: DataFrame, prd: DataFrame, cor: DataFrame
) -> DataFrame:
    """P/R/F1 report tail over the class-keyed count frames — shared by
    the one-shot batch plan and the streaming confusion-matrix twin
    (``langid_eval_finalize``); runs on |classes| rows."""
    m = (
        classes.join(lab, "lang", "left")
        .join(prd, "lang", "left")
        .join(cor, "lang", "left")
        .select(
            "lang",
            F.coalesce("n_labeled", F.lit(0)).alias("n_labeled"),
            F.coalesce("n_predicted", F.lit(0)).alias("n_predicted"),
            F.coalesce("n_correct", F.lit(0)).alias("n_correct"),
        )
    )
    s = m.select(
        "*",
        F.expr(
            "(1000 * n_correct) div greatest(n_predicted, 1)"
        ).alias("precision_pm"),
        F.expr("(1000 * n_correct) div greatest(n_labeled, 1)").alias(
            "recall_pm"
        ),
    )
    return s.select(
        "lang",
        "n_labeled",
        "n_predicted",
        "n_correct",
        "precision_pm",
        "recall_pm",
        F.expr(
            "(2 * precision_pm * recall_pm)"
            " div greatest(precision_pm + recall_pm, 1)"
        ).alias("f1_pm"),
    )


def langid_confusion_partials(docs_batch: DataFrame) -> DataFrame:
    """Mergeable per-batch partials for the langid evaluation: the
    (labeled_lang, predicted_lang, n) confusion-matrix counts of one
    document slice, scored by the identical predictor expression tree
    (llm_queries.langid_predict). The predictor is per-doc, so confusion
    counts are sum-mergeable — streaming state is a ≤ |classes|² count
    table, never documents."""
    from .llm_queries import langid_predict

    return (
        langid_predict(docs_batch)
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def langid_eval_finalize(parts: DataFrame) -> DataFrame:
    """P/R/F1 report from accumulated confusion partials: re-sum the
    unioned batches and rebuild the class-keyed marginals — the diagonal
    is n_correct, the row/column sums are n_labeled/n_predicted. Reuses
    the batch report tail; union-of-batches == one-shot batch is pinned
    by test_incremental_langid_confusion_partials_merge."""
    conf = parts.groupBy("labeled_lang", "predicted_lang").agg(
        F.sum("n").cast("bigint").alias("n")
    )
    classes = (
        conf.select(F.col("labeled_lang").alias("lang"))
        .union(conf.select("predicted_lang"))
        .distinct()
    )
    lab = conf.groupBy(F.col("labeled_lang").alias("lang")).agg(
        F.sum("n").cast("bigint").alias("n_labeled")
    )
    prd = conf.groupBy(F.col("predicted_lang").alias("lang")).agg(
        F.sum("n").cast("bigint").alias("n_predicted")
    )
    cor = (
        conf.filter(F.col("labeled_lang") == F.col("predicted_lang"))
        .groupBy(F.col("labeled_lang").alias("lang"))
        .agg(F.sum("n").cast("bigint").alias("n_correct"))
    )
    return _langid_report(classes, lab, prd, cor)


# ---------------------------------------------------------------------------
# llm_lsh_tuning_curve — measured precision/recall of MinHash LSH banding
# per (bands x rows) configuration against EXACT-Jaccard ground truth:
# the report you read before committing a banding config to a 100 TB
# dedup run (the S-curve 1-(1-j^r)^b is theory; this measures the real
# corpus). All configs are banded from ONE K=12 signature frame (computed
# once, checkpointed), so adding a config costs band rows, not another
# corpus pass. Ground truth is the exact inverted-index Jaccard join,
# computed on a BOUNDED deterministic doc sample (r11, verdict item 4):
# the md5-rank top-K of the shingled docs (the llm_sample_reservoir
# trick), so the truth join's cost is ~constant as the corpus grows —
# the r10 x100 run measured the UNSAMPLED truth join super-linear at
# 99.9 s, the one such row in the registry. Precision/recall are
# estimated on candidate pairs with BOTH endpoints sampled (the
# restriction of both sides to a uniform doc subset is the standard
# unbiased estimator); the sample size and rate ride along as honesty
# columns instead of being hidden in a footnote.
# ---------------------------------------------------------------------------
LSH_CURVE_CONFIGS: tuple[tuple[int, int], ...] = ((2, 6), (4, 3), (6, 2), (12, 1))
LSH_CURVE_TRUTH_PM = 500  # ground-truth pairs: exact jaccard >= 0.5
LSH_CURVE_TRUTH_DOCS = 300  # truth-sample cap (md5-rank top-K of docs)
LSH_CURVE_SAMPLE_SALT = 32  # two-phase top-K fan-out (reservoir pattern)


def _lsh_curve_oracle() -> str:
    mins = ",\n           ".join(
        f"MIN(md5('{i}:' || shingle)) AS h{i}" for i in range(MINHASH_K)
    )
    bands = "\n    UNION ALL ".join(
        f"SELECT '{b:02d}x{r:02d}' AS cfg, {b} AS b, {r} AS r, doc_id, "
        f"{j} AS band, md5({' || '.join(f'h{r * j + k}' for k in range(r))})"
        " AS bucket FROM mh"
        for b, r in LSH_CURVE_CONFIGS
        for j in range(b)
    )
    return f"""
WITH {SHINGLE_SQL},
mh AS (
    SELECT doc_id, {mins} FROM sh GROUP BY 1
), bands AS (
    {bands}
), cand AS (
    SELECT DISTINCT a.cfg AS cfg, a.b AS b, a.r AS r,
           a.doc_id AS doc_a, bb.doc_id AS doc_b
    FROM bands a JOIN bands bb
      ON a.cfg = bb.cfg AND a.band = bb.band AND a.bucket = bb.bucket
     AND a.doc_id < bb.doc_id
), tsmp AS (
    SELECT doc_id FROM (
        SELECT doc_id, ROW_NUMBER() OVER (
            ORDER BY {hexval_sql("md5(CAST(doc_id AS VARCHAR))", "strpos")},
                     doc_id) AS rnk
        FROM mh
    ) WHERE rnk <= {LSH_CURVE_TRUTH_DOCS}
), stats AS (
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tsmp)
               AS truth_sample_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM mh) AS n_docs
), shs AS (
    SELECT sh.doc_id, sh.shingle FROM sh JOIN tsmp USING (doc_id)
), sizes AS (
    SELECT doc_id, COUNT(*) AS n_sh FROM shs GROUP BY 1
), inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ic
    FROM shs a JOIN shs b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), truth AS (
    SELECT i.doc_a, i.doc_b
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE (1000 * i.ic) // (sa.n_sh + sb.n_sh - i.ic)
          >= {LSH_CURVE_TRUTH_PM}
), nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM truth),
agg AS (
    SELECT c.cfg, CAST(MIN(c.b) AS BIGINT) AS bands,
           CAST(MIN(c.r) AS BIGINT) AS rows_per_band,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN sa.doc_id IS NOT NULL
                          AND sb.doc_id IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_cand_sampled,
           CAST(SUM(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS true_positives_sampled
    FROM cand c
    LEFT JOIN tsmp sa ON c.doc_a = sa.doc_id
    LEFT JOIN tsmp sb ON c.doc_b = sb.doc_id
    LEFT JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    GROUP BY 1
)
SELECT a.cfg, a.bands, a.rows_per_band, a.n_candidates, a.n_cand_sampled,
       nt.n_true AS n_true_pairs,
       a.true_positives_sampled,
       (1000 * a.true_positives_sampled) // greatest(a.n_cand_sampled, 1)
           AS precision_pm,
       (1000 * a.true_positives_sampled) // greatest(nt.n_true, 1) AS recall_pm,
       s.truth_sample_docs,
       (1000 * s.truth_sample_docs) // greatest(s.n_docs, 1)
           AS truth_sample_pm
FROM agg a, nt, stats s
"""


@query(
    "llm_lsh_tuning_curve",
    oracle=_lsh_curve_oracle(),
    tags=("llm-text", "dedup", "tuning"),
)
def llm_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured LSH banding operating curve: candidate count, precision
    and recall (integer per-mille) of each (bands x rows-per-band)
    config over the SAME K=12 MinHash signatures, scored against exact
    ground truth (inverted-index Jaccard >= 0.5) on a BOUNDED
    deterministic doc sample.

    Scale shape: signatures computed once (checkpointed, 1 row/doc) and
    banded per config as exploded array rows — 24 band rows/doc for the
    four configs, one self-join keyed (cfg, band, bucket); the r=1
    config deliberately shows the hot-bucket / precision floor the MOSS
    df cap and banding exist to avoid. Ground truth (r11): the exact
    shared-shingle join runs over the md5-rank top-{K} shingled docs
    (llm_sample_reservoir's two-phase top-K — no global sort), so the
    truth side stays ~constant-cost as the corpus grows — the r10 x100
    run measured the unsampled truth join at 99.9 s, the registry's one
    super-linear row. precision/recall are estimated on candidates with
    both endpoints sampled (restricting both sides to a uniform doc
    subset is the standard unbiased estimator); truth_sample_docs and
    truth_sample_pm ride along as honesty columns. At sf <= 0.01 the
    cap exceeds the corpus, so the sample IS the corpus and the curve
    is exact."""
    d = T.load(spark, sf_dir, "documents")
    sh = shingles(d).localCheckpoint()  # mh + truth (x2 sides) + sizes
    return _lsh_curve_from_shingles(sh)


def lsh_curve_shingle_partials(docs_batch: DataFrame) -> DataFrame:
    """Mergeable per-batch partials for the tuning curve: the distinct
    (doc_id, shingle) rows of one document slice. Shingles are strictly
    within-document, so partials are union-mergeable with no re-dedup —
    streaming state is the shingle fingerprint table (the
    incremental_minhash_pairs state shape), never document text."""
    return shingles(docs_batch)


def lsh_curve_finalize(parts: DataFrame) -> DataFrame:
    """Tuning-curve report from accumulated shingle partials: checkpoint
    the merged state once and run the identical signature/banding/truth
    pipeline. Cross-batch candidate pairs appear exactly as in the
    one-shot batch because both signatures and the exact-Jaccard truth
    are functions of the merged shingle table alone —
    test_incremental_lsh_curve_partials_merge pins union-of-batches ==
    one-shot batch."""
    return _lsh_curve_from_shingles(parts.localCheckpoint())


def _lsh_curve_from_shingles(sh: DataFrame) -> DataFrame:
    """Curve core over a (doc_id, shingle) frame that is already safe to
    fan out (checkpointed by both callers: mh + truth x2 + sizes read
    it)."""
    mh = minhash_signatures(sh)  # one signature pass feeds every config
    bands = mh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f"{b:02d}x{r:02d}").alias("cfg"),
                        F.lit(b).alias("b"),
                        F.lit(r).alias("r"),
                        F.lit(j).alias("band"),
                        F.md5(
                            F.concat(
                                *[F.col(f"h{r * j + k}") for k in range(r)]
                            )
                        ).alias("bucket"),
                    )
                    for b, r in LSH_CURVE_CONFIGS
                    for j in range(b)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.cfg", "bb.b", "bb.r", "bb.band", "bb.bucket")
    left, right = bands.alias("l"), bands.alias("rr")
    cand = (
        left.join(
            right,
            (F.col("l.cfg") == F.col("rr.cfg"))
            & (F.col("l.band") == F.col("rr.band"))
            & (F.col("l.bucket") == F.col("rr.bucket"))
            & (F.col("l.doc_id") < F.col("rr.doc_id")),
        )
        .select(
            F.col("l.cfg").alias("cfg"),
            F.col("l.b").alias("b"),
            F.col("l.r").alias("r"),
            F.col("l.doc_id").alias("doc_a"),
            F.col("rr.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # bounded deterministic truth sample: md5-rank top-K of the shingled
    # docs (two-phase reservoir top-K — phase 1 per doc_id%salt slice,
    # phase 2 over <= salt*K survivors; no global sort of the corpus).
    # Sampling from mh (1 row/doc, checkpointed) keeps the sample a pure
    # function of the shingle state, so the incremental finalize twin
    # draws the identical sample from merged partials.
    hdoc = mh.select("doc_id").withColumn(
        "hx", F.md5(F.col("doc_id").cast("string"))
    ).withColumn("u", F.expr(hexval_sql("hx", "instr")))
    tsample = (
        two_phase_topk(
            hdoc,
            [],
            "doc_id",
            ["u", "doc_id"],
            LSH_CURVE_TRUTH_DOCS,
            salt=LSH_CURVE_SAMPLE_SALT,
        )
        .select("doc_id")
        .localCheckpoint()  # 4 consumers: shs, both cand flags, stats
    )
    stats = (
        mh.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .crossJoin(
            F.broadcast(
                tsample.agg(
                    F.count(F.lit(1)).cast("bigint").alias(
                        "truth_sample_docs"
                    )
                )
            )
        )
    )
    # exact truth confined to sampled-doc pairs: the shingle inverted
    # index is built over <= LSH_CURVE_TRUTH_DOCS docs, so the truth
    # join's cost is ~constant in corpus size (the banding join above
    # stays full — it IS the operator under test)
    shs = sh.join(F.broadcast(tsample), "doc_id")
    sizes = shs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa, sb = shs.alias("sa"), shs.alias("sb")
    inter = (
        sa.join(
            sb,
            (F.col("sa.shingle") == F.col("sb.shingle"))
            & (F.col("sa.doc_id") < F.col("sb.doc_id")),
        )
        .groupBy(
            F.col("sa.doc_id").alias("doc_a"),
            F.col("sb.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("ic"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    truth = (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(
            F.expr("(1000 * ic) div (na + nb - ic)") >= LSH_CURVE_TRUTH_PM
        )
        .select("doc_a", "doc_b")
        .localCheckpoint()  # scalar count + per-config tp join both read it
    )
    nt = truth.select(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    agg = (
        cand.join(
            F.broadcast(tsample.select(F.col("doc_id").alias("doc_a"))
                        .withColumn("ins_a", F.lit(1))),
            ["doc_a"],
            "left",
        )
        .join(
            F.broadcast(tsample.select(F.col("doc_id").alias("doc_b"))
                        .withColumn("ins_b", F.lit(1))),
            ["doc_b"],
            "left",
        )
        .join(
            F.broadcast(truth.withColumn("hit", F.lit(1))),
            ["doc_a", "doc_b"],
            "left",
        )
        .groupBy("cfg")
        .agg(
            F.min("b").cast("bigint").alias("bands"),
            F.min("r").cast("bigint").alias("rows_per_band"),
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum(
                F.coalesce("ins_a", F.lit(0)) * F.coalesce("ins_b", F.lit(0))
            ).cast("bigint").alias("n_cand_sampled"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias(
                "true_positives_sampled"
            ),
        )
    )
    return (
        agg.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(stats))
        .select(
            "cfg",
            "bands",
            "rows_per_band",
            "n_candidates",
            "n_cand_sampled",
            F.col("n_true").alias("n_true_pairs"),
            "true_positives_sampled",
            F.expr(
                "(1000 * true_positives_sampled) div greatest(n_cand_sampled, 1)"
            ).alias("precision_pm"),
            F.expr("(1000 * true_positives_sampled) div greatest(n_true, 1)").alias(
                "recall_pm"
            ),
            "truth_sample_docs",
            F.expr(
                "(1000 * truth_sample_docs) div greatest(n_docs, 1)"
            ).alias("truth_sample_pm"),
        )
    )


# ---------------------------------------------------------------------------
# dq_benford_first_digit — Benford's-law first-digit audit of a money
# column: the classic synthetic/fabricated-data screen (genuine
# multiplicative amounts follow P(d) = log10(1+1/d); uniform generators —
# like this synthetic warehouse — do not, and the audit must SAY so).
# Expected probabilities are PINNED per-mille constants (301..46, summing
# exactly to 1000), so no transcendental is evaluated on either engine;
# observed proportions are ppm->pm floored before differencing (the
# vocab-drift quantize-then-combine discipline). First digit comes from
# floor()-then-cast — Spark's double->bigint cast truncates while
# DuckDB's ROUNDS, so the floor() is load-bearing for cross-engine parity.
# ---------------------------------------------------------------------------
BENFORD_PM = (301, 176, 125, 97, 79, 67, 58, 51, 46)  # d = 1..9


def benford_digit_partials(o: DataFrame) -> DataFrame:
    """Per-first-digit counts for any slice of orders — the mergeable
    (sum-algebra) state of the Benford audit."""
    return (
        o.filter(F.col("o_totalprice") >= 1)
        .select(
            F.expr(
                "CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)"
                " AS STRING), 1, 1) AS BIGINT)"
            ).alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )



@query(
    "dq_benford_first_digit",
    oracle=f"""
WITH v AS (
    SELECT CAST(floor(o_totalprice) AS BIGINT) AS n
    FROM orders WHERE o_totalprice >= 1
), c AS (
    SELECT CAST(substr(CAST(n AS VARCHAR), 1, 1) AS BIGINT) AS digit,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM v GROUP BY 1
), tot AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS t FROM c),
exp AS (
    SELECT * FROM (VALUES
        {", ".join(f"({d + 1}, {pm})" for d, pm in enumerate(BENFORD_PM))}
    ) e(digit, benford_pm)
), g AS (
    SELECT e.digit, CAST(e.benford_pm AS BIGINT) AS benford_pm,
           COALESCE(c.n_orders, 0) AS n_orders,
           (1000 * COALESCE(c.n_orders, 0)) // tot.t AS obs_pm
    FROM exp e LEFT JOIN c ON c.digit = e.digit, tot
), s AS (
    SELECT *, abs(obs_pm - benford_pm) AS dev_pm,
           ((obs_pm - benford_pm) * (obs_pm - benford_pm)) // benford_pm
               AS chi2_contrib
    FROM g
), x AS (SELECT CAST(SUM(chi2_contrib) AS BIGINT) AS chi2_total_pm FROM s)
SELECT CAST(s.digit AS BIGINT) AS digit, s.n_orders, CAST(s.obs_pm AS BIGINT)
           AS obs_pm,
       s.benford_pm, CAST(s.dev_pm AS BIGINT) AS dev_pm,
       CAST(s.chi2_contrib AS BIGINT) AS chi2_contrib, x.chi2_total_pm
FROM s, x
""",
    tags=("dq", "benford"),
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of o_totalprice: per-digit observed vs
    expected per-mille, absolute deviation, chi-square contribution, and
    the total chi-square riding on every row — on THIS synthetic
    warehouse the verdict is (honestly) non-Benford: a uniform price
    generator loads digits 1-4 ~10x over 5-9, and the audit exists to
    catch exactly that.

    Scale shape: one pushed scan -> map-side floor/substr projection ->
    one map-combined 9-key count; the digit grid, totals, and chi-square
    fold are all constant-size broadcast work. Expected probabilities
    are pinned integer constants, so both engines compute the identical
    report with zero transcendental calls."""
    o = T.load(spark, sf_dir, "orders", spread=False)
    # 9 rows; grid join + total both read it. Per-batch partials of this
    # frame merge by plain SUM (test_incremental_benford_partials_merge).
    c = benford_digit_partials(o).localCheckpoint()
    exp = spark.createDataFrame(
        [(d + 1, pm) for d, pm in enumerate(BENFORD_PM)],
        "digit bigint, benford_pm bigint",
    )
    tot = c.select(F.sum("n_orders").cast("bigint").alias("t"))
    g = (
        exp.join(c, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "benford_pm",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.expr("(1000 * coalesce(n_orders, 0)) div t").alias("obs_pm"),
        )
    )
    s = g.select(
        "*",
        F.abs(F.col("obs_pm") - F.col("benford_pm")).alias("dev_pm"),
        F.expr(
            "((obs_pm - benford_pm) * (obs_pm - benford_pm)) div benford_pm"
        ).alias("chi2_contrib"),
    )
    x = s.select(F.sum("chi2_contrib").cast("bigint").alias("chi2_total_pm"))
    return s.crossJoin(F.broadcast(x)).select(
        "digit",
        "n_orders",
        "obs_pm",
        "benford_pm",
        "dev_pm",
        "chi2_contrib",
        "chi2_total_pm",
    )


# ---------------------------------------------------------------------------
# llm_sample_pps — EXACT systematic probability-proportional-to-size
# sampling: pick PPS_N selection points p_k = offset + k*stride over the
# cumulative weight line (stride = W div N, offset = stride div 2) and
# select every doc whose weight interval contains a point — docs heavier
# than one stride are selected MULTIPLE times (n_hits > 1), exactly as
# PPS-with-replacement prescribes. The quality/size-weighted subsampler
# a curation pipeline uses when uniform sampling under-represents long
# documents. Deterministic (no RNG: the offset is pinned mid-stride), so
# both engines select the identical multiset — and sum(n_hits) == N is a
# structural identity the test asserts.
#
# The cumulative weights come from the SAME distributed two-phase prefix
# sum as llm_pack_sequences (bucket totals -> tiny ordered offsets frame
# -> parallel within-bucket windows) — never a single-task global
# ORDER BY. Division-sign discipline: cum - offset can be negative for
# the first docs and Spark's div TRUNCATES while DuckDB's // FLOORS, so
# every division is guarded to non-negative operands by CASE branches.
# ---------------------------------------------------------------------------
PPS_N = 50  # selection points (sample size, with replacement)
PPS_BUCKET = 1024  # prefix-sum bucket width (parallelism knob)

_PPS_KLO = (
    "CASE WHEN cum_ex <= off_pt THEN CAST(0 AS BIGINT)"
    " ELSE (cum_ex - off_pt + stride - 1) {d} stride END"
)
_PPS_KHI = (
    f"least((cum_hi - 1 - off_pt) {{d}} stride, CAST({PPS_N - 1} AS BIGINT))"
)


@query(
    "llm_sample_pps",
    oracle=f"""
WITH t AS (
    SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents
), c AS (
    SELECT doc_id, w,
           CAST(COALESCE(SUM(w) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS cum_ex
    FROM t
), g AS (
    SELECT CAST(SUM(w) AS BIGINT) AS wtot FROM t
), p AS (
    SELECT c.doc_id, c.w, c.cum_ex, c.cum_ex + c.w AS cum_hi,
           GREATEST(g.wtot // {PPS_N}, 1) AS stride,
           GREATEST(g.wtot // {PPS_N}, 1) // 2 AS off_pt
    FROM c, g
), k AS (
    SELECT doc_id, w, cum_ex,
           {_PPS_KLO.format(d="//")} AS k_lo,
           CASE WHEN cum_hi <= off_pt THEN CAST(-1 AS BIGINT)
                ELSE {_PPS_KHI.format(d="//")} END AS k_hi
    FROM p
)
SELECT doc_id, w AS weight, CAST(cum_ex AS BIGINT) AS cum_lo,
       CAST(k_lo AS BIGINT) AS k_first,
       CAST(k_hi - k_lo + 1 AS BIGINT) AS n_hits
FROM k WHERE k_hi >= k_lo
""",
    tags=("llm-sampling",),
)
def llm_sample_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact systematic PPS sample of documents weighted by n_chars:
    the selected docs with their weight, exclusive cumulative offset,
    first selection-point index, and hit count (heavy docs legitimately
    draw multiple hits). sum(n_hits) == {PPS_N} exactly, every run, both
    engines — the systematic-sampling identity the test asserts.

    Scale shape: the cumulative weight line is the llm_pack_sequences
    distributed prefix sum (per-bucket totals -> rows/{PPS_BUCKET}
    ordered offsets -> parallel within-bucket cumsum windows); W and the
    derived stride/offset are one broadcast row. Selection is then pure
    map-side interval arithmetic — no join against the point set, which
    never materializes at all."""
    t = T.load(spark, sf_dir, "documents", spread=False).select(
        "doc_id", F.col("n_chars").cast("bigint").alias("w")
    )
    b = t.withColumn("bkt", F.expr(f"doc_id div {PPS_BUCKET}"))
    bt = b.groupBy("bkt").agg(F.sum("w").alias("bt_w"))
    wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    off = bt.withColumn(
        "boff", F.coalesce(F.sum("bt_w").over(wb), F.lit(0))
    ).select("bkt", "boff")
    ww = (
        Window.partitionBy("bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = (
        b.join(F.broadcast(off), "bkt")
        .withColumn(
            "cum_ex",
            (
                F.col("boff") + F.coalesce(F.sum("w").over(ww), F.lit(0))
            ).cast("bigint"),
        )
        .withColumn("cum_hi", F.col("cum_ex") + F.col("w"))
    )
    # stride >= 1 guard (r6 ADVICE): on a degenerate corpus with
    # wtot < PPS_N the raw division is 0, where DuckDB's `// 0` raises
    # while Spark's `div 0` yields NULL — greatest(_, 1) pins the two
    # engines to the same (still deterministic) answer instead.
    g = t.select(F.sum("w").cast("bigint").alias("wtot")).select(
        F.expr(f"greatest(wtot div {PPS_N}, CAST(1 AS BIGINT))").alias(
            "stride"
        ),
        F.expr(
            f"greatest(wtot div {PPS_N}, CAST(1 AS BIGINT)) div 2"
        ).alias("off_pt"),
    )
    k = c.crossJoin(F.broadcast(g)).select(
        "doc_id",
        "w",
        "cum_ex",
        F.expr(_PPS_KLO.format(d="div")).alias("k_lo"),
        F.expr(
            "CASE WHEN cum_hi <= off_pt THEN CAST(-1 AS BIGINT)"
            f" ELSE {_PPS_KHI.format(d='div')} END"
        ).alias("k_hi"),
    )
    return k.filter(F.col("k_hi") >= F.col("k_lo")).select(
        "doc_id",
        F.col("w").alias("weight"),
        F.col("cum_ex").alias("cum_lo"),
        F.col("k_lo").alias("k_first"),
        (F.col("k_hi") - F.col("k_lo") + 1).cast("bigint").alias("n_hits"),
    )


# ---------------------------------------------------------------------------
# dws_dau_wau_stickiness — rolling distinct-active-user windows (DAU /
# trailing-7-day WAU / stickiness = DAU/WAU): the canonical product-
# analytics report, implemented in the 100 TB shape — NO range join and
# no per-day rescans. The raw event stream collapses ONCE to the
# (user, day) distinct frame; each collapsed row then fans out map-side
# to the <= 7 window-end days it supports (a generate, not a join), and
# one countDistinct per window-end day finishes it. The range-join
# formulation (days BETWEEN d-6 AND d) would plan a nested-loop against
# the day grid; the fan-out form shuffles at most 7x the COLLAPSED frame
# — ~1e-3 of the event volume on real click data.
# ---------------------------------------------------------------------------
WAU_DAYS = 7


@query(
    "dws_dau_wau_stickiness",
    oracle=f"""
WITH ud AS (
    SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day
    FROM events WHERE user_id IS NOT NULL
), days AS (SELECT DISTINCT day FROM ud),
dau AS (
    SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1
), fan AS (
    SELECT DISTINCT u.user_id,
           strftime(CAST(u.day AS DATE) + CAST(i AS INTEGER), '%Y-%m-%d') AS day
    FROM ud u, unnest(range(0, {WAU_DAYS})) t(i)
), wau AS (
    SELECT f.day, CAST(COUNT(DISTINCT f.user_id) AS BIGINT) AS wau
    FROM fan f JOIN days d ON d.day = f.day
    GROUP BY 1
)
SELECT d.day, dau.dau, w.wau,
       CAST((1000 * dau.dau) // w.wau AS BIGINT) AS stickiness_pm
FROM days d JOIN dau USING (day) JOIN wau w USING (day)
""",
    tags=("dws", "analytics"),
)
def dws_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users, trailing-{WAU_DAYS}-day weekly active users,
    and the DAU/WAU stickiness ratio (integer per-mille) per calendar
    day.

    Scale shape: events collapse ONCE to the distinct (user, day) frame
    (checkpointed — DAU, the fan-out, and the day grid all read it);
    WAU is a map-side explode of each collapsed row to its <= {WAU_DAYS}
    supported window-end days followed by one countDistinct shuffle —
    never a range join (which would nested-loop against the day grid)
    and never a per-day rescan. Window-end days past the observed range
    are dropped by the inner join against the day grid, so partial
    trailing windows at the start of history are reported as-is
    (documented: day 1's WAU == its DAU)."""
    e = T.load(spark, sf_dir, "events", spread=False)
    ud = (
        e.filter(F.col("user_id").isNotNull())
        .select(
            "user_id", F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .distinct()
        .localCheckpoint()
    )
    days = ud.select("day").distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    fan = (
        ud.select(
            "user_id",
            F.explode(
                F.expr(
                    "sequence(to_date(day),"
                    f" date_add(to_date(day), {WAU_DAYS - 1}))"
                )
            ).alias("wd"),
        )
        .select("user_id", F.date_format("wd", "yyyy-MM-dd").alias("day"))
        .distinct()
    )
    wau = (
        fan.join(F.broadcast(days), "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
    )
    return (
        days.join(dau, "day")
        .join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.expr("CAST((1000 * dau) div wau AS BIGINT)").alias(
                "stickiness_pm"
            ),
        )
    )
