"""Text kernels shared by the batch plans and their streaming twins:
md5-prefix hex values, 3-word shingles and MinHash-LSH.

Each kernel has exactly one definition here, so a batch query and its
incremental twin cannot drift apart. Determinism: every hash is md5
(identical hex on Spark and DuckDB); minhash "min" is lexicographic min
over fixed-width hex (== numeric min). All expressions are JVM-side
(whole-stage codegen) — no Python UDFs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

HEX = "0123456789abcdef"

# md5 prefix used as a uniform random oracle: 12 hex digits = 48 bits,
# which fits BIGINT exactly. KMV_M is the size of that value space.
KMV_HEX_DIGITS = 12
KMV_M = 16**KMV_HEX_DIGITS


def hexval_sql(col: str, fn: str, start: int = 1, nd: int = KMV_HEX_DIGITS) -> str:
    """Numeric value of ``nd`` hex chars of ``col`` from 1-based ``start``
    — identical text for Spark (fn='instr') and DuckDB (fn='strpos'), so
    the DuckDB oracles embed the same string.

    Every coefficient is CAST to BIGINT: bare ``16**7`` parses as INT32, and
    ``(instr(..)-1) * 268435456`` overflows 32-bit exactly when the digit is
    >= 8 — an ANSI-mode runtime error that only fires on half of all hash
    values (a data-dependent landmine, found when a new query hashed every
    doc instead of just the k-th order statistic). The whole sum is
    parenthesized so callers can inline it into larger expressions without
    a trailing operator rebinding to just the last term."""
    return "(" + " + ".join(
        f"({fn}('{HEX}', substr({col}, {start + i}, 1)) - 1) * "
        f"CAST({16 ** (nd - 1 - i)} AS BIGINT)"
        for i in range(nd)
    ) + ")"


# ---------------------------------------------------------------------------
# 3-word shingles.
# ---------------------------------------------------------------------------
# DuckDB twin of ``shingles``: distinct 3-word shingles per doc.
SHINGLE_SQL = """
toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), idx AS (
    SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM toks
), sh AS (
    SELECT DISTINCT doc_id,
           t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
    FROM idx
)"""


def trigrams(toks: Column) -> Column:
    """Every 3-word window of a token array, in order and with
    multiplicity; wrap in ``array_distinct`` for per-doc distinct
    shingles.

    The array is never empty (``sequence(0, >= 0)`` yields >= 1 index), so
    explode and explode_outer agree on it. Docs with fewer than 3 tokens
    yield one degenerate short window: drop it with ``is_trigram`` as a
    row filter after the explode."""
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - 3, F.lit(0))),
        lambda i: F.concat_ws(
            " ",
            F.try_element_at(toks, i + 1),
            F.try_element_at(toks, i + 2),
            F.try_element_at(toks, i + 3),
        ),
    )


def is_trigram(col: str | Column) -> Column:
    """The window really has 3 words — a row filter after the explode, or
    an array-filter predicate over ``trigrams``."""
    return F.size(F.split(col, " ")) == 3


def shingles(d: DataFrame) -> DataFrame:
    """Distinct 3-word shingles per doc: (doc_id, shingle). The candidate
    space of the whole near-dup family (n-gram Jaccard, MinHash-LSH,
    containment, the LSH tuning curve and their streaming twins)."""
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    return toks.select(
        "doc_id",
        F.explode(F.array_distinct(trigrams(F.col("t")))).alias("shingle"),
    ).filter(is_trigram("shingle"))


def shingles_sized(d: DataFrame) -> DataFrame:
    """``shingles`` plus a MAP-SIDE per-doc distinct-shingle count:
    (doc_id, n_sh BIGINT, shingle).

    The exact pair-scoring queries (ngram-jaccard, containment) need each
    side's set size next to every intersection row. Computing it here —
    ``size()`` of the same distinct array the explode consumes, one narrow
    projection, zero shuffles — lets those queries GROUP the pair join by
    (doc_a, doc_b, n_a, n_b) directly and drop the whole ``sizes`` branch
    they used to carry: a per-doc groupBy shuffle of the shingle frame plus
    TWO shuffle joins of the pair frame (the largest intermediate in either
    query) against it. n_sh is functionally determined by doc_id, so the
    wider grouping key changes no groups; the 8-byte column rides a shuffle
    that already carries the ~20-byte shingle string. Same construction as
    ``shingles``, so the candidate space is bit-identical.

    SHAPE MATTERS (two measured dead ends, both row-identical):
    (1) The array must be projected as a NAMED COLUMN in its own step so
    it evaluates ONCE — putting ``size(arr_expr)`` and
    ``explode(arr_expr)`` as siblings in one projection evaluates the
    expression twice (Project and Generate are different operators, no
    cross-operator CSE): hidden at sf0.1 (~0.6 s derivation) but ~2x the
    whole query at x30. (2) The generator must be ``explode_outer``, not
    ``explode`` — InferFiltersFromGenerate skips outer generators, while
    plain explode over a named column made Catalyst infer a non-empty
    filter and predicate-pushdown substitute the WHOLE array
    construction below the loader's spread repartition onto the
    single-task parquet scan (sf0.1: 3.8 s vs 0.65 s). outer == inner
    here because the array is never empty; degenerate short shingles from
    tiny docs are dropped by the post-explode row filter.
    n_sh = size(arr) is exact for every SURVIVING row: docs with >= 3
    tokens generate only valid 3-token shingles (the index sequence
    stops at size-3), and shorter docs' rows are all dropped, so their
    n_sh never surfaces.
    """
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    step = toks.select("doc_id", F.array_distinct(trigrams(F.col("t"))).alias("shs"))
    return step.select(
        "doc_id",
        F.size("shs").cast("bigint").alias("n_sh"),
        F.explode_outer("shs").alias("shingle"),
    ).filter(is_trigram("shingle"))


# ---------------------------------------------------------------------------
# MinHash-LSH: shingle -> K minhashes -> B bands of R rows -> band buckets.
# ---------------------------------------------------------------------------
MINHASH_K, MINHASH_B, MINHASH_R = 12, 4, 3


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """Checkpointed (doc_id, h0..h{K-1}) MinHash signatures of a
    (doc_id, shingle) frame: hash i is min(md5('i:' || shingle)).

    One row per doc, far smaller than the shingles it folds, and read by
    every band consumer (both sides of a band self-join, or every LSH
    config of a tuning curve), so it is materialized once: without it the
    shingle explode + K-way min-agg runs once per consumer."""
    return (
        sh.groupBy("doc_id")
        .agg(
            *[
                F.min(
                    F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))
                ).alias(f"h{i}")
                for i in range(MINHASH_K)
            ]
        )
        .localCheckpoint()
    )


def minhash_bands(sh: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) LSH band keys from a shingle frame — the
    shared construction for the batch query and the streaming-incremental
    twin (`streaming.incremental.incremental_minhash_pairs`)."""
    mh = minhash_signatures(sh)
    return mh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.md5(
                            F.concat(
                                *[F.col(f"h{MINHASH_R * j + k}") for k in range(MINHASH_R)]
                            )
                        ).alias("bucket"),
                    )
                    for j in range(MINHASH_B)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def minhash_candidates(sh: DataFrame) -> DataFrame:
    """Checkpointed LSH band-collision candidate pairs
    (doc_a, doc_b, shared_bands) from a shingle frame.

    Downstream scorers that only need the CANDIDATE PAIR SET —
    ``llm_dedup_containment_lsh`` scores containment over exactly these
    pairs — stop at the band self-join instead of paying the full
    minhash query's exact-Jaccard verify just to throw the scores away.
    The verify never filters a pair (its inter join is LEFT and the size
    joins hit every candidate doc, which by construction has shingles),
    so the pair set out of the full query is bit-identical to this one.
    """
    bands = minhash_bands(sh)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared_bands"))
        # LSH-recall-sized (tiny vs corpus); feeds the verify join AND the
        # final score join — materialize so the band self-join runs once.
        .localCheckpoint()
    )


def minhash_verify(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of LSH candidate pairs against a
    shingle frame; returns the final (doc_a, doc_b, shared_bands,
    inter_ct, jaccard_permille) columns. Shared by the batch query and
    the streaming-incremental twin.

    The verify touches only candidate docs: semi-join prune the shingle
    frame BEFORE the intersection join (same pattern as containment-LSH),
    then materialize the pruned shingles — sizes and both intersection
    sides read the pruned frame, so the corpus is never re-scanned."""
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_cand = sh.join(cand_ids, "doc_id", "left_semi").localCheckpoint()
    sizes = sh_cand.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa, sb2 = sh_cand.alias("sa"), sh_cand.alias("sb")
    inter = (
        cand.select("doc_a", "doc_b")
        .join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(
            sb2,
            (F.col("sb.doc_id") == F.col("doc_b"))
            & (F.col("sb.shingle") == F.col("sa.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter_ct"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared_bands",
            F.coalesce("inter_ct", F.lit(0)).alias("inter_ct"),
            F.expr(
                "(1000 * coalesce(inter_ct, 0))"
                " div (na + nb - coalesce(inter_ct, 0))"
            ).alias("jaccard_permille"),
        )
    )
