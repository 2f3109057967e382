"""Round-7 extensions: five operator families a 100 TB analytics/training
platform runs that the registry did not yet cover.

- ``f_skyline_pareto_suppliers`` — the skyline (Pareto-frontier) operator
  (Borzsonyi/Kossmann/Stocker, ICDE'01): suppliers not dominated on the
  (revenue, quantity) plane. Implemented as the 2-D sort-filter skyline:
  one keyed agg, then a prefix-max over the DISTINCT-revenue frame — no
  O(N^2) self-join on the big side (that stays in the DuckDB oracle,
  where NOT EXISTS is the readable spec).
- ``dws_event_cooccurrence_lift`` — market-basket affinity (support /
  confidence / lift) between event types co-occurring in a (user, day)
  basket. The pair space is generated MAP-SIDE from each basket's sorted
  type-set array (<= C(T,2) pairs per basket for T distinct event types),
  never via a basket self-join shuffle.
- ``llm_text_readability`` — ARI-style readability per document in exact
  integer centi-grade arithmetic (no floats, no transcendentals), the
  quality-scoring sibling every corpus filter stacks next to langid and
  repetition.
- ``llm_sample_reservoir`` — uniform k-of-N corpus sample as a
  deterministic md5-rank top-K (equivalent to one reservoir pass, but
  order/partitioning-invariant), executed as salted partial top-K ->
  final top-K over the <= SALT*K survivor frame so no single reducer
  ever sees the corpus.
- ``llm_embedding_pca_power_step`` — one power-iteration step v1 = S·v0
  (v0 = ones) against the scatter matrix S = N·X'X − s·s' WITHOUT
  materializing any D×D matrix: the algebraic collapse
  (S·1)_j = N·Σ_n x_nj·r_n − s_j·T (r_n = row sum, T = Σ s) turns the
  matvec into one map-side row-sum pass + one D-group aggregate. The
  iterative-linear-algebra sibling of llm_embedding_kmeans_step.

Determinism (catalog.py contract): money/measures are exact DECIMAL
inside aggregation and DOUBLE at the boundary; ratios are integer
per-mille with non-negative operands at every `div`; the one
possibly-negative quantity (ARI score, the power-step components) is
never divided — grade banding CASEs to a non-negative branch first and
the power step floors exact decimals.

Reference scope: the reference engine (gmall-flink-realtime4) has no
skyline/affinity/readability/sampling/linear-algebra surface — these
extend the LLM-pipeline + OLAP families the build brief names as
first-class alongside SURVEY.md §2.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .. import tables as T
from ..operators.text import hexval_sql
from ..operators.topk import two_phase_topk
from ..operators.vectors import VEC_DEC
from ..tables import MONEY
from .catalog import query

# ---------------------------------------------------------------------------
# f_skyline_pareto_suppliers — 2-D skyline over per-supplier aggregates.
#
# Dominance: q dominates p iff q.rev >= p.rev AND q.qty >= p.qty with at
# least one strict. 2-D collapse: p survives iff (a) no strictly-higher
# revenue class reaches p's quantity (prefix max over the distinct-rev
# frame, descending) and (b) p holds the max quantity within its own
# revenue class. Equal (rev, qty) points all survive — matching the NOT
# EXISTS spec exactly.
#
# Scale: the per-supplier agg is the only corpus shuffle (map-combined,
# keyed on l_suppkey). The distinct-revenue frame is <= |supplier| rows
# (dim-sized by construction), so its unpartitioned prefix-max Window and
# its broadcast join-back are bounded — same discipline as the
# heavy-hitters head (plan guard pins the broadcast + the single big-side
# Exchange).
# ---------------------------------------------------------------------------


_SKYLINE_AGG_SQL = """
agg AS (
    SELECT l_suppkey AS s_suppkey,
           SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2))
                  - CAST(l_discount AS DECIMAL(18,2)))) AS rev,
           SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
    FROM lineitem GROUP BY 1
)"""


@query(
    "f_skyline_pareto_suppliers",
    oracle=f"""
WITH {_SKYLINE_AGG_SQL.lstrip()}
SELECT a.s_suppkey, s.s_name,
       CAST(a.rev AS DOUBLE) AS revenue,
       CAST(a.qty AS DOUBLE) AS total_qty
FROM agg a JOIN supplier s ON a.s_suppkey = s.s_suppkey
WHERE NOT EXISTS (
    SELECT 1 FROM agg q
    WHERE q.rev >= a.rev AND q.qty >= a.qty
      AND (q.rev > a.rev OR q.qty > a.qty)
)
""",
    tags=("olap", "skyline"),
)
def f_skyline_pareto_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal suppliers on (total revenue, total quantity): the
    skyline operator. A supplier is reported iff no other supplier is at
    least as good on both measures and strictly better on one.

    Scale shape: one map-combined agg keyed on l_suppkey (the only
    corpus-wide shuffle); the skyline itself runs on the DISTINCT-revenue
    frame (<= |supplier| rows, dim-sized) — prefix max of quantity in
    descending-revenue order — and joins back by broadcast. The oracle's
    quadratic NOT EXISTS is the spec, not the plan; the sort-filter
    collapse is exactly equivalent in 2-D (test_skyline_matches_quadratic
    pins it on random frontiers).
    """
    li = T.load(spark, sf_dir, "lineitem", spread=False)
    sup = T.load(spark, sf_dir, "supplier", spread=False).select("s_suppkey", "s_name")
    agg = li.groupBy(F.col("l_suppkey").alias("s_suppkey")).agg(
        F.sum(
            F.col("l_extendedprice").cast(MONEY)
            * (F.lit(1).cast(MONEY) - F.col("l_discount").cast(MONEY))
        ).alias("rev"),
        F.sum(F.col("l_quantity").cast(MONEY)).alias("qty"),
    )
    sky = pareto_frontier_2d(agg)
    return sky.join(F.broadcast(sup), "s_suppkey").select(
        "s_suppkey",
        "s_name",
        F.col("rev").cast("double").alias("revenue"),
        F.col("qty").cast("double").alias("total_qty"),
    )


def pareto_frontier_2d(pts: DataFrame) -> DataFrame:
    """2-D skyline core over any frame with ``rev``/``qty`` maximize
    columns (other columns ride along): keep rows not dominated under
    (>=, >=, one strict). Split out so the property test can drive random
    point sets against a quadratic python model.

    ``pts`` has TWO consumers here (the rev-class fold and the join-back)
    and is dim-bounded by contract while deriving from a corpus-sized
    aggregation, so it is localCheckpoint'ed (CLAUDE.md checkpoint rule):
    without it the whole upstream agg ran twice — the r13 before-plan
    scanned + aggregated lineitem once per consumer (Exchange 4 AND 9).
    Lazy: the frontier's broadcast build materializes it in-job."""
    pts = pts.localCheckpoint(eager=False)
    byrev = pts.groupBy("rev").agg(F.max("qty").alias("mq"))
    # prefix max over STRICTLY higher revenue classes: byrev has one row
    # per distinct revenue, so rows strictly preceding in desc order are
    # exactly the higher classes. Unpartitioned Window over a dim-bounded
    # aggregated frame (<= |supplier| rows) — documented bounded-frame use.
    whi = Window.orderBy(F.col("rev").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    frontier = byrev.withColumn("hi", F.max("mq").over(whi))
    return (
        pts.join(F.broadcast(frontier), "rev")
        .filter(
            (F.col("hi").isNull() | (F.col("hi") < F.col("qty")))
            & (F.col("mq") <= F.col("qty"))
        )
        .drop("hi", "mq")
    )


# ---------------------------------------------------------------------------
# dws_event_cooccurrence_lift — market-basket support/confidence/lift.
#
# Basket = (user_id, day); items = the distinct event types seen in it.
# BIGINT audit: lift_pm = (1000 * n_ab * n_baskets) div (n_a * n_b) with
# n_ab <= n_baskets, so the numerator is <= 1000 * N^2 — safe to
# N ~ 3e9 baskets (9e18 < 2^63-1); the shipped corpus is ~1e4.
# ---------------------------------------------------------------------------


@query(
    "dws_event_cooccurrence_lift",
    oracle="""
WITH ut AS (
    SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day, event_type
    FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
), b AS (
    SELECT user_id, day FROM ut GROUP BY 1, 2
), n AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_baskets FROM b
), tc AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t FROM ut GROUP BY 1
), p AS (
    SELECT a.event_type AS type_a, c.event_type AS type_b,
           CAST(COUNT(*) AS BIGINT) AS n_ab
    FROM ut a
    JOIN ut c ON a.user_id = c.user_id AND a.day = c.day
             AND a.event_type < c.event_type
    GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_ab,
       ta.n_t AS n_a, tb.n_t AS n_b, n.n_baskets,
       CAST((1000 * p.n_ab) // n.n_baskets AS BIGINT) AS support_pm,
       CAST((1000 * p.n_ab * n.n_baskets) // (ta.n_t * tb.n_t) AS BIGINT)
           AS lift_pm
FROM p
JOIN tc ta ON ta.event_type = p.type_a
JOIN tc tb ON tb.event_type = p.type_b, n
""",
    tags=("dws", "analytics"),
)
def dws_event_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support / lift between event-type pairs co-occurring in the same
    (user, day) basket — the market-basket affinity report behind
    "users who search also purchase" product questions. lift_pm > 1000
    means positive association.

    Scale shape: events collapse ONCE to the distinct (user, day, type)
    frame (checkpointed: it feeds the type marginals, the basket arrays,
    and the basket count). Pairs are generated MAP-SIDE by exploding each
    basket's sorted type-set array into its <= C(T,2) combinations (T =
    |event types|, a small constant) — never a basket self-join, so no
    shuffle ever carries more than the collapsed frame. Marginals and the
    basket count broadcast back onto the tiny pair-count frame.
    """
    e = T.load(spark, sf_dir, "events", spread=False)
    ut = (
        e.filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "user_id",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .distinct()
        .localCheckpoint()
    )
    return cooccurrence_lift(ut)


def cooccurrence_lift(ut: DataFrame) -> DataFrame:
    """Affinity core over any distinct (user_id, day, event_type) frame —
    split out so the python-model test can drive synthetic baskets."""
    tc = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_t")
    )
    baskets = ut.groupBy("user_id", "day").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    nb = baskets.agg(F.count(F.lit(1)).cast("bigint").alias("n_baskets"))
    ts = F.col("types")
    pair_arr = F.flatten(
        F.transform(
            ts,
            lambda x, i: F.transform(
                # slice start is 1-based: element i (0-based) pairs with
                # everything from 1-based position i+2 onward; slice
                # clamps at the array end, so the last element yields []
                F.slice(ts, i + F.lit(2), F.size(ts)),
                lambda y: F.struct(x.alias("type_a"), y.alias("type_b")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_arr).alias("p"))
        .select("p.*")
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    ta = tc.select(F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a"))
    tb = tc.select(F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b"))
    return (
        pairs.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            "n_a",
            "n_b",
            "n_baskets",
            F.expr("CAST((1000 * n_ab) div n_baskets AS BIGINT)").alias(
                "support_pm"
            ),
            F.expr(
                "CAST((1000 * n_ab * n_baskets) div (n_a * n_b) AS BIGINT)"
            ).alias("lift_pm"),
        )
    )


# ---------------------------------------------------------------------------
# llm_text_readability — ARI-style integer readability score.
#
# Automated Readability Index: 4.71*(chars/words) + 0.5*(words/sentences)
# - 21.43, kept exact as centi-grades: 471*chars div words + 50*words div
# sents - 2143. Every div has non-negative operands (chars/words/sents
# are counts, guarded >= 1); the final score CAN go negative (trivial
# texts), which is safe because it is never divided — the grade band
# CASEs the negative branch to 0 before its div (catalog sign rule).
# ---------------------------------------------------------------------------


@query(
    "llm_text_readability",
    oracle="""
WITH m AS (
    SELECT doc_id,
           CAST(GREATEST(len(string_split(text, ' ')), 1) AS BIGINT)
               AS n_words,
           CAST(GREATEST(length(text) - length(translate(text, '.!?', '')),
                         1) AS BIGINT) AS n_sents,
           CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_letters
    FROM documents
), s AS (
    SELECT doc_id, n_words, n_sents, n_letters,
           CAST((471 * n_letters) // n_words + (50 * n_words) // n_sents
                - 2143 AS BIGINT) AS ari_c100
    FROM m
)
SELECT doc_id, n_words, n_sents, n_letters, ari_c100,
       CAST(CASE WHEN ari_c100 < 0 THEN 0
                 ELSE LEAST(ari_c100 // 100, 14) END AS BIGINT) AS grade_band
FROM s
""",
    tags=("llm-text",),
)
def llm_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document ARI readability in exact integer centi-grades, plus
    the 0..14 grade band a corpus-quality filter thresholds on. Stacks
    with langid/quality_score/repetition as the fourth text-quality
    signal (readability-targeted corpus mixes are standard pretraining
    practice).

    Scale shape: pure map-side codegen over one pruned scan (three string
    expressions per row, no shuffle at all — the plan is scan->project).
    translate() deletes unmatched chars in both engines (Postgres
    semantics), so sentence counting is the same length difference on
    both sides; no floats, no transcendentals.
    """
    return readability(T.load(spark, sf_dir, "documents"))


def readability(d: DataFrame) -> DataFrame:
    """ARI core over any (doc_id, text) frame — split out so the exact
    python model drives hand-built edge-case texts."""
    m = d.select(
        "doc_id",
        F.expr(
            "CAST(GREATEST(size(split(text, ' ')), 1) AS BIGINT)"
        ).alias("n_words"),
        F.expr(
            "CAST(GREATEST(length(text) - length(translate(text, '.!?', '')),"
            " 1) AS BIGINT)"
        ).alias("n_sents"),
        F.expr("CAST(length(replace(text, ' ', '')) AS BIGINT)").alias(
            "n_letters"
        ),
    )
    s = m.withColumn(
        "ari_c100",
        F.expr(
            "CAST((471 * n_letters) div n_words + (50 * n_words) div n_sents"
            " - 2143 AS BIGINT)"
        ),
    )
    return s.select(
        "doc_id",
        "n_words",
        "n_sents",
        "n_letters",
        "ari_c100",
        F.expr(
            "CAST(CASE WHEN ari_c100 < 0 THEN 0"
            " ELSE LEAST(ari_c100 div 100, 14) END AS BIGINT)"
        ).alias("grade_band"),
    )


# ---------------------------------------------------------------------------
# llm_sample_reservoir — deterministic uniform k-of-N sample.
#
# A reservoir sample's contract is "uniform k of N, one pass"; the
# deterministic equivalent is "top-k by a uniform hash of the key" —
# identical distribution over the md5 random oracle, but reproducible
# across engines, retries, and re-partitioning (sibling of
# llm_sample_stratified's keep-decision and llm_sample_pps's weighted
# points; this is the UNWEIGHTED corpus-level member of the family).
# ---------------------------------------------------------------------------
RES_K = 200
RES_SALT = 32


@query(
    "llm_sample_reservoir",
    oracle=f"""
WITH h AS (
    SELECT doc_id, source,
           {hexval_sql("md5(CAST(doc_id AS VARCHAR))", "strpos")} AS u
    FROM documents
), r AS (
    SELECT doc_id, source, u,
           row_number() OVER (ORDER BY u, doc_id) AS rnk
    FROM h
)
SELECT CAST(rnk AS BIGINT) AS rnk, doc_id, u, source
FROM r WHERE rnk <= {RES_K}
""",
    tags=("llm-text", "sampling"),
)
def llm_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform 200-document (RES_K) corpus sample: rank every document by
    the 48-bit integer value of its md5(doc_id) prefix (tie-break doc_id
    — a total order) and keep the first 200.

    Scale shape: two-phase top-K — phase 1 keeps a per-salt (32-way,
    doc_id mod RES_SALT) top-200 so every partition-ish slice reduces
    independently; phase 2 ranks only the <= 32*200 survivors (bounded
    frame, the documented unpartitioned-Window exception). No global sort
    of the corpus ever runs — the oracle's single ORDER BY is the spec,
    and phase-1 pruning is exact because a global top-K row is
    necessarily in its own salt's top-K
    (test_reservoir_two_phase_equals_global pins it).
    """
    return reservoir_sample(T.load(spark, sf_dir, "documents", spread=False))


def reservoir_sample(
    d: DataFrame, k: int = RES_K, salt: int = RES_SALT
) -> DataFrame:
    """Deterministic md5-rank top-k over any (doc_id, source) frame (the
    operators.topk two-phase rank) — split out so the equivalence test can
    prove two-phase == global on synthetic corpora with adversarial salt
    skew."""
    h = d.select(
        "doc_id",
        "source",
        F.md5(F.col("doc_id").cast("string")).alias("hx"),
    ).withColumn("u", F.expr(hexval_sql("hx", "instr")))
    return two_phase_topk(
        h, [], "doc_id", ["u", "doc_id"], k, salt=salt, rank_col="rnk"
    ).select("rnk", "doc_id", "u", "source")


# ---------------------------------------------------------------------------
# llm_embedding_pca_power_step — one scatter-matrix power-iteration step.
#
# S = N·P − s·s'  (P = X'X Gram, s = column sums) is the unnormalized
# scatter matrix: S = N²·Cov, so its dominant eigenvector equals the
# covariance principal direction (positive scale preserved). With
# v0 = ones, (S·v0)_j collapses algebraically:
#   (S·1)_j = N·Σ_i P_ji − s_j·Σ_i s_i = N·Σ_n x_nj·r_n − s_j·T
# where r_n = Σ_i x_ni (row sum) and T = Σ_i s_i — so the matvec needs NO
# D×D materialization: one map-side row-sum pass, one D-group aggregate
# of (x_nj, x_nj·r_n), and a broadcast 1-row (N, T).
#
# Decimal audit (both engines exact): x is decimal(9,7); r_n <= 64 fits
# (12,7) (per-step-cast fold); x·r -> (22,14); the A_j sum is cast to
# (24,14) — exact to A ~ 1e10, i.e. N ~ 1.5e8 rows; s_j -> (16,7) (N to
# 1e9), T -> (21,7) (N to 1.5e12). N(12,0)·A(24,14) -> (37,14) and
# s(16,7)·T(21,7) -> (38,14): both under Spark's 38-precision cap, so no
# engine-divergent rounding anywhere. The boundary is floor() of the
# exact value via one decimal->double conversion (round-to-nearest in
# both engines; floor AFTER the cast per the catalog cast rule).
# ---------------------------------------------------------------------------
_PCA_DIMS = 64


def _pca_oracle() -> str:
    x = f"CAST(CAST(e.embedding[ix.i] AS DOUBLE) AS {VEC_DEC})"
    return f"""
WITH ix AS (
    SELECT unnest(range(1, {_PCA_DIMS + 1})) AS i
), rowsum AS (
    SELECT e.vec_id, CAST(SUM({x}) AS DECIMAL(12,7)) AS r
    FROM embeddings e, ix GROUP BY 1
), g AS (
    SELECT CAST(COUNT(*) AS DECIMAL(12,0)) AS n,
           CAST(SUM(r) AS DECIMAL(21,7)) AS t,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM rowsum
), dim AS (
    SELECT ix.i AS pos,
           CAST(SUM({x} * rs.r) AS DECIMAL(24,14)) AS a,
           CAST(SUM({x}) AS DECIMAL(16,7)) AS s
    FROM embeddings e JOIN rowsum rs ON e.vec_id = rs.vec_id, ix
    GROUP BY 1
)
SELECT CAST(dim.pos AS BIGINT) AS pos,
       g.n_rows AS n,
       CAST(floor(1000000000.0 * CAST(dim.s AS DOUBLE)) AS BIGINT) AS s_e9,
       CAST(floor(1000000000.0 * CAST(dim.a AS DOUBLE)) AS BIGINT) AS a_e9,
       CAST(floor(CAST(g.n * dim.a - dim.s * g.t AS DOUBLE)) AS BIGINT)
           AS v1_floor
FROM dim, g
"""


@query(
    "llm_embedding_pca_power_step",
    oracle=_pca_oracle(),
    tags=("llm-similarity", "linear-algebra", "iterative"),
)
def llm_embedding_pca_power_step(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One power-iteration step toward the principal component of the
    embedding corpus: v1 = S·v0 with v0 = ones against the exact-decimal
    scatter matrix S = N·X'X − s·s' (= N²·Cov — same eigenvectors).
    Output per dimension: the row count, the e9-scaled column sum, the
    e9-scaled Σx·rowsum moment, and the exact v1 component (floored).

    Scale shape: the algebraic collapse (block comment) removes the D×D
    matrix entirely — r_n is computed map-side in the same projection as
    the quantization (no join-back), the only shuffle is the D-group
    (pos) aggregate of two decimal partials (map-combined: D rows per
    partition cross the wire), and (N, T) broadcast back onto the D-row
    result. Further iterations are the same plan with v0 = the previous
    output as a broadcast literal — the llm_embedding_kmeans_step /
    trained-IVF iterative pattern. Compare llm_embedding_covariance,
    which SELLS the full D(D+1)/2 sufficient statistics; this query is
    why the matvec consumer never has to buy them.
    """
    return pca_power_step(T.load(spark, sf_dir, "embeddings"))


def pca_power_step(emb: DataFrame) -> DataFrame:
    """Scatter-matvec core over any (vec_id, embedding) frame — split out
    so the exact-Fraction python model drives synthetic vectors."""
    return pca_assemble(pca_dim_frame(emb))


def pca_dim_partials(emb_batch: DataFrame) -> DataFrame:
    """Mergeable per-batch partials for the power step: the per-dimension
    (n_rows, a, s) sufficient statistics of one embedding slice. Every
    term is row-local (r_n is a within-row sum), so partials re-sum
    losslessly — streaming state is a 64-row decimal table per batch,
    never vectors. Finalize = re-sum by pos + ``pca_assemble``;
    union-of-batches == one-shot pinned by
    test_incremental_pca_partials_merge."""
    return pca_dim_frame(emb_batch)


def pca_finalize(parts: DataFrame) -> DataFrame:
    """Power-step output from accumulated dim partials (decimal sums
    commute and stay in-range: the merged a/s are the same values the
    one-shot aggregate produces)."""
    dim = parts.groupBy("pos").agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum("a").cast("decimal(24,14)").alias("a"),
        F.sum("s").cast("decimal(16,7)").alias("s"),
    )
    return pca_assemble(dim)


def pca_assemble(dim_pre: DataFrame) -> DataFrame:
    """Assemble the report from the D-row dim frame. The frame feeds BOTH
    the output and the (N, T) globals — the globals are DERIVED from it
    (N = any pos's count since posexplode emits every dim per row;
    T = Σ_j s_j = Σ_n r_n exactly, decimal sums commute), so the corpus
    is scanned ONCE; checkpoint the D rows per the ">=2 consumers and
    tiny vs source" rule. (pca_dim_frame stays separate so the plan guard
    can assert the pre-checkpoint pipeline: one scan, one Generate, no
    join-back.)"""
    dim = dim_pre.localCheckpoint()
    g = dim.agg(
        F.max("n_rows").cast("decimal(12,0)").alias("n_dec"),
        F.sum("s").cast("decimal(21,7)").alias("t"),
    )
    return dim.crossJoin(F.broadcast(g)).select(
        "pos",
        F.col("n_rows").alias("n"),
        F.expr(
            "CAST(floor(1000000000.0 * CAST(s AS DOUBLE)) AS BIGINT)"
        ).alias("s_e9"),
        F.expr(
            "CAST(floor(1000000000.0 * CAST(a AS DOUBLE)) AS BIGINT)"
        ).alias("a_e9"),
        F.expr(
            "CAST(floor(CAST(n_dec * a - s * t AS DOUBLE)) AS BIGINT)"
        ).alias("v1_floor"),
    )


def pca_dim_frame(emb: DataFrame) -> DataFrame:
    """Per-dimension exact-decimal partials (n, Σx·rowsum, Σx): the whole
    corpus-touching part of the power step."""
    xq = F.transform(
        F.col("embedding"), lambda v: v.cast("double").cast(VEC_DEC)
    )
    # row sum folded with a per-step cast back to (12,7): each add is
    # (12,7)+(9,7) -> exact, re-cast exact (|r| <= 64 < 1e5)
    rowd = emb.select(
        xq.alias("x"),
        F.aggregate(
            xq,
            F.lit(0).cast("decimal(12,7)"),
            lambda acc, v: (acc + v).cast("decimal(12,7)"),
        ).alias("r"),
    )
    return (
        rowd.select(F.posexplode("x").alias("pos0", "v"), "r")
        .groupBy((F.col("pos0") + 1).cast("bigint").alias("pos"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("v") * F.col("r")).cast("decimal(24,14)").alias("a"),
            F.sum("v").cast("decimal(16,7)").alias("s"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming accumulate-then-finalize twins for the round-7 family (the
# round-6 partials discipline, applied at birth). Each partial is
# mergeable by construction; each union-of-batches == one-shot identity
# is pinned in tests/test_round7_ext.py.
# ---------------------------------------------------------------------------


def skyline_agg_partials(li_batch: DataFrame) -> DataFrame:
    """Per-supplier (rev, qty) DECIMAL partial sums of one lineitem slice
    — plain sum algebra, so streaming state is one row per supplier seen.
    The skyline itself is NOT incremental (a new batch can dominate away
    prior frontier rows), which is exactly why the state is the partial
    AGGREGATE, not the frontier: finalize re-sums and re-runs the
    dim-bounded frontier collapse."""
    return li_batch.groupBy(F.col("l_suppkey").alias("s_suppkey")).agg(
        F.sum(
            F.col("l_extendedprice").cast(MONEY)
            * (F.lit(1).cast(MONEY) - F.col("l_discount").cast(MONEY))
        ).alias("rev"),
        F.sum(F.col("l_quantity").cast(MONEY)).alias("qty"),
    )


def skyline_finalize(parts: DataFrame, sup: DataFrame) -> DataFrame:
    """Skyline report from accumulated supplier partials."""
    agg = parts.groupBy("s_suppkey").agg(
        F.sum("rev").alias("rev"), F.sum("qty").alias("qty")
    )
    return pareto_frontier_2d(agg).join(F.broadcast(sup), "s_suppkey").select(
        "s_suppkey",
        "s_name",
        F.col("rev").cast("double").alias("revenue"),
        F.col("qty").cast("double").alias("total_qty"),
    )


def cooccurrence_ut_partials(events_batch: DataFrame) -> DataFrame:
    """Distinct (user_id, day, event_type) rows of one events slice — the
    basket-membership state. A (user, day) basket can straddle batches
    (the same user fires events in many micro-batches), so the state must
    be membership rows, not per-batch pair counts: finalize re-distincts
    the union (idempotent merge) and re-runs the map-side pair expansion
    on complete baskets."""
    return (
        events_batch.filter(
            F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
        )
        .select(
            "user_id",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .distinct()
    )


def cooccurrence_finalize(parts: DataFrame) -> DataFrame:
    """Affinity report from accumulated membership state."""
    return cooccurrence_lift(parts.distinct().localCheckpoint())


def reservoir_partials(docs_batch: DataFrame, k: int = RES_K) -> DataFrame:
    """Per-batch top-k survivors (doc_id, source, u) by the md5 rank —
    the distributed-reservoir merge property: a global top-k row is
    necessarily in its own batch's top-k, so per-batch survivors are a
    lossless state bounded at k rows per batch. Reuses the salted
    two-phase core, so even a huge batch never funnels through one
    reducer."""
    return reservoir_sample(docs_batch, k=k).select("doc_id", "source", "u")


def reservoir_finalize(parts: DataFrame, k: int = RES_K) -> DataFrame:
    """Final sample: rank the unioned survivor state (≤ k·batches rows)."""
    w = Window.orderBy("u", "doc_id")
    return (
        parts.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select("rnk", "doc_id", "u", "source")
    )
