"""Round-9 extensions.

- ``llm_quality_train_step`` — the TRAINING half of the round-8 learned
  quality filter, completing the train/apply symmetry the BPE family has
  (``llm_bpe_train_merges`` / ``llm_bpe_encode_corpus``): one distributed
  pass over the corpus computing the linear model's normal-equation
  SUFFICIENT STATISTICS — the upper triangle of X'X plus X'y — over the
  same per-document feature block ``llm_quality_classifier`` scores with.
  Solving the resulting 6x6 system (ridge or plain least squares) is a
  driver-side triviality a real deployment runs offline; the cluster's
  whole job is these 27 exact sums, and they are distributive, so the
  training step costs ONE map-combined pass at any corpus size.

Label: ``y = (lang = 'en')`` — an independent signal carried by the
corpus itself (the fastText-style weak label), NOT derived from the
scored features, so the normal equations are a genuine regression of
label on features.

Determinism (catalog.py contract): features are exact BIGINTs (the r8
block); the design matrix is cast to DECIMAL(18,0) ONCE, so every
product is DECIMAL(37,0)-exact and every sum DECIMAL(38,0)-exact on both
engines — no float ever enters the aggregation. The boundary cast to
DOUBLE is exact below 2^53 (sf0.1 x30 sums reach ~1e11) and correctly
rounded beyond. No division anywhere (ari_c100 and y products may be
negative — they are only summed, per the div-sign invariant).

Reference scope: the reference engine (gmall-flink-realtime4) has no
training surface; its closest pattern is the windowed multi-measure
reduce (realtime-dws/realtime-dws-trade-sku-order-window/.../
DwsTradeSkuOrderWindow.java:126-128's ReduceFunction folding per-key
measure sums) — here the "measures" are the 27 Gram cells and the
window is the corpus.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .. import tables as T
from .catalog import query
from .round8_ext_queries import FEATURES_SQL, QUALITY_MODEL, quality_features

# ---------------------------------------------------------------------------
# llm_quality_train_step — normal-equation sufficient statistics.
#
# Design vector per document (integer, cast DECIMAL(18,0) once):
#   bias = 1
#   stop = stopword_permille          dist = distinct_token_permille
#   mtl  = mean_token_len_permille    ari  = ari_c100
#   tok  = LEAST(n_tokens, tok_cap)   y    = (lang = 'en')
#
# Output: 27 rows (row_feat, col_feat, sum_prod, n_rows) — the 21
# upper-triangle X'X cells plus the 6 X'y cells (col_feat = 'y').
#
# Scale shape: scan(text, lang) -> feature projection -> ONE ungrouped
# hash aggregate of 28 scalars. Partial aggregation reduces every
# partition to a single 28-number row map-side; the only data crossing
# the wire is #partitions rows into a SinglePartition exchange; the
# 27-row unpivot (stack) runs on the 1-row result. No Expand, no D x D
# frame, no corpus shuffle — the identical topology at 100 TB, which is
# why this is the right training step for a 1000-executor cluster: the
# model solve itself is a 6x6 driver-side afterthought.
# ---------------------------------------------------------------------------

TRAIN_DEC = "DECIMAL(18,0)"
TRAIN_FEATS = ["bias", "stop", "dist", "mtl", "ari", "tok"]
_X_EXPRS = {
    "bias": "1",
    "stop": "stopword_permille",
    "dist": "distinct_token_permille",
    "mtl": "mean_token_len_permille",
    "ari": "ari_c100",
    "tok": f"LEAST(n_tokens, {QUALITY_MODEL['tok_cap']})",
}
TRAIN_LABEL_SQL = "CASE WHEN lang = 'en' THEN 1 ELSE 0 END"
# upper triangle, row-major: (bias,bias), (bias,stop), ... (tok,tok)
TRAIN_PAIRS = [
    (a, b) for i, a in enumerate(TRAIN_FEATS) for b in TRAIN_FEATS[i:]
]

_X_SQL = ",\n           ".join(
    f"CAST({_X_EXPRS[a]} AS {TRAIN_DEC}) AS {a}" for a in TRAIN_FEATS
)
_G_SQL = ",\n           ".join(
    [f"SUM({a} * {b}) AS s_{a}_{b}" for a, b in TRAIN_PAIRS]
    + [f"SUM({a} * y) AS s_{a}_y" for a in TRAIN_FEATS]
    + ["COUNT(*) AS n"]
)
_ARMS_SQL = "\nUNION ALL\n".join(
    f"SELECT '{a}' AS row_feat, '{b}' AS col_feat,"
    f" CAST(s_{a}_{b} AS DOUBLE) AS sum_prod,"
    f" CAST(n AS BIGINT) AS n_rows FROM g"
    for a, b in TRAIN_PAIRS + [(a, "y") for a in TRAIN_FEATS]
)


def quality_train_design(feats: DataFrame) -> DataFrame:
    """Feature block (with ``lang`` carried) -> the decimal design matrix
    plus label: one map-side projection, the single point where DECIMAL
    enters (every downstream product/sum is then exact by construction).
    """
    return feats.select(
        *[F.expr(_X_EXPRS[a]).cast(TRAIN_DEC).alias(a) for a in TRAIN_FEATS],
        F.expr(TRAIN_LABEL_SQL).cast(TRAIN_DEC).alias("y"),
    )


def _gram_aggs() -> list:
    """The 28 aggregate expressions (27 exact-decimal sums + count) —
    shared by the one-shot query and the per-batch streaming partials so
    the two paths cannot drift."""
    return (
        [F.expr(f"SUM({a} * {b})").alias(f"s_{a}_{b}") for a, b in TRAIN_PAIRS]
        + [F.expr(f"SUM({a} * y)").alias(f"s_{a}_y") for a in TRAIN_FEATS]
        + [F.count(F.lit(1)).alias("n")]
    )


def _stack_cells(value_sql: str) -> str:
    """stack() argument list unpivoting the 1-row aggregate into the
    27-cell long form; ``value_sql`` formats each sum column (boundary
    double cast for the query output, raw decimal for partials)."""
    names = TRAIN_PAIRS + [(a, "y") for a in TRAIN_FEATS]
    cols = [f"s_{a}_{b}" if b != "y" else f"s_{a}_y" for a, b in names]
    return ", ".join(
        f"'{a}', '{b}', {value_sql.format(c)}"
        for (a, b), c in zip(names, cols)
    )


def quality_train_gram(x: DataFrame) -> DataFrame:
    """One ungrouped (map-side-combinable) aggregate of the 28 scalars,
    then the 27-row unpivot on the single result row."""
    g = x.agg(*_gram_aggs())
    return g.selectExpr(
        f"stack(27, {_stack_cells('CAST({} AS DOUBLE)')})"
        " AS (row_feat, col_feat, sum_prod)",
        "CAST(n AS BIGINT) AS n_rows",
    )


@query(
    "llm_quality_train_step",
    oracle=f"""
WITH {FEATURES_SQL.lstrip()}, x AS (
    SELECT {_X_SQL},
           CAST({TRAIN_LABEL_SQL} AS {TRAIN_DEC}) AS y
    FROM f
), g AS (
    SELECT {_G_SQL}
    FROM x
)
{_ARMS_SQL}
""",
    tags=("llm-text", "quality", "training"),
)
def llm_quality_train_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normal-equation sufficient statistics (X'X upper triangle + X'y +
    n) for the learned quality filter, over the r8 per-document feature
    block with the corpus's own ``lang = 'en'`` flag as the label — the
    distributed half of training; the 6x6 solve happens offline.

    Scale shape: one pruned (text, lang) scan -> feature projection ->
    ONE ungrouped hash aggregate (map-side combine folds every partition
    to a single 28-number row; only #partitions rows cross the wire) ->
    27-row stack on the 1-row result. Zero corpus shuffles, no Expand,
    exact DECIMAL end-to-end with a DOUBLE boundary (plan guard pins all
    of it).
    """
    d = T.load(spark, sf_dir, "documents")
    feats = quality_features(d, carry=("lang",)).drop("doc_id")
    return quality_train_gram(quality_train_design(feats))


# ---------------------------------------------------------------------------
# Streaming twin — accumulate-then-finalize: sufficient statistics are
# distributive, so the per-batch partial IS the same 28-scalar aggregate
# (kept exact-decimal, no boundary cast); finalize merges by cell.
# ---------------------------------------------------------------------------


def quality_train_partials(docs: DataFrame) -> DataFrame:
    """Per-batch sufficient statistics in long form, sums still exact
    DECIMAL (the boundary double cast happens only at finalize, so batch
    splits can never introduce rounding the one-shot path lacks)."""
    x = quality_train_design(
        quality_features(docs, carry=("lang",)).drop("doc_id")
    )
    g = x.agg(*_gram_aggs())
    return g.selectExpr(
        f"stack(27, {_stack_cells('{}')})"
        " AS (row_feat, col_feat, sum_prod_dec)",
        "CAST(n AS BIGINT) AS n_rows",
    )


def quality_train_finalize(partials: DataFrame) -> DataFrame:
    """Merge accumulated per-batch partials into the one-shot output:
    integer-exact decimal sums merge associatively, then the same DOUBLE
    boundary cast the registered query applies."""
    return partials.groupBy("row_feat", "col_feat").agg(
        F.sum("sum_prod_dec").cast("double").alias("sum_prod"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
    )
