"""Round-8 extensions.

- ``llm_quality_classifier`` — the learned corpus-quality filter every
  large pretraining pipeline runs after the heuristic stack (the
  C4/CCNet pattern: a linear model trained offline on labeled pages,
  shipped to the cluster as a tiny weights table and scored map-side
  over per-document features). The registry already computes the
  heuristic features (token counts, stopword/distinctness ratios,
  readability); this closes the heuristics -> learned-filter story the
  text-quality family lacked (sibling of llm_text_langid's broadcast
  stopword model and llm_text_readability's banding).

Determinism (catalog.py contract): the model is INTEGER milli-logits, so
the score is one exact BIGINT dot product — no floats, no
transcendentals (a logistic link would need exp(); thresholding the
LINEAR score at 0 is the identical decision boundary, sigmoid being
monotone). Every `div` in the feature block has non-negative operands
(counts); the one negative-capable quantity (ari_c100, and the score
itself) is only ever multiplied/compared, never divided.

Reference scope: the reference engine (gmall-flink-realtime4) has no
learned-filter surface; its closest pattern is the broadcast config
state its TableProcessFunction applies per-row
(realtime-dim/.../DimApp.java's broadcast-connected config stream) —
here the "config" is a 1-row weights frame broadcast into a map-side
score.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .. import tables as T
from .catalog import query

# ---------------------------------------------------------------------------
# llm_quality_classifier — broadcast linear model over per-doc features.
#
# Features (all computed in ONE map-side projection, integer per-mille):
#   n_tokens                   whitespace token count
#   mean_token_len_permille    1000 * non-space chars / tokens
#   stopword_permille          1000 * stopword hits  / tokens
#   distinct_token_permille    1000 * distinct tokens / tokens
#   ari_c100                   ARI readability in centi-grades (can be < 0)
#
# Model: integer milli-logit weights "trained offline" (hand-calibrated
# on the synthetic corpus to a ~50% keep rate so the decision boundary
# is exercised from both sides; a real deployment would overwrite this
# row from its training job's output table). Score:
#
#   score_milli = bias + w_stop*stop + w_dist*dist + w_mtl*mtl
#               + w_ari*ari + w_tok*LEAST(n_tokens, tok_cap)
#   keep_flag   = score_milli >= 0
#
# Overflow audit: |w| <= 40 and every feature is <= 1000 * doc_chars, so
# |score| < 2.5e5 * doc_chars — BIGINT-safe past a 10^13-char document.
# That bound only holds because every `1000 * length(...)`-shaped product
# below promotes the length/size to BIGINT BEFORE the multiply: Spark's
# length()/size() return 32-bit INT, so an uncast product would overflow
# (ANSI error) at ~2.1M non-space chars while DuckDB (BIGINT-native
# length) sailed on — an engine divergence, not just a crash.
#
# Scale shape: scan -> project(features) -> BroadcastNestedLoopJoin
# against the 1-ROW weights frame -> project(score). Zero corpus
# shuffles (the only Exchange is the loader's small-file spread); the
# broadcast side is constant-size by construction (plan guard pins all
# three properties). At 100 TB this is the cheapest possible shape: one
# pruned pass, whole-stage codegen end-to-end, weights replicated once
# per executor.
# ---------------------------------------------------------------------------

QUALITY_MODEL: dict[str, int] = {
    "bias_milli": 1000,
    "w_stop": 40,  # stopword density: the strongest "natural prose" signal
    "w_dist": 6,  # vocabulary distinctness up
    "w_mtl": -1,  # very long mean tokens (code/garbage) down
    "w_ari": -1,  # unreadably high grade level down
    "w_tok": 20,  # reward length up to tok_cap
    "tok_cap": 512,
}

_STOP = "('the', 'a', 'of', 'to', 'and')"

FEATURES_SQL = f"""
f AS (
    SELECT doc_id, lang,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST((1000 * CAST(length(replace(text, ' ', '')) AS BIGINT))
                // greatest(len(toks), 1) AS BIGINT)
               AS mean_token_len_permille,
           CAST((1000 * CAST(len(list_filter(toks, x -> x IN {_STOP}))
                             AS BIGINT))
                // greatest(len(toks), 1) AS BIGINT) AS stopword_permille,
           CAST((1000 * CAST(len(list_distinct(toks)) AS BIGINT))
                // greatest(len(toks), 1) AS BIGINT)
               AS distinct_token_permille,
           CAST((471 * CAST(length(replace(text, ' ', '')) AS BIGINT))
                    // greatest(len(toks), 1)
                + (50 * CAST(len(toks) AS BIGINT))
                    // greatest(length(text)
                                - length(translate(text, '.!?', '')), 1)
                - 2143 AS BIGINT) AS ari_c100
    FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS toks
          FROM documents)
)"""

_MODEL_SQL = """
m AS (
    SELECT {bias_milli} AS bias_milli, {w_stop} AS w_stop,
           {w_dist} AS w_dist, {w_mtl} AS w_mtl, {w_ari} AS w_ari,
           {w_tok} AS w_tok, {tok_cap} AS tok_cap
)""".format(**QUALITY_MODEL)


@query(
    "llm_quality_classifier",
    oracle=f"""
WITH {FEATURES_SQL.lstrip()}, {_MODEL_SQL.lstrip()}
SELECT doc_id, n_tokens, mean_token_len_permille, stopword_permille,
       distinct_token_permille, ari_c100,
       CAST(bias_milli
            + w_stop * stopword_permille
            + w_dist * distinct_token_permille
            + w_mtl * mean_token_len_permille
            + w_ari * ari_c100
            + w_tok * LEAST(n_tokens, tok_cap) AS BIGINT) AS score_milli,
       CAST(CASE WHEN bias_milli
                      + w_stop * stopword_permille
                      + w_dist * distinct_token_permille
                      + w_mtl * mean_token_len_permille
                      + w_ari * ari_c100
                      + w_tok * LEAST(n_tokens, tok_cap) >= 0
                 THEN 1 ELSE 0 END AS BIGINT) AS keep_flag
FROM f CROSS JOIN m
""",
    tags=("llm-text", "quality"),
)
def llm_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned corpus-quality filter: a broadcast 1-row linear model
    (integer milli-logit weights) scored map-side over the per-document
    heuristic features — the C4/CCNet-style classifier stage that sits
    after langid/readability in every pretraining data pipeline.
    Thresholding the linear score at 0 is exactly the logistic
    decision (sigmoid is monotone), so no transcendental ever runs.

    Scale shape: one pruned scan -> feature projection ->
    BroadcastNestedLoopJoin with the constant 1-row weights frame ->
    score projection. Zero corpus shuffles; whole-stage codegen
    end-to-end (plan guard pins it).
    """
    d = T.load(spark, sf_dir, "documents")
    return quality_classify(
        quality_features(d), quality_model_frame(spark)
    )


def quality_model_frame(spark: SparkSession) -> DataFrame:
    """The weights as a 1-row frame — the shape a training job's output
    table would have; the query broadcasts it (never the corpus)."""
    cols = list(QUALITY_MODEL)
    return spark.createDataFrame(
        [tuple(QUALITY_MODEL[c] for c in cols)], schema=cols
    ).select(*[F.col(c).cast("bigint").alias(c) for c in cols])


def quality_features(d: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Per-document integer feature block over any (doc_id, text) frame —
    one map-side projection, split out so the exact python model drives
    hand-built edge-case texts. ``carry`` passes extra input columns
    through untouched (the train step carries the ``lang`` label; the
    classifier carries nothing, so its plan is byte-identical)."""
    return d.select(
        "doc_id",
        *[F.col(c) for c in carry],
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("n_tokens"),
        F.expr(
            "CAST((1000 * CAST(length(replace(text, ' ', '')) AS BIGINT))"
            " div greatest(size(split(text, ' ')), 1) AS BIGINT)"
        ).alias("mean_token_len_permille"),
        F.expr(
            "CAST((1000 * CAST(size(filter(split(text, ' '),"
            f" x -> x IN {_STOP})) AS BIGINT))"
            " div greatest(size(split(text, ' ')), 1) AS BIGINT)"
        ).alias("stopword_permille"),
        F.expr(
            "CAST((1000 * CAST(size(array_distinct(split(text, ' ')))"
            " AS BIGINT))"
            " div greatest(size(split(text, ' ')), 1) AS BIGINT)"
        ).alias("distinct_token_permille"),
        F.expr(
            "CAST((471 * CAST(length(replace(text, ' ', '')) AS BIGINT))"
            " div greatest(size(split(text, ' ')), 1)"
            " + (50 * CAST(size(split(text, ' ')) AS BIGINT))"
            " div greatest(length(text)"
            " - length(translate(text, '.!?', '')), 1)"
            " - 2143 AS BIGINT)"
        ).alias("ari_c100"),
    )


def quality_classify(feats: DataFrame, model: DataFrame) -> DataFrame:
    """Score features against a (broadcast) 1-row weights frame. Kept a
    pure function of its inputs so the streaming form IS this map (the
    model is constant within a run; per-doc scoring is stateless —
    test_quality_classifier_is_batch_distributive pins it)."""
    score = (
        "bias_milli"
        " + w_stop * stopword_permille"
        " + w_dist * distinct_token_permille"
        " + w_mtl * mean_token_len_permille"
        " + w_ari * ari_c100"
        " + w_tok * LEAST(n_tokens, tok_cap)"
    )
    return feats.crossJoin(F.broadcast(model)).select(
        "doc_id",
        "n_tokens",
        "mean_token_len_permille",
        "stopword_permille",
        "distinct_token_permille",
        "ari_c100",
        F.expr(f"CAST({score} AS BIGINT)").alias("score_milli"),
        F.expr(
            f"CAST(CASE WHEN {score} >= 0 THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("keep_flag"),
    )
