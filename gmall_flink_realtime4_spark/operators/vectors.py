"""Exact-decimal embedding kernels: the one quantization ladder and the
dot/cosine folds built on it.

Every embedding query (brute-force cosine, IVF, PQ, near-dup, the corpus
and pipeline vector queries) and the PQ int-space core import these, so
engine and DuckDB oracle see one arithmetic. A second copy could silently
diverge from ``VEC_DEC`` and break the bit-identical-to-oracle guarantee.

Embedding components are < 1 in magnitude (normalized-ish vectors). Cast
float -> DOUBLE first (Spark's float->decimal goes through the FLOAT's
shortest decimal repr; DuckDB uses the exact binary value — double-first
makes both engines see the same value), then DECIMAL(9,7): products stay
within (19,14), 64-element sums within (38,14) and the scaled integer sum
stays under 2^53 so decimal->double is one exactly-rounded step. Exact,
order-independent arithmetic on both engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F

VEC_DEC = "decimal(9,7)"
VEC_ACC = "decimal(38,14)"


def dot(a, b):
    """Exact decimal dot product of two float arrays (JVM-side
    zip_with + aggregate, no Python)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: x.cast("double").cast(VEC_DEC)
            * y.cast("double").cast(VEC_DEC),
        ),
        F.lit(0).cast(VEC_ACC),
        lambda acc, x: (acc + x).cast(VEC_ACC),
    )


def dec7(x):
    """The shared element quantization ladder: double -> DECIMAL(9,7)."""
    return x.cast("double").cast(VEC_DEC)


def qdec(arr):
    """Quantize a float array ONCE into the shared decimal ladder —
    pair-scoring sites attach this per SIDE-ROW so the expensive
    double->BigDecimal casts run once per vector, not once per pair."""
    return F.transform(arr, dec7)


def dot_q(a, b):
    """``dot`` over two ALREADY-``qdec``-quantized arrays: one multiply
    + one accumulate per element (the inline form re-casts both operands
    double->BigDecimal per element, per pair). Identical decimal values —
    only the redundant re-quantization is hoisted to once per side-row."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast(VEC_ACC),
        lambda acc, x: (acc + x).cast(VEC_ACC),
    )


def dot_dbl(a, b):
    """Plain-double twin of the exact-decimal ``dot`` — the cheap
    PRE-SCORE for prerank/prefilter passes: no BigDecimal allocation per
    element, so it is ~10-30x faster through the interpreted higher-order
    fold. Never emitted: every surviving row is re-scored with ``dot``
    before any output or ranking decision (see ``PRESCORE_MARGIN_E9``)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# |cos_e9(decimal) - cos_e9(double)| bound: DECIMAL(9,7) quantization
# perturbs each element by <= 5e-8, so a D-dim dot moves by
# <= D * (2*max|x|*5e-8) ~ 6.4e-6 for D=64, |x| <= 1 — i.e. <= ~6.4e3
# e9-units for unit-norm vectors (double fold rounding is 1e-7 e9-units,
# negligible). When the pre-score also uses DOUBLE norms (all-double
# stage 1), the norm quantization adds another <= ~1.3e-5 relative —
# total <= ~2e4 e9-units. 1e7 (0.01 cosine) is still a ~500x safety
# factor; candidates inside the margin are decimal-rescored, so the
# margin only affects COST (a slightly larger rescore set), never
# correctness.
PRESCORE_MARGIN_E9 = 10_000_000


def cos_e9(dot, n2a, n2b):
    """e9-scaled cosine from a dot product and the two squared norms.

    nullif-guards the norm product: a zero-norm vector would otherwise
    raise DIVIDE_BY_ZERO under Spark 4's default ANSI mode, while the
    DuckDB oracle yields NULL and drops the row at the threshold filter —
    NULL here reproduces the oracle's behavior on both engines."""
    return (
        F.floor(
            F.lit(1000000000.0)
            * dot.cast("double")
            / F.nullif(
                F.sqrt(n2a.cast("double") * n2b.cast("double")), F.lit(0.0)
            )
        ).cast("bigint")
    )
