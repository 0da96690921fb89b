"""Hashed linear text classifier — the fastText-shaped model filter.

Production pipelines distil an expensive quality labeler into a tiny
linear model over hashed token features and run THAT over the corpus
(CCNet/RefinedWeb-style quality filtering). The scoring pass here is
pure Catalyst and row-local:

    score(doc) = bias + Σ_t  w[ hash(t) mod n_buckets ]

with ``w`` a quantized integer weight table (×1000) shipped as ONE
literal array constant in the plan — no join, no shuffle, no Python;
the lookup is ``element_at`` into a literal, which Catalyst evaluates
for free (only COMPUTED arrays re-evaluate per element — the
in-lambda-reference trap — literals don't). Scoring therefore composes
with any scan at zero extra exchanges: the exact property a 100 TB
quality-filter stage needs.

Tokens hash with djb2, the cross-engine parity family: the DuckDB
oracle recomputes every bucket and weight, and the offline trainer
buckets with the same hash, so the table and the scorer agree.
Training lives OFFLINE in ``tools/train_quality.py`` (numpy logistic
regression distilling :func:`..functions.text.quality_score_x1000`);
the committed table is ``quality_weights.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .hashes import djb2_expr
from .text import tokens

DEFAULT_BUCKETS = 4096


def token_buckets(col: Column | str, n_buckets: int = DEFAULT_BUCKETS) -> Column:
    """array<long> of djb2 feature buckets, one per token."""
    return F.transform(
        tokens(col), lambda t: F.pmod(djb2_expr(t), F.lit(n_buckets))
    )


def linear_score(col: Column | str, weights: list[int], bias: int = 0) -> Column:
    """long column: the hashed-linear logit (×1000) of each row's text.

    ``weights`` (len = n_buckets) becomes a single array LITERAL in the
    plan; the fold adds ``weights[bucket]`` per token row-locally. The
    decision rule is ``score >= threshold`` — integer end to end, so
    the DuckDB oracle reproduces it exactly.

    The literal is built with ONE ``F.expr`` call: ``F.lit(list)``
    materializes a py4j Column per element, which for the 4096-bucket
    table costs ~2.6 s of pure driver time PER CALL (measured r7 —
    it was the bulk of quality_model_scores' bench seconds); parsing
    one ``array(...)`` SQL string is milliseconds for the same plan
    literal."""
    w = F.expr(f"array({','.join(str(int(v)) for v in weights)})")
    buckets = token_buckets(col, len(weights))
    return (
        F.aggregate(
            buckets,
            F.lit(bias).cast("long"),
            # element_at is 1-indexed; buckets are 0-based
            lambda acc, b: acc + F.element_at(w, (b + F.lit(1)).cast("int")),
        )
    ).cast("long")


def quality_model_score(col: Column | str) -> Column:
    """logit (×1000) of the committed distilled quality model."""
    from .quality_weights import BIAS_X1000, WEIGHTS_X1000

    return linear_score(col, WEIGHTS_X1000, BIAS_X1000)


def quality_model_label(col: Column | str, threshold: int = 0) -> Column:
    """boolean: does the distilled model call this text high-quality?"""
    return quality_model_score(col) >= F.lit(threshold)
