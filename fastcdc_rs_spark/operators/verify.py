"""Candidate-pair verification (SURVEY.md §2.B B9).

Exact Jaccard similarity over the shingle sets of each candidate pair,
in two stages:

1. **Size-ratio prefilter**: J(A,B) <= min(|A|,|B|) / max(|A|,|B|), so
   any pair whose set sizes differ by more than the threshold ratio
   cannot verify. When the candidate stage annotated the pairs with
   ``_sz_a``/``_sz_b`` (operators/lsh.py rides them on the band
   window's shuffle), the prune is a pure row FILTER — zero exchanges.
   Otherwise it falls back to a narrow join of (id, set_size) longs.
   Either way, candidate pairs from hot/star buckets that connect docs
   of very different sizes are dropped *before* any shingle array ships
   through a shuffle. The bound is exact, not probabilistic: no pair
   with J >= threshold is ever pruned, so recall is untouched by
   construction (the 400k-doc single-node parity stays 1.000000).
2. **Array verification** (wide join): the surviving pairs join the
   full shingle sets, ``a`` side first, then ``b``. |A∩B| via
   ``array_intersect`` and |A∪B| derived as |A| + |B| - |A∩B| (the
   arrays are deduplicated sets, so this is exact and saves the
   ``array_union`` pass).

Skew needs no plan of its own. Only the ``a`` side can be hot:
operators/lsh.py caps buckets, so a doc's degree as ``b`` is at most
``bands * (bucket_cap - 1)``, while star pairs from capped buckets all
share ``a = bucket_min``. In the a-first join a hot ``a`` skews only the
narrow side (three-long pair rows), which AQE's skew-join split
(session.py) handles; the joined rows are then exchanged by ``b``,
which spreads them evenly. This replaced a degree-split "hub ladder"
(a count window over ``a``, an eager hub count, broadcast hub
branches and a union): measured as exchange bytes it saved 0.1% at
800k docs (159.3 -> 159.1 MB) and 7% on a constructed hub-heavy input,
while its window, count action and broadcasts cost 7 Spark jobs per
run. Deleting it took the 12k-doc ``pipeline_mixed`` benchmark's median
wall from 5.28 to 3.61 s (ten interleaved runs per side, 4 cores;
BENCH.md, "Verify-stage shuffle bytes").
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

__all__ = ["verify_pairs"]


def verify_pairs(pairs: DataFrame, shingled: DataFrame, threshold: float = 0.8,
                 id_col: str = "doc_id", shingles_col: str = "shingles",
                 *, hub_degree_cap=None, hub_pair_bcast_max=None,
                 hub_bids_bcast_max=None) -> DataFrame:
    """(a, b, jaccard) for pairs with exact Jaccard >= threshold.

    ``shingled`` arrays are treated as SETS: they are deduplicated here
    (per doc, once — row-linear, before any pair join) so the size-based
    union identity and the size-ratio prune stay exact even for callers
    whose arrays contain repeats. The kernel pipeline already emits
    sorted-unique shingles, for which the array_distinct is a no-op scan.

    Lazy: building the result runs no Spark job, and it owns no cache.

    The ``hub_*`` keywords belong to the retired hub ladder; they are
    accepted and ignored so callers written against it keep working.
    """
    shingled = shingled.select(
        F.col(id_col), F.array_distinct(shingles_col).alias(shingles_col)
    )
    # 1e-9 absolute slack: float rounding in t*max must never prune a
    # pair whose real-arithmetic ratio equals t; the few
    # infinitesimally-below-t pairs kept are dropped by the exact
    # verification anyway.
    ratio_keep = (
        F.least("_sz_a", "_sz_b").cast("double")
        >= F.lit(float(threshold)) * F.greatest("_sz_a", "_sz_b").cast("double")
        - F.lit(1e-9)
    )
    has_sz = "_sz_a" in pairs.columns and "_sz_b" in pairs.columns
    if has_sz:
        # the candidate stage (operators/lsh.py) already annotated each
        # pair with the two set sizes off its band window — the prune is
        # a row filter, no exchange at all. Contract: the caller's sizes
        # must be the DISTINCT set sizes (the kernel pipeline emits
        # sorted-unique shingle arrays, so F.size(shingles) qualifies);
        # pairs referencing ids absent from `shingled` are dropped by the
        # inner array joins below exactly as the join prune dropped them.
        if threshold > 0:
            pairs = pairs.where(ratio_keep)
        pairs = pairs.select("a", "b")
    elif threshold > 0:
        # narrow prune: ship two longs per pair, not two arrays.
        # min/max >= threshold is necessary for J >= threshold; pairs
        # with an empty side survive only via the both-empty J=1 case.
        sizes = shingled.select(
            F.col(id_col), F.size(shingles_col).alias("_sz")
        )
        za = sizes.select(F.col(id_col).alias("a"), F.col("_sz").alias("_sz_a"))
        zb = sizes.select(F.col(id_col).alias("b"), F.col("_sz").alias("_sz_b"))
        pairs = (
            pairs.join(za, "a").join(zb, "b")
            .where(ratio_keep)
            .select("a", "b")
        )
    sa = shingled.select(
        F.col(id_col).alias("a"), F.col(shingles_col).alias("_sh_a")
    )
    sb = shingled.select(
        F.col(id_col).alias("b"), F.col(shingles_col).alias("_sh_b")
    )
    joined = pairs.join(sa, "a").join(sb, "b")
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    # the shingle arrays are deduplicated sets: |A ∪ B| = |A| + |B| − |A ∩ B|
    union = F.size("_sh_a") + F.size("_sh_b") - inter
    return (
        joined.withColumn(
            "jaccard",
            F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(1.0)),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
