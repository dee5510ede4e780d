"""Cluster assembly: tier labeling, member scores, representative selection.

Analogs:
  * member score = mean of verified-pair scores touching the member
    (/root/reference/duplicate-detector.py:1989-1997, A4)
  * best pair per member = the highest-scoring edge touching the member
    and its partner (ref _get_member_details :1945-1964, A6) — the
    reviewable "why is this doc in the cluster" evidence, via max_by.
  * representative = arg-max score per group, deterministic tie-break
    (ref :1999, 2012-2016, A5/W1) — a rank-1 window, not a collect.
  * tier per doc = highest-priority tier among its incident evidence
    (exact > near > substring), mirroring the reference's
    detection_method column (ref :2015, 'METADATA'/'ML'/'INTEGRATED').
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TIER_PRIORITY = {"exact": 3, "near": 2, "substring": 1}


def _tier_priority_col(tier):
    return (
        F.when(tier == "exact", 3)
        .when(tier == "near", 2)
        .otherwise(1)
    )


def assemble_clusters(
    components: DataFrame, evidence_pairs: DataFrame
) -> DataFrame:
    """(doc_id, cluster_id) + evidence (id_a, id_b, score, tier)
    -> (doc_id, cluster_id, tier, score, best_match_id, best_score,
        is_representative).

    ``evidence_pairs`` carries one row per detection edge with a ``score``
    (jaccard for near/substring normalized, 1.0 for exact) and ``tier``.
    ``best_match_id``/``best_score`` is the member's strongest incident
    edge (A6, ref :1945-1964; ties broken toward the smaller partner id).
    """
    # both orientations of every edge from ONE scan of the evidence.  A
    # self-union of two projections is rewritten by DataFrame.union's
    # CombineUnions (projections pushed through a union-shaped input such
    # as the pipeline's edges stage), so that cached table was not read
    # and its tier stages were re-planned and re-scanned instead
    ends = F.explode(
        F.array(
            F.struct(F.col("id_a").alias("doc_id"), F.col("id_b").alias("_other")),
            F.struct(F.col("id_b").alias("doc_id"), F.col("id_a").alias("_other")),
        )
    ).alias("_e")
    per_member = (
        evidence_pairs.select(ends, "score", "tier")
        .select("_e.doc_id", "_e._other", "score", "tier")
        .groupBy("doc_id")
        .agg(
            F.avg("score").alias("score"),
            F.max(_tier_priority_col(F.col("tier"))).alias("_tp"),
            # strongest incident edge; ties broken toward the smaller
            # partner id (deterministic under any partitioning).  min_by
            # over (-score, other) rather than max_by over (score, -other):
            # identical ordering, but it never negates the id column, so it
            # works for struct ids too (cfg.id_bits=128)
            F.min_by(
                "_other",
                F.struct((-F.col("score")).alias("s"), F.col("_other").alias("o")),
            ).alias("best_match_id"),
            F.max("score").alias("best_score"),
        )
        .select(
            "doc_id",
            "score",
            "best_match_id",
            "best_score",
            F.when(F.col("_tp") == 3, "exact")
            .when(F.col("_tp") == 2, "near")
            .otherwise("substring")
            .alias("tier"),
        )
    )
    joined = components.join(per_member, "doc_id", "left").fillna(
        {"score": 0.0, "best_score": 0.0, "tier": "near"}
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return joined.select(
        "doc_id",
        "cluster_id",
        "tier",
        "score",
        "best_match_id",
        "best_score",
        (F.row_number().over(w) == 1).alias("is_representative"),
    )
