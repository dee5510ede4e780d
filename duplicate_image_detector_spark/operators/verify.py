"""Verification stage: exact Jaccard + SimHash Hamming per candidate pair.

Analog of the reference's expensive geometric verification
(/root/reference/duplicate-detector.py:1237-1279, ORB+RANSAC in a process
pool at :1690-1742): candidates from the cheap stage are re-checked with the
exact metric before grouping — the staged cheap-filter-then-expensive-verify
ordering the reference hand-rolls (P1, ref :1421 -> :1237) is preserved
structurally here.

Unlike the reference (Python workers), verification is a pair of hash joins
pulling each side's distinct shingle-hash set plus an ``array_intersect``
size ratio — all JVM.  The reference's pure-function worker contract
(:1670-1688) has no Python analog left to honor: there is no Python at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duplicate_image_detector_spark.config import PipelineConfig
from duplicate_image_detector_spark.functions.hashing import hamming_col
from duplicate_image_detector_spark.operators.signatures import jaccard_col


def score_pairs(pairs: DataFrame, sig: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(id_a, id_b) -> + (jaccard double, hamming int).

    Two hash joins (J4 analog, ref :1251-1252); sort-merge at scale, AQE
    picks broadcast when the signature projection is small.
    """
    a = sig.select(
        F.col("doc_id").alias("id_a"),
        F.col("shingle_hashes").alias("_ha"),
        F.col("simhash").alias("_sa"),
    )
    b = sig.select(
        F.col("doc_id").alias("id_b"),
        F.col("shingle_hashes").alias("_hb"),
        F.col("simhash").alias("_sb"),
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            jaccard_col(F.col("_ha"), F.col("_hb")).alias("jaccard"),
            hamming_col(F.col("_sa"), F.col("_sb")).cast("int").alias("hamming"),
        )
    )


def verify_pairs(pairs: DataFrame, sig: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Candidates -> verified near-dup pairs.

    Admission rule (SURVEY §7.0 pinned config): exact Jaccard >=
    ``cfg.jaccard_threshold`` OR SimHash Hamming distance <=
    ``cfg.simhash_hamming_max`` ("near-exact") — the OR arm admits
    near-identical docs whose Jaccard dips below the threshold (e.g. short
    docs where one substitution moves k shingles).  The Jaccard threshold
    is the reference's sscd_threshold 0.86 (ref :391); the candidate set
    must cover both arms (LSH buckets for Jaccard, pigeonhole banding for
    Hamming — ``plans/pipeline.py`` unions them).

    Output: (id_a, id_b, jaccard, hamming, tier='near').
    """
    scored = score_pairs(pairs, sig, cfg)
    return scored.where(
        (F.col("jaccard") >= cfg.jaccard_threshold)
        | (F.col("hamming") <= cfg.simhash_hamming_max)
    ).select("*", F.lit("near").alias("tier"))
