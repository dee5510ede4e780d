"""LSH candidate generation: band explode -> bucket equi-self-join.

Replaces (not ports) the reference's O(n²) blocked all-pairs similarity
theta-join (/root/reference/duplicate-detector.py:1385-1436, the blocked
``np.dot`` at :1404-1415): MinHash signatures are banded, documents sharing
any (band_id, band_hash) bucket become candidate pairs, canonicalized to
``id_a < id_b`` (the reference's upper-triangle enumeration, ref :1420) and
de-duplicated across bands (a pair can collide in several bands; the
reference never double-counts because it enumerates pairs exactly once).

Skew (SURVEY §4 custom-logic item 1): boilerplate/template pages put huge
document sets into one bucket, and the join output grows O(|bucket|²) —
AQE's skew-join split bounds per-task input, not that quadratic output.  The
engine therefore computes bucket sizes first and routes:

  * size <= max_bucket  -> full within-bucket self-join (AQE skew split
    handles residual partition imbalance),
  * size >  max_bucket  -> pivot pairing: every member pairs with the
    bucket's min doc_id only (O(|bucket|) pairs).  Members of such a bucket
    agree on an entire signature band, i.e. they are near-identical; the
    verify + connected-components stages recover the full cluster through
    the pivot.  The recall cost of this cap is part of the 0.99 budget and
    is measured in tests.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from duplicate_image_detector_spark.config import PipelineConfig
from duplicate_image_detector_spark.functions.hashing import band_structs_col
from duplicate_image_detector_spark.sources.checkpoints import CacheScope


def explode_bands(sig: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """signatures -> (doc_id, band_id, band_hash), one row per band."""
    return sig.select(
        "doc_id",
        F.explode(band_structs_col(F.col("minhash"), cfg)).alias("b"),
    ).select("doc_id", F.col("b.band_id"), F.col("b.band_hash"))


def capped_bucket_pairs(
    rows: DataFrame,
    keys: Sequence[str],
    max_bucket: int | None,
    carry: Sequence[str] = (),
    where: Column | None = None,
    pair_cols: dict[str, Column] | None = None,
    scope: CacheScope | None = None,
) -> DataFrame:
    """(doc_id, *keys, *carry) bucket rows -> distinct (id_a < id_b) pairs
    of docs sharing a bucket — the capped self-join behind every
    candidate generator (LSH bands, SimHash chunks, substring
    fingerprints).

    Bucket stats come from a partial-aggregating ``groupBy`` joined back
    to the rows — NOT a ``Window.partitionBy(*keys)``: the window routes
    every row of a hot bucket (a 50M-row boilerplate bucket at webtext
    scale) through ONE task just to be counted, while the groupBy counts
    map-side in parallel and the (small: multi-member buckets only) stats
    table broadcasts back under AQE.  The joined multi-member rows are
    cached eagerly so both self-join sides read the cache instead of
    recomputing the explode + stats join (measured 45s -> ~8s at 500k
    docs for the LSH bands).

    Buckets of size <= ``max_bucket`` self-join in full; every member of
    a larger bucket pairs with the bucket's min doc_id only (module
    docstring).  ``max_bucket=None`` caps nothing.

    ``carry`` columns reach the pair as ``<c>_a`` / ``<c>_b`` — the
    pivot's from the stats aggregate (``min_by(<c>, doc_id)``), so the
    pivot arm needs no join back.  The pair rows are then projected to
    ``id_a, id_b`` plus ``pair_cols`` (derived from the carried columns)
    and filtered by ``where`` BEFORE the dedup.

    With a ``scope`` the bucket cache is registered there and the output
    is returned lazy: the caller materializes it (e.g. one union over
    several arms) and closing the scope releases the cache.  Without one
    the output is persisted and counted here and the bucket cache is
    released before returning; the caller owns the output cache.
    """
    if scope is None:
        with CacheScope() as own:
            out = own.persist(
                capped_bucket_pairs(
                    rows, keys, max_bucket, carry, where, pair_cols, own
                )
            )
            return own.detach(out)

    keys = list(keys)
    stats = (
        rows.groupBy(*keys)
        .agg(
            F.count("*").alias("bucket_size"),
            F.min("doc_id").alias("pivot_id"),
            *[F.min_by(c, "doc_id").alias(f"_pivot_{c}") for c in carry],
        )
        .where(F.col("bucket_size") >= 2)
    )
    multi = scope.persist(rows.join(stats, keys))
    out_cols = [F.col("id_a"), F.col("id_b")] + [
        col.alias(name) for name, col in (pair_cols or {}).items()
    ]

    def side(df: DataFrame, s: str) -> DataFrame:
        return df.select(
            *keys,
            F.col("doc_id").alias(f"id_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
        )

    normal = multi if max_bucket is None else multi.where(
        F.col("bucket_size") <= max_bucket
    )
    pairs = (
        side(normal, "a")
        .join(side(normal, "b"), keys)
        .where(F.col("id_a") < F.col("id_b"))
        .select(*out_cols)
    )
    if max_bucket is not None:
        pivoted = (
            multi.where(F.col("bucket_size") > max_bucket)
            .where(F.col("doc_id") != F.col("pivot_id"))
            .select(
                F.col("pivot_id").alias("id_a"),
                F.col("doc_id").alias("id_b"),
                *[F.col(f"_pivot_{c}").alias(f"{c}_a") for c in carry],
                *[F.col(c).alias(f"{c}_b") for c in carry],
            )
            .select(*out_cols)
        )
        pairs = pairs.union(pivoted)
    if where is not None:
        pairs = pairs.where(where)
    return pairs.dropDuplicates(["id_a", "id_b"])


def lsh_candidate_pairs(
    sig: DataFrame,
    cfg: PipelineConfig,
    scope: CacheScope | None = None,
) -> DataFrame:
    """signatures -> distinct candidate (id_a, id_b), id_a < id_b: docs
    sharing a (band_id, band_hash) bucket, capped at ``cfg.max_bucket``
    (``capped_bucket_pairs``, which also documents ``scope``)."""
    return capped_bucket_pairs(
        explode_bands(sig, cfg), ["band_id", "band_hash"], cfg.max_bucket,
        scope=scope,
    )
