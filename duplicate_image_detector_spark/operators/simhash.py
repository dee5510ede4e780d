"""Exact SimHash Hamming-neighbor pairs via pigeonhole banding.

The reference's pHash/dHash Hamming-threshold grouping idea
(/root/reference/duplicate-detector.py:1346-1383 metadata-key grouping;
TECHNICAL.md exact-vs-near two-tier) needs "all pairs with Hamming(a,b) <=
d" over 64-bit fingerprints.  An all-pairs crossJoin is quadratic; the
EXACT sub-quadratic plan is pigeonhole banding (Manku et al., WWW'07
"Detecting Near-Duplicates for Web Crawling"):

  split the B-bit fingerprint into d+1 disjoint chunks.  Any pair within
  Hamming distance d differs in at most d bit positions, so at least one
  chunk is bit-identical (pigeonhole) — an equi-self-join per chunk finds
  every such pair, and a cheap ``bit_count(xor) <= d`` verify on the
  candidates removes chunk-collision false positives.  No recall loss:
  the output is exactly the crossJoin's output.

Skew shape mirrors the LSH operator: chunk-value occupancy is counted with
a partial-aggregating groupBy joined back (no hot-key single-task window),
singleton chunk values are pruned before the self-join, and AQE's skew
split bounds residual partition imbalance.  A hot chunk value (template
pages sharing 15 identical fingerprint bits) produces O(|bucket|²) join
rows — those rows are one ``xor`` each, and when they genuinely ARE within
Hamming d the quadratic pair list is the requested output; ``max_bucket``
(default None = exact) optionally routes oversized buckets to pivot
pairing for pipeline use where CC transitivity recovers clusters.

Scale budget: mean chunk-bucket size is n / 2^chunk_bits (15 bits at the
pinned 60/4 split), so the candidate join emits ~(d+1) · n² / 2^15 rows —
fine to ~10^6 docs, quadratic beyond.  Size-aware callers (the batch
pipeline's candidate stage, the incremental mode's within-delta arm)
therefore switch to the C(2d,d) combination layout past
``cfg.simhash_wide_docs`` via ``pick_simhash_layout`` — 30-bit keys
collapse random collisions by ~2^15 for 5x the key rows, restoring
~linear candidate volume to n ≈ 10^9 (every layout is output-identical;
parity-tested).  The pipeline additionally runs this operator CAPPED
(``max_bucket=cfg.max_bucket``): past the cap every bucket degrades to
O(|bucket|) pivot pairs, bounding the stage at O(keys·n) total.  Under
the cap the Hamming arm is deliberately a SUPPLEMENT, not the recall
carrier — docs within Hamming 3 of each other share almost their entire
shingle set and are caught by the MinHash-LSH arm with near-certainty;
the planted-truth recall bench measures the composition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from duplicate_image_detector_spark.config import PipelineConfig
from duplicate_image_detector_spark.operators.lsh import capped_bucket_pairs
from duplicate_image_detector_spark.sources.checkpoints import CacheScope


def _chunks_col(simhash: Column, n_chunks: int, chunk_bits: int) -> Column:
    mask = (1 << chunk_bits) - 1
    return F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk_id"),
                F.shiftright(simhash, c * chunk_bits)
                .bitwiseAND(F.lit(mask))
                .alias("val"),
            )
            for c in range(n_chunks)
        ]
    )


def _combo_keys_col(
    simhash: Column, n_chunks: int, chunk_bits: int, combo_size: int
) -> Column:
    """Join keys for the generalized pigeonhole (Manku'07 §3 table
    layout): the fingerprint splits into ``n_chunks`` chunks and a key is
    the CONCATENATION of ``combo_size`` chunks, one key per combination.
    A pair within Hamming d dirties at most d chunks, so with
    ``combo_size = n_chunks - d`` some combination is fully intact on
    both sides — exactness is preserved while the per-key width grows
    from ``chunk_bits`` to ``combo_size*chunk_bits`` bits, collapsing
    false-candidate collisions by ~2^((combo_size-1)*chunk_bits) at the
    cost of C(n_chunks, combo_size) key rows per doc."""
    from itertools import combinations

    mask = (1 << chunk_bits) - 1
    chunks = [
        F.shiftright(simhash, c * chunk_bits).bitwiseAND(F.lit(mask))
        for c in range(n_chunks)
    ]
    keys = []
    for cid, combo in enumerate(combinations(range(n_chunks), combo_size)):
        val = chunks[combo[0]]
        for c in combo[1:]:
            val = F.shiftleft(val, chunk_bits).bitwiseOR(chunks[c])
        keys.append(
            F.struct(F.lit(cid).alias("chunk_id"), val.alias("val"))
        )
    return F.array(*keys)


def pick_simhash_layout(n_docs: int | None, cfg: PipelineConfig) -> int | None:
    """Size-aware pigeonhole layout choice for a corpus of ``n_docs``.

    Returns an ``n_chunks`` value for ``simhash_key_rows``: ``None``
    (minimal d+1 layout) at or below ``cfg.simhash_wide_docs``, else the
    ``2d``-chunk Manku combination layout (for d=3: 6 chunks of 10 bits,
    C(6,3)=20 keys of 30 bits).  A ``cfg.simhash_n_chunks`` pin always
    wins — that is the knob for jobs whose two join sides are built in
    different runs (the materialized chunk index and its delta mate).

    Why this crossover: candidate volume under the minimal layout is
    ~(d+1)·n²/2^chunk_bits random chunk collisions (one codegen'd xor
    each) vs C(2d,d) key rows/doc (a real shuffle each) under the wide
    one.  Interleaved steady-state A/B at 2M docs/local[32]
    (BENCH/simhash_layout_ab_2000k.json: minimal 4.9 s vs wide 10.9 s,
    identical 202,234 pairs) puts a shuffled key row at ~26x a filtered
    xor candidate — the n² collision term (4x per doc doubling, vs 2x
    for key rows) overtakes that constant at ~4-8M docs, hence the 5M
    default.  Past cost there is a RECALL cliff the wide layout
    removes: minimal 15-bit buckets hit mean occupancy = ``max_bucket``
    (2000) at n ≈ 6.5x10^7, where capped callers start pivot-routing
    buckets that are mostly RANDOM collisions (pivot members not
    near-identical, unlike LSH band buckets), silently shrinking the
    Hamming arm; 30-bit keys keep expected occupancy < 1 to n ≈ 10^9.
    """
    if cfg.simhash_n_chunks is not None:
        return cfg.simhash_n_chunks
    if n_docs is None or n_docs <= cfg.simhash_wide_docs:
        return None
    return max(2 * cfg.simhash_hamming_max, cfg.simhash_hamming_max + 1)


def simhash_key_rows(
    sig: DataFrame,
    cfg: PipelineConfig,
    n_chunks: int | None = None,
    id_col: str = "doc_id",
    simhash_col: str = "simhash",
) -> DataFrame:
    """(doc_id, simhash, chunk_id, val) — one row per pigeonhole join key.

    ``n_chunks = d+1`` (the default) is the minimal layout: one 15-bit
    chunk per key, (d+1) key rows per doc, candidate volume
    ~(d+1)·n²/2^15 — measured FASTER at 500k docs/local[32] (7.8s vs
    14.7s) than the wider layout, because the false candidates it admits
    cost one codegen'd xor each while extra key rows pay a real shuffle.
    ``n_chunks > d+1`` selects the generalized combination layout
    (e.g. 6 chunks / C(6,3)=20 keys of 30 bits for d=3): ~2^15 x fewer
    chunk collisions for 5x the key rows — the right trade once expected
    chunk occupancy n/2^chunk_bits makes candidate volume dominate
    (n >> ~3x10^7 at the pinned config).  Every layout yields identical
    output (pigeonhole exactness; parity-tested)."""
    d = cfg.simhash_hamming_max
    if n_chunks is None:
        # honor a config-level pin first: layouts on the two sides of a
        # cross join (materialized index vs delta) must agree, and the
        # pin is how that agreement survives across runs
        n_chunks = cfg.simhash_n_chunks if cfg.simhash_n_chunks else d + 1
    if n_chunks <= d:
        raise ValueError(f"n_chunks ({n_chunks}) must exceed d ({d})")
    chunk_bits = cfg.simhash_bits // n_chunks
    combo_size = n_chunks - d
    base = sig.select(
        F.col(id_col).alias("doc_id"), F.col(simhash_col).alias("simhash")
    )
    keys = (
        _chunks_col(F.col("simhash"), n_chunks, chunk_bits)
        if combo_size == 1
        else _combo_keys_col(F.col("simhash"), n_chunks, chunk_bits, combo_size)
    )
    return base.select(
        "doc_id", "simhash", F.explode(keys).alias("ck")
    ).select("doc_id", "simhash", F.col("ck.chunk_id"), F.col("ck.val"))


def simhash_hamming_pairs(
    sig: DataFrame,
    cfg: PipelineConfig,
    max_bucket: int | None = None,
    id_col: str = "doc_id",
    simhash_col: str = "simhash",
    n_chunks: int | None = None,
    scope: CacheScope | None = None,
) -> DataFrame:
    """sig(doc_id, simhash) -> exact (id_a, id_b, hamming), id_a < id_b,
    for every pair with Hamming distance <= cfg.simhash_hamming_max.

    ``max_bucket=None`` (default) is exact — identical output to the
    all-pairs crossJoin.  With a cap, members of an oversized chunk bucket
    pair with the bucket's min doc_id only (pipeline mode; see module
    docstring).  ``n_chunks`` picks the pigeonhole layout
    (``simhash_key_rows``); every layout yields the same output, only the
    candidate volume differs.  ``scope``: see ``capped_bucket_pairs``.
    """
    base = sig.select(
        F.col(id_col).alias("doc_id"), F.col(simhash_col).alias("simhash")
    )
    hamming = F.bit_count(
        F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
    ).cast("int")
    return capped_bucket_pairs(
        simhash_key_rows(base, cfg, n_chunks=n_chunks),
        ["chunk_id", "val"],
        max_bucket,
        carry=["simhash"],
        where=F.col("hamming") <= cfg.simhash_hamming_max,
        pair_cols={"hamming": hamming},
        scope=scope,
    )
