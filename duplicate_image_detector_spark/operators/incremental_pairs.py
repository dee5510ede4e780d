"""Incremental near-dup detection: a document DELTA against an existing
corpus, without re-running the corpus-wide self-join.

Production shape for a daily crawl (the reference's analog is its
cache-hit fast path — only new/changed files are re-hashed,
/root/reference/duplicate-detector.py:2700-2718): signatures for old
documents come PRECOMPUTED (e.g. built by
``streaming/incremental.py:incremental_signatures`` as crawls land); only
the delta is signed here, and candidate generation touches old band rows
exclusively through equi-joins keyed by the delta's buckets:

  * new x new  — the standard within-bucket self-join over the delta only;
  * new x old  — delta band rows equi-joined against the old band table
    (output bounded by |delta| x bucket-occupancy, NOT |corpus|²);
  * both arms of the near-tier admission rule (verify.py): LSH band
    buckets for the Jaccard arm, SimHash pigeonhole chunks for the
    Hamming arm.

Verification computes shingle sets ONLY for candidate endpoints (the
same candidates-only economy as the batch pipeline), so total cost is
O(|delta| + |candidates|) plus one scan of the old band/chunk tables —
at a 10^12-doc corpus with a 10^9-doc daily delta, that is the difference
between a feasible daily job and re-clustering the world.

Equivalence contract: in the under-cap regime (every bucket within
``max_bucket`` / ``old_fanin_cap``) the result is EXACTLY the pairs of
the full batch run that touch at least one delta document (equivalence
tested in tests/test_incremental_pairs.py over under-cap fixtures;
``old_fanin_cap=None`` makes the cross arm unconditionally exact and is
what the driver's hash gate runs).  When caps bind (oversized buckets),
pair SELECTION differs from the batch run — the batch caps combined
old+new bucket occupancy while this mode caps the delta and old sides
separately — but both route oversized buckets through a deterministic
min-id pivot, so cluster-level connectivity is preserved either way.

``old_fanin_cap`` (default: ``cfg.max_bucket``) bounds the old-side
fan-in per bucket: buckets whose OLD occupancy exceeds the cap
contribute only their min-doc_id pivot row to the cross join, so a
boilerplate bucket with 10^6 old members x 10^3 delta members emits
10^3 candidate rows, not 10^9.  Members of such a bucket agree on an
entire signature band (near-identical); the old corpus already connects
them to the pivot from the batch run, so connected components recovers
the full cluster through the pivot — the same argument, and the same
0.99-recall budget, as ``lsh_candidate_pairs`` pivot routing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duplicate_image_detector_spark.config import PipelineConfig
from duplicate_image_detector_spark.operators.lsh import (
    explode_bands,
    lsh_candidate_pairs,
)
from duplicate_image_detector_spark.operators.signatures import (
    compute_signatures,
    shingle_sets_for,
)
from duplicate_image_detector_spark.operators.simhash import (
    pick_simhash_layout,
    simhash_hamming_pairs,
    simhash_key_rows,
)
from duplicate_image_detector_spark.operators.verify import verify_pairs
from duplicate_image_detector_spark.sources.checkpoints import CacheScope


#: max delta-side distinct bucket keys the cross arms will HINT into a
#: broadcast: ~10^7 (band_id, band_hash) rows ≈ 300 MB materialized on
#: every executor — the practical ceiling for a driver-built broadcast
#: table.  Above it the semi-join runs as a plain shuffle join and AQE
#: picks the strategy (still one filtered pass over the old index; the
#: docstring's 10^9-doc-delta case lands here instead of OOMing the
#: driver with a ~17x10^9-row broadcast build).
BROADCAST_KEY_LIMIT = 10_000_000


def _chunk_rows(sig: DataFrame, cfg: PipelineConfig) -> DataFrame:
    # same pigeonhole key layout on both sides (simhash_key_rows default).
    # simhash rides along so the cross join can apply the Hamming filter
    # AT the join (see _delta_cross_candidates hamming_max) — without it
    # every random 16-bit chunk collision (expected n/2^15 old docs per
    # chunk value) survives to the shingle-verify stage: measured 3.0M
    # junk candidates for a 50k delta vs 500k corpus, 5.5k real pairs.
    return simhash_key_rows(sig, cfg).select(
        "doc_id", "simhash", "chunk_id", "val"
    )


def _semi_filter_to_delta(
    old_rows: DataFrame,
    delta_keys: DataFrame,
    keys: list[str],
    approx_delta_keys: int | None = None,
) -> DataFrame:
    """left-semi filter the corpus-side index to delta-touched buckets.

    ``approx_delta_keys``: a cheap upper bound on the delta's distinct
    key count (rows x keys-per-row — already known by every caller from
    the delta's materialized count).  At or below
    ``BROADCAST_KEY_LIMIT`` the key set is broadcast so the corpus index
    is filtered map-side without shuffling; above it (or when AQE is
    left to decide with ``None`` semantics unavailable) the semi-join
    runs unhinted — the old side still shuffles at most once, and the
    driver never builds an un-broadcastable table.  Output is identical
    either way (the hint changes strategy, not semantics)."""
    dk = delta_keys.select(*keys).distinct()
    if approx_delta_keys is None or approx_delta_keys <= BROADCAST_KEY_LIMIT:
        dk = F.broadcast(dk)
    return old_rows.join(dk, keys, "left_semi")


def _delta_cross_candidates(
    new_rows: DataFrame,
    old_rows: DataFrame,
    keys: list[str],
    old_fanin_cap: int | None,
    hamming_max: int | None = None,
    approx_delta_keys: int | None = None,
) -> DataFrame:
    """new-side rows x old-side rows sharing a bucket key -> (id_a, id_b)
    canonicalized.

    ``old_fanin_cap``: buckets whose OLD-side occupancy exceeds the cap
    are pivot-routed — only the bucket's min-doc_id old row joins, so
    per-bucket output is O(|delta members|) instead of
    O(|delta| x |old occupancy|).  Deterministic (no sampling), and the
    exact analog of ``lsh_candidate_pairs``'s oversized-bucket
    treatment: pivot-bucket members are near-identical (they agree on a
    whole band / pigeonhole chunk) and the old corpus already connects
    them to the pivot, so connected components recovers the cluster.
    ``None`` disables the cap (oracle-exact mode).

    Shuffle economy: the old table is semi-filtered to delta-touched
    buckets BEFORE any stats or join — the corpus-scale index is
    scanned once and never shuffled in full; the cap stats and the
    final equi-join run over the touched subset only (occupancy per
    touched bucket is unchanged by the filter, so cap semantics are
    identical).  The delta's distinct key set is broadcast for a
    map-side filter when ``approx_delta_keys`` (callers pass rows x
    keys-per-row from the delta's already-materialized count) is within
    ``BROADCAST_KEY_LIMIT``; a larger delta (~10^9 docs -> ~17x10^9
    keys, un-broadcastable) falls back to a plain semi-join and AQE
    picks the strategy — still one filtered pass over the index, and
    the driver never builds the broadcast table the hint would force.

    ``hamming_max``: when set, both sides must carry a ``simhash``
    column and candidates are filtered to
    ``popcount(simhash_new XOR simhash_old) <= hamming_max`` INSIDE the
    join — the same cheap-filter-at-the-join the batch pigeonhole path
    applies (simhash.py).  For a 2^15-ish chunk keyspace the expected
    occupancy n/2^15 makes raw chunk collisions the dominant candidate
    volume (measured 3.0M junk / 5.5k real at 500k docs); one codegen'd
    xor per collision here beats a shingle-set verify per collision
    downstream by orders of magnitude."""
    old = _semi_filter_to_delta(old_rows, new_rows, keys, approx_delta_keys)
    if old_fanin_cap is not None:
        stats = old.groupBy(*keys).agg(
            F.count("*").alias("_n"), F.min("doc_id").alias("_pivot")
        )
        old = (
            old.join(stats, keys)
            .where(
                (F.col("_n") <= F.lit(old_fanin_cap))
                | (F.col("doc_id") == F.col("_pivot"))
            )
            .drop("_n", "_pivot")
        )
    extra_new = (
        [F.col("simhash").alias("_snew")] if hamming_max is not None else []
    )
    extra_old = (
        [F.col("simhash").alias("_sold")] if hamming_max is not None else []
    )
    joined = new_rows.select(
        *keys, F.col("doc_id").alias("_new"), *extra_new
    ).join(
        old.select(*keys, F.col("doc_id").alias("_old"), *extra_old), keys
    )
    if hamming_max is not None:
        joined = joined.where(
            F.bit_count(F.col("_snew").bitwiseXOR(F.col("_sold")))
            <= F.lit(hamming_max)
        )
    return joined.select(
        F.least("_new", "_old").alias("id_a"),
        F.greatest("_new", "_old").alias("id_b"),
    ).where(F.col("id_a") != F.col("id_b"))


def incremental_near_pairs(
    old_docs: DataFrame,
    delta_docs: DataFrame,
    cfg: PipelineConfig,
    existing_sig: DataFrame | None = None,
    hash_kind: str = "poly",
    old_fanin_cap: int | None | str = "auto",
    existing_bands: DataFrame | None = None,
    existing_chunks: DataFrame | None = None,
) -> DataFrame:
    """(old corpus, new delta) -> verified near-tier pairs touching >= 1
    delta document: (id_a, id_b, jaccard, hamming, tier='near').

    ``old_fanin_cap``: per-bucket bound on the old side of the cross
    join.  ``"auto"`` (the default) uses ``cfg.max_bucket`` — the shipped
    default a daily-crawl job gets, so a boilerplate bucket never emits
    O(|delta| x |old occupancy|) rows.  ``None`` disables the cap
    (unconditionally exact; what the driver's oracle gate passes).

    ``old_docs`` / ``delta_docs``: (doc_id, text) — old text is consulted
    only for candidate endpoints at verify time.  ``existing_sig``: the
    precomputed signature store for ``old_docs`` (slim rows; pass the
    store built by the streaming ingest).  It MUST have been computed
    with the same ``hash_kind`` passed here (the streaming ingest's
    default matches this function's default, 'poly') — band hashes from
    different base hashes never collide, which would silently drop every
    new-x-old candidate.  When None the signatures are computed here
    (correct, but forfeits the incremental savings — tests and the
    oracle gate use that mode).

    ``existing_bands`` / ``existing_chunks``: the MATERIALIZED LSH index
    of the old corpus — (doc_id, band_id, band_hash) and (doc_id,
    simhash, chunk_id, val) tables (``explode_bands`` / ``_chunk_rows``
    shapes, e.g. the ``band_rows``/``chunk_rows`` stages the daily loop
    persists; the chunk table carries the simhash so the Hamming filter
    runs at the join).  When given, the cross arms equi-join them directly;
    when None they are derived from ``sig_old`` — correct, but that
    re-evaluates the banding expressions over the WHOLE corpus every
    run, which the A/B in BENCH/scaling_incremental.json prices (the
    index tables are ~17 narrow rows/doc, the natural durable form of
    LSH state at 10^12 docs).
    """
    if old_fanin_cap == "auto":
        old_fanin_cap = cfg.max_bucket

    # one scope owns every cache below: released (LIFO) on return or
    # error; the verified output is handed over to the caller
    with CacheScope() as caches:
        sig_old = (
            existing_sig
            if existing_sig is not None
            else caches.persist(
                compute_signatures(
                    old_docs, cfg, include_shingles=False, hash_kind=hash_kind
                ),
                eager=False,
            )
            # persisted: without a precomputed store the old-corpus
            # signature pass (the most expensive Python kernel here) is
            # referenced by THREE subtrees — the band cross arm, the chunk
            # cross arm, and the verify-side simhash union — and would
            # execute three times
        )
        sig_new = caches.persist(
            compute_signatures(
                delta_docs, cfg, include_shingles=False, hash_kind=hash_kind
            ),
            eager=False,
        )
        n_delta = sig_new.count()

        # new x new: the standard capped generators over the delta alone.
        # The pigeonhole layout follows the DELTA's size (both sides of
        # this self-join are built here) — a multi-million-doc delta would
        # otherwise pay ~Δ²/2^15 random chunk collisions, the measured
        # shape of the 2x-delta marginal-wall blowup in
        # BENCH/scaling_incremental.json.  The cross arm below is NOT free
        # to do this: its old side is the materialized index, whose layout
        # is pinned by cfg.simhash_n_chunks.  The two arms are independent
        # sub-DAGs over the already-materialized sig_new — their eager
        # bucket-stats actions overlap from concurrent driver threads
        # (guide §2.6); the candidate-union action below materializes all
        # four arms in ONE job, and the arm caches release after it.
        from concurrent.futures import ThreadPoolExecutor

        with CacheScope() as arms:
            with ThreadPoolExecutor(max_workers=3) as arm_pool:
                nn_lsh_f = arm_pool.submit(
                    lsh_candidate_pairs, sig_new, cfg, scope=arms
                )
                nn_ham_f = arm_pool.submit(
                    lambda: simhash_hamming_pairs(
                        sig_new.select("doc_id", "simhash"), cfg,
                        max_bucket=cfg.max_bucket,
                        n_chunks=pick_simhash_layout(n_delta, cfg),
                        scope=arms,
                    )
                )
                if existing_sig is None:
                    # eager fill of the old-signature cache, overlapped
                    # with the within-delta arms (which only need
                    # sig_new): a lazy persist would let the two cross-arm
                    # subtrees of the candidate action race to compute the
                    # same partitions before the cache fills
                    arm_pool.submit(sig_old.count)
                nn_lsh, nn_ham = nn_lsh_f.result(), nn_ham_f.result()

            # new x old: delta buckets joined against the old band/chunk
            # tables
            old_bands = (
                existing_bands
                if existing_bands is not None
                else explode_bands(sig_old, cfg)
            )
            old_chunks = (
                existing_chunks
                if existing_chunks is not None
                else _chunk_rows(sig_old, cfg)
            )
            # upper bounds on the delta's distinct bucket keys (rows x
            # keys-per-row) gate the broadcast hints — the chunk index
            # layout is pinned by cfg (it must match the materialized old
            # index), never delta-sized
            n_chunk_keys = n_delta * (
                cfg.simhash_n_chunks
                if cfg.simhash_n_chunks is not None
                else cfg.simhash_hamming_max + 1
            )
            no_lsh = _delta_cross_candidates(
                explode_bands(sig_new, cfg),
                old_bands,
                ["band_id", "band_hash"],
                old_fanin_cap,
                approx_delta_keys=n_delta * cfg.bands,
            )
            no_ham = _delta_cross_candidates(
                _chunk_rows(sig_new, cfg),
                old_chunks,
                ["chunk_id", "val"],
                old_fanin_cap,
                hamming_max=cfg.simhash_hamming_max,
                approx_delta_keys=n_chunk_keys,
            )

            cands = caches.persist(
                nn_lsh.select("id_a", "id_b")
                .unionByName(nn_ham.select("id_a", "id_b"))
                .unionByName(no_lsh)
                .unionByName(no_ham)
                .dropDuplicates(["id_a", "id_b"])
            )

        # verify: shingle sets + simhash for candidate endpoints only,
        # drawn from the union corpus (old text is read just for touched
        # docs)
        all_docs = old_docs.select("doc_id", "text").unionByName(
            delta_docs.select("doc_id", "text")
        )
        cand_ids = cands.select(F.col("id_a").alias("doc_id")).union(
            cands.select(F.col("id_b").alias("doc_id"))
        )
        sets = shingle_sets_for(all_docs, cand_ids, cfg, hash_kind=hash_kind)
        sig_union = sig_old.select("doc_id", "simhash").unionByName(
            sig_new.select("doc_id", "simhash")
        )
        # materialize the endpoint payload ONCE: score_pairs joins it twice
        # (id_a side + id_b side), and without this the corpus text scan +
        # shingling behind ``sets`` would execute twice — measured 2x the
        # whole verify wall at 500k docs.  O(|candidate endpoints|) rows.
        # Measured NEGATIVE result (kept for the record): folding this pass
        # into the verify action by broadcasting the payload (the
        # plans/pipeline.py PAYLOAD_BROADCAST_PAIRS pattern) won ~0.1 s at
        # sf0.1 but consistently LOST ~1.5 s at 10x corpus size in
        # interleaved A/Bs — the broadcast-stage round-trip grows with the
        # corpus-side scan inside this subtree, while the barrier it saves
        # is fixed.  The persisted path is the scale-correct default here;
        # the pipeline keeps the fold because there it also removes a whole
        # checkpoint-stage barrier.
        payload = caches.persist(sig_union.join(sets, "doc_id"))
        return caches.detach(
            caches.persist(verify_pairs(cands, payload, cfg))
        )


def touched_member_ids(
    old_clusters: DataFrame, new_pairs: DataFrame
) -> DataFrame:
    """(doc_id) for every doc whose cluster assignment CAN change when
    ``new_pairs`` merge into ``old_clusters``: the pair endpoints plus
    every member of an old cluster containing an endpoint — exactly the
    subgraph ``incremental_update_clusters`` re-labels.  The daily loop
    passes this (∪ its delta ids) to ``ClusterStore.apply_update`` as
    ``changed_ids`` so the store refresh rewrites only touched buckets
    without a corpus-wide diff."""
    ends = (
        new_pairs.select(F.col("id_a").alias("doc_id"))
        .union(new_pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    touched = (
        old_clusters.join(ends, "doc_id").select("cluster_id").distinct()
    )
    members = old_clusters.join(touched, "cluster_id").select("doc_id")
    return members.unionByName(ends).distinct()


def incremental_update_clusters(
    old_clusters: DataFrame,
    new_pairs: DataFrame,
    work_dir: str | None = None,
) -> DataFrame:
    """Merge new evidence pairs into an existing cluster assignment,
    recomputing ONLY the components the new pairs touch.

    ``old_clusters``: (doc_id, cluster_id) with min-id labels (the
    output contract of ``connected_components`` / the pipeline).
    ``new_pairs``: (id_a, id_b) evidence touching >= 1 new doc (e.g.
    ``incremental_near_pairs`` output).  Returns the updated
    (doc_id, cluster_id): clusters untouched by any new pair pass
    through UNCHANGED (no recompute, no shuffle of their members beyond
    one anti-join); touched clusters are expanded to their star edges,
    unioned with the new pairs, and re-labeled by a connected-components
    run over that SUBGRAPH only — new pairs can merge several old
    clusters and attach new docs, and the result equals a full CC over
    (old evidence ∪ new pairs) because star membership preserves old
    connectivity exactly (equivalence tested).

    At scale this is the daily-crawl cluster-maintenance step: the CC
    input is O(|touched members| + |new pairs|), not O(corpus).
    """
    from pyspark.storagelevel import StorageLevel

    from duplicate_image_detector_spark.operators.components import (
        connected_components,
    )

    ends = (
        new_pairs.select(F.col("id_a").alias("doc_id"))
        .union(new_pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    touched = (
        old_clusters.join(ends, "doc_id")
        .select("cluster_id")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    touched.count()
    members = old_clusters.join(touched, "cluster_id")
    star = members.where(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("cluster_id").alias("id_a"), F.col("doc_id").alias("id_b")
    )
    sub = connected_components(
        new_pairs.select("id_a", "id_b").unionByName(star), work_dir=work_dir
    )
    untouched = old_clusters.join(touched, "cluster_id", "left_anti")
    out = untouched.select("doc_id", "cluster_id").unionByName(
        sub.select("doc_id", "cluster_id")
    )
    touched.unpersist()
    return out
