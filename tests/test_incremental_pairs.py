"""Incremental (delta-vs-corpus) near-dup detection: equivalence with the
full batch near tier, precomputed-signature reuse, and the fan-in cap."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duplicate_image_detector_spark.config import PipelineConfig
from duplicate_image_detector_spark.operators.incremental_pairs import (
    incremental_near_pairs,
)
from duplicate_image_detector_spark.operators.lsh import lsh_candidate_pairs
from duplicate_image_detector_spark.operators.signatures import (
    compute_signatures,
    shingle_sets_for,
)
from duplicate_image_detector_spark.operators.simhash import (
    simhash_hamming_pairs,
)
from duplicate_image_detector_spark.operators.verify import verify_pairs


def _full_near_pairs(docs, cfg):
    """The batch pipeline's near tier (LSH ∪ hamming candidates, OR
    verify) over the whole corpus — the equivalence reference."""
    sig = compute_signatures(docs, cfg, include_shingles=False)
    cands = (
        lsh_candidate_pairs(sig, cfg)
        .unionByName(
            simhash_hamming_pairs(
                sig.select("doc_id", "simhash"), cfg
            ).select("id_a", "id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ids = cands.select(F.col("id_a").alias("doc_id")).union(
        cands.select(F.col("id_b").alias("doc_id"))
    )
    sets = shingle_sets_for(docs, ids, cfg)
    return verify_pairs(
        cands, sig.select("doc_id", "simhash").join(sets, "doc_id"), cfg
    )


def _docs_df(spark, tiny_corpus):
    pages, _ = tiny_corpus
    df = spark.createDataFrame(pages[["url", "text"]])
    return df.where(
        F.col("text").isNotNull() & (F.length("text") >= 50)
    ).select(F.xxhash64("url").alias("doc_id"), "text")


def _pairset(df):
    return {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in df.collect()
    }


def test_incremental_equals_full_filtered(spark, tiny_corpus, cfg):
    docs = _docs_df(spark, tiny_corpus).persist()
    docs.count()
    is_new = F.pmod(F.col("doc_id"), F.lit(4)) == 0
    old, delta = docs.where(~is_new), docs.where(is_new)

    inc = incremental_near_pairs(old, delta, cfg)
    full = _full_near_pairs(docs, cfg)
    touching = full.where(
        (F.pmod(F.col("id_a"), F.lit(4)) == 0)
        | (F.pmod(F.col("id_b"), F.lit(4)) == 0)
    )
    got, want = _pairset(inc), _pairset(touching)
    assert want, "fixture must yield delta-touching pairs (non-vacuous)"
    assert got == want
    inc.unpersist()
    docs.unpersist()


def test_precomputed_signature_store_reused(spark, tiny_corpus, cfg):
    docs = _docs_df(spark, tiny_corpus).persist()
    docs.count()
    is_new = F.pmod(F.col("doc_id"), F.lit(4)) == 0
    old, delta = docs.where(~is_new), docs.where(is_new)
    # hash_kind must match the operator's (the store built by the
    # streaming ingest uses the same poly default — one base-hash knob)
    store = compute_signatures(
        old, cfg, include_shingles=False, hash_kind="poly"
    ).persist()
    store.count()

    a = incremental_near_pairs(old, delta, cfg)
    b = incremental_near_pairs(old, delta, cfg, existing_sig=store)
    assert _pairset(a) == _pairset(b)
    a.unpersist()
    b.unpersist()
    store.unpersist()
    docs.unpersist()


def test_materialized_index_equals_derived(spark, tiny_corpus, cfg):
    """Passing the durable band/chunk index tables (the daily loop's
    ``band_rows``/``chunk_rows`` stages) yields exactly the pairs the
    derive-from-signatures path yields — the index is pure state
    motion, not a semantics change."""
    from duplicate_image_detector_spark.operators.incremental_pairs import (
        _chunk_rows,
    )
    from duplicate_image_detector_spark.operators.lsh import explode_bands

    docs = _docs_df(spark, tiny_corpus).persist()
    docs.count()
    is_new = F.pmod(F.col("doc_id"), F.lit(4)) == 0
    old, delta = docs.where(~is_new), docs.where(is_new)
    store = compute_signatures(
        old, cfg, include_shingles=False, hash_kind="poly"
    ).persist()
    store.count()
    bands = explode_bands(store, cfg).persist()
    chunks = _chunk_rows(store, cfg).persist()
    bands.count(), chunks.count()

    a = incremental_near_pairs(old, delta, cfg, existing_sig=store)
    b = incremental_near_pairs(
        old, delta, cfg, existing_sig=store,
        existing_bands=bands, existing_chunks=chunks,
    )
    got, want = _pairset(b), _pairset(a)
    assert want, "fixture must yield pairs (non-vacuous)"
    assert got == want
    for df in (a, b, bands, chunks, store, docs):
        df.unpersist()


def test_incremental_plan_has_no_quadratic_joins(spark, tiny_corpus, cfg):
    """Every candidate path is an equi-join keyed by bucket — the plan
    must never fall back to CartesianProduct / BroadcastNestedLoopJoin
    (the same audit the batch gates carry in tests/test_plans.py)."""
    docs = _docs_df(spark, tiny_corpus)
    is_new = F.pmod(F.col("doc_id"), F.lit(4)) == 0
    out = incremental_near_pairs(docs.where(~is_new), docs.where(is_new), cfg)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    out.unpersist()


def test_cluster_update_equals_full_cc(spark, tiny_corpus, cfg):
    """Merging the delta's incremental pairs into the old clusters must
    reproduce the full-corpus CC exactly — including cluster MERGES
    (a delta doc bridging two old clusters) and new-doc attachment."""
    from duplicate_image_detector_spark.operators.components import (
        connected_components,
    )
    from duplicate_image_detector_spark.operators.incremental_pairs import (
        incremental_update_clusters,
    )

    docs = _docs_df(spark, tiny_corpus).persist()
    docs.count()
    is_new = F.pmod(F.col("doc_id"), F.lit(4)) == 0
    old, delta = docs.where(~is_new), docs.where(is_new)

    old_pairs = _full_near_pairs(old, cfg)
    old_clusters = connected_components(old_pairs.select("id_a", "id_b"))
    new_pairs = incremental_near_pairs(old, delta, cfg)

    updated = incremental_update_clusters(
        old_clusters, new_pairs.select("id_a", "id_b")
    )
    full = connected_components(
        _full_near_pairs(docs, cfg).select("id_a", "id_b")
    )
    got = {(r["doc_id"], r["cluster_id"]) for r in updated.collect()}
    want = {(r["doc_id"], r["cluster_id"]) for r in full.collect()}
    assert want, "fixture must produce clusters"
    assert got == want
    new_pairs.unpersist()
    docs.unpersist()


def test_old_fanin_cap_yields_subset(spark, tiny_corpus, cfg):
    docs = _docs_df(spark, tiny_corpus).persist()
    docs.count()
    is_new = F.pmod(F.col("doc_id"), F.lit(4)) == 0
    old, delta = docs.where(~is_new), docs.where(is_new)

    uncapped = incremental_near_pairs(old, delta, cfg)
    capped = incremental_near_pairs(old, delta, cfg, old_fanin_cap=1)
    su, sc = _pairset(uncapped), _pairset(capped)
    assert sc <= su
    uncapped.unpersist()
    capped.unpersist()
    docs.unpersist()


def test_old_fanin_cap_pivot_bounds_and_connectivity(spark, cfg):
    """The shipped default caps the delta-x-corpus arm: an oversized OLD
    bucket (boilerplate) contributes only its min-id pivot row, so the
    cross join emits O(|delta members|) rows — and connected components
    still recovers the full cluster through the pivot, because the old
    corpus already connects the bucket's members to it."""
    from dataclasses import replace

    from duplicate_image_detector_spark.operators.components import (
        connected_components,
    )
    from duplicate_image_detector_spark.operators.incremental_pairs import (
        _delta_cross_candidates,
        incremental_update_clusters,
    )
    from duplicate_image_detector_spark.operators.lsh import explode_bands

    small = replace(cfg, max_bucket=4)  # make the cap bind at test size
    boiler = " ".join(f"boiler{i}" for i in range(120))
    n_old, n_delta = 60, 5
    old = spark.range(n_old).select(
        F.col("id").alias("doc_id"), F.lit(boiler).alias("text")
    )
    delta = spark.range(1000, 1000 + n_delta).select(
        F.col("id").alias("doc_id"), F.lit(boiler).alias("text")
    )

    sig_old = compute_signatures(old, small, include_shingles=False)
    sig_new = compute_signatures(delta, small, include_shingles=False)

    # candidate economy: every bucket's old occupancy is n_old > cap, so
    # only the pivot (min doc_id = 0) survives on the old side — the
    # cross arm emits exactly the (delta_doc, pivot) pairs, not
    # n_delta x n_old
    cross = _delta_cross_candidates(
        explode_bands(sig_new, small),
        explode_bands(sig_old, small),
        ["band_id", "band_hash"],
        old_fanin_cap=small.max_bucket,
    ).dropDuplicates(["id_a", "id_b"])
    got = {(r["id_a"], r["id_b"]) for r in cross.collect()}
    assert got == {(0, d) for d in range(1000, 1000 + n_delta)}

    # connectivity through the pivot: capped incremental pairs merged
    # into the old clustering == full-batch CC over the day-2 corpus
    old_pairs = _full_near_pairs(old, small)
    old_clusters = connected_components(old_pairs.select("id_a", "id_b"))
    inc = incremental_near_pairs(old, delta, small)  # default cap = auto
    updated = incremental_update_clusters(
        old_clusters, inc.select("id_a", "id_b")
    )
    full = connected_components(
        _full_near_pairs(
            old.unionByName(delta), small
        ).select("id_a", "id_b")
    )
    got_c = {(r["doc_id"], r["cluster_id"]) for r in updated.collect()}
    want_c = {(r["doc_id"], r["cluster_id"]) for r in full.collect()}
    assert len(want_c) == n_old + n_delta  # all 65 docs in the cluster
    assert got_c == want_c
    inc.unpersist()


def test_broadcast_size_gate_output_identity(spark, tiny_corpus, cfg, monkeypatch):
    """Above BROADCAST_KEY_LIMIT the delta-key semi-filter drops the
    broadcast hint (a hint Spark honors REGARDLESS of size — an
    un-gated 10^9-doc delta would OOM the driver building a ~17e9-row
    broadcast table).  The hint changes strategy only: forcing the
    non-broadcast branch must yield bit-identical pairs."""
    import duplicate_image_detector_spark.operators.incremental_pairs as ip

    docs = _docs_df(spark, tiny_corpus).persist()
    docs.count()
    is_new = F.pmod(F.col("doc_id"), F.lit(4)) == 0
    old, delta = docs.where(~is_new), docs.where(is_new)

    a = incremental_near_pairs(old, delta, cfg)
    monkeypatch.setattr(ip, "BROADCAST_KEY_LIMIT", 0)
    b = incremental_near_pairs(old, delta, cfg)
    got, want = _pairset(b), _pairset(a)
    assert want, "fixture must yield pairs (non-vacuous)"
    assert got == want
    a.unpersist()
    b.unpersist()
    docs.unpersist()


def test_semi_filter_broadcast_hint_gated_by_size(spark):
    from duplicate_image_detector_spark.operators.incremental_pairs import (
        BROADCAST_KEY_LIMIT,
        _semi_filter_to_delta,
    )

    old = spark.range(100).select(F.col("id").alias("k"), F.col("id").alias("doc_id"))
    delta = spark.range(10).select(F.col("id").alias("k"))
    small = _semi_filter_to_delta(old, delta, ["k"], approx_delta_keys=10)
    big = _semi_filter_to_delta(
        old, delta, ["k"], approx_delta_keys=BROADCAST_KEY_LIMIT + 1
    )
    unknown = _semi_filter_to_delta(old, delta, ["k"], approx_delta_keys=None)
    assert "ResolvedHint" in small._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in unknown._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in big._jdf.queryExecution().analyzed().toString()
    # identical rows either way
    assert sorted(map(tuple, small.collect())) == sorted(map(tuple, big.collect()))


def test_incremental_wide_delta_layout_output_identical(spark, tiny_corpus):
    # force the size-aware picker to choose the wide combination layout
    # for the within-delta Hamming arm (simhash_wide_docs=0): the output
    # must be bit-identical to the minimal layout — pigeonhole exactness
    # is layout-independent, and the cross arm's layout (tied to the
    # materialized index) is unaffected by the picker
    base = PipelineConfig()
    wide = PipelineConfig(simhash_wide_docs=0)
    docs = _docs_df(spark, tiny_corpus).persist()
    docs.count()
    is_new = F.pmod(F.col("doc_id"), F.lit(4)) == 0
    old, delta = docs.where(~is_new), docs.where(is_new)
    a = incremental_near_pairs(old, delta, base)
    b = incremental_near_pairs(old, delta, wide)
    assert _pairset(a) == _pairset(b) and _pairset(a)
    a.unpersist()
    b.unpersist()
    docs.unpersist()


def test_cluster_update_failure_releases_touched_cache(spark, monkeypatch):
    """incremental_update_clusters caches the touched cluster ids for its
    CC subgraph; a CC that raises leaves no cache behind."""
    from duplicate_image_detector_spark.operators import components
    from duplicate_image_detector_spark.operators.incremental_pairs import (
        incremental_update_clusters,
    )

    old_clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (5, 5), (6, 5)], "doc_id long, cluster_id long"
    )
    new_pairs = spark.createDataFrame([(2, 9)], "id_a long, id_b long")

    def boom(*args, **kwargs):
        raise RuntimeError("cc failed")

    monkeypatch.setattr(components, "connected_components", boom)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="cc failed"):
        incremental_update_clusters(old_clusters, new_pairs)
    assert jsc.getPersistentRDDs().size() == before
