"""End-to-end golden test: Spark pipeline vs the brute-force oracle.

The oracle transcribes the reference's semantics (all-pairs Jaccard
threshold + DSU, /root/reference/duplicate-detector.py:1404-1421,
1758-1777); the pipeline must reproduce its pair set with recall >= 0.99
and its cluster assignments exactly up to relabeling (FIXTURES.md §5).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duplicate_image_detector_spark.plans.pipeline import run_pipeline
from tests.oracle import run_oracle


@pytest.fixture(scope="module")
def oracle_result(tiny_corpus, cfg):
    pages, _ = tiny_corpus
    return run_oracle(pages, cfg)


@pytest.fixture(scope="module")
def pipeline_result(spark, tiny_pages_df, cfg):
    # recall banding (32x4 over the same 128 perms) for golden equality
    return run_pipeline(spark, tiny_pages_df, cfg.with_recall_banding())


def _pipeline_pairs_urls(result, spark):
    id2url = {
        r["doc_id"]: r["url"] for r in result.docs.select("doc_id", "url").collect()
    }
    out = set()
    for r in result.pairs.select("id_a", "id_b", "tier").collect():
        a, b = sorted((id2url[r["id_a"]], id2url[r["id_b"]]))
        out.add((a, b, r["tier"]))
    return out


def test_pair_recall(pipeline_result, oracle_result, spark):
    got = {(a, b) for a, b, _ in _pipeline_pairs_urls(pipeline_result, spark)}
    want = {
        tuple(sorted((r.url_a, r.url_b)))
        for r in oracle_result.pairs.itertuples()
    }
    missing = want - got
    recall = 1 - len(missing) / max(len(want), 1)
    assert recall >= 0.99, f"recall {recall}: missing {sorted(missing)[:5]}"


def test_pair_precision_near_tier(pipeline_result, oracle_result, spark):
    """Every verified near pair must be a true >= threshold Jaccard pair
    (verification is exact, so precision is 1.0 by construction)."""
    got_near = {
        (a, b) for a, b, t in _pipeline_pairs_urls(pipeline_result, spark) if t == "near"
    }
    want_near = {
        tuple(sorted((r.url_a, r.url_b)))
        for r in oracle_result.pairs.itertuples()
        if r.tier == "near"
    }
    assert got_near == want_near


def test_cluster_assignments_match(pipeline_result, oracle_result):
    got = (
        pipeline_result.clusters.select("url", "cluster_id")
        .toPandas()
        .groupby("cluster_id")["url"]
        .apply(lambda s: frozenset(s))
    )
    got_sets = set(got.tolist())
    want_sets = set(
        oracle_result.clusters.groupby("cluster_id")["url"]
        .apply(lambda s: frozenset(s))
        .tolist()
    )
    assert got_sets == want_sets


def test_tier_labels_match(pipeline_result, oracle_result):
    got = {
        r["url"]: r["tier"]
        for r in pipeline_result.clusters.select("url", "tier").collect()
    }
    want = dict(zip(oracle_result.clusters["url"], oracle_result.clusters["tier"]))
    assert got == want


def test_one_representative_per_cluster(pipeline_result):
    agg = (
        pipeline_result.clusters.groupBy("cluster_id")
        .agg(
            F.sum(F.col("is_representative").cast("int")).alias("reps"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    assert all(r["reps"] == 1 for r in agg)
    assert all(r["n"] >= 2 for r in agg)


def test_family_expectations(pipeline_result, tiny_corpus):
    """Planted-family sanity: exact families merge; boilerplate (F4) and
    cross-lang (F6) families never merge; short docs are absent."""
    pages, truth = tiny_corpus
    cl = pipeline_result.clusters.select("url", "cluster_id").toPandas()
    merged = truth.merge(cl, on="url", how="left")

    f1 = merged[merged["family"] == "exact"]
    for _, grp in f1.groupby("family_id"):
        assert grp["cluster_id"].nunique() == 1
        assert grp["cluster_id"].notna().all()

    for fam in ("boilerplate", "xlang"):
        sub = merged[merged["family"] == fam]
        for _, grp in sub.groupby("family_id"):
            clustered = grp[grp["cluster_id"].notna()]
            # members of a negative family must not share a cluster
            assert clustered["cluster_id"].nunique() == len(clustered)

    assert merged[merged["family"] == "short"]["cluster_id"].isna().all()

    f5 = merged[merged["family"] == "substring"]
    found = f5[f5["cluster_id"].notna()]
    assert len(found) >= 0.99 * len(f5)


def test_id_bits_128_same_clusters(spark, tiny_pages_df, cfg, pipeline_result):
    """cfg.id_bits=128: doc_id becomes a struct(h1, h2) key through every
    stage (signatures, LSH, verify, substring, CC, assembly) and the
    resulting clusters are IDENTICAL (as url sets) to the 64-bit run —
    the key width changes, the semantics do not."""
    from dataclasses import replace

    c128 = replace(cfg.with_recall_banding(), id_bits=128)
    r = run_pipeline(spark, tiny_pages_df, c128)
    assert r.clusters.schema["doc_id"].dataType.simpleString().startswith(
        "struct<"
    )
    cl = r.clusters.select(
        "url",
        F.concat_ws(
            "_", F.col("cluster_id.h1"), F.col("cluster_id.h2")
        ).alias("cid"),
        "tier",
        "is_representative",
    ).toPandas()
    got_sets = set(cl.groupby("cid")["url"].apply(frozenset).tolist())
    want_sets = set(
        pipeline_result.clusters.select("url", "cluster_id")
        .toPandas()
        .groupby("cluster_id")["url"]
        .apply(frozenset)
        .tolist()
    )
    assert got_sets == want_sets
    # exactly one representative per cluster under the struct key too
    reps = cl.groupby("cid")["is_representative"].sum()
    assert (reps == 1).all()


def test_partition_count_invariance(spark, tiny_pages_df, cfg):
    """Same clusters regardless of input partitioning (FIXTURES.md §5.3)."""
    c = cfg.with_recall_banding()
    r3 = run_pipeline(spark, tiny_pages_df.repartition(3), c, enable_substring=False)
    r7 = run_pipeline(spark, tiny_pages_df.repartition(7), c, enable_substring=False)
    s3 = {
        (r["url"], r["cluster_id"]) for r in r3.clusters.select("url", "cluster_id").collect()
    }
    s7 = {
        (r["url"], r["cluster_id"]) for r in r7.clusters.select("url", "cluster_id").collect()
    }
    assert s3 == s7


def test_threshold_monotonicity(spark, tiny_pages_df, cfg):
    """Raising the Jaccard threshold never adds pairs (FIXTURES.md §5.4)."""
    from dataclasses import replace

    lo = run_pipeline(spark, tiny_pages_df, cfg.with_recall_banding(), enable_substring=False)
    hi_cfg = replace(cfg.with_recall_banding(), jaccard_threshold=0.95)
    hi = run_pipeline(spark, tiny_pages_df, hi_cfg, enable_substring=False)
    lo_pairs = {
        (r["id_a"], r["id_b"])
        for r in lo.pairs.where("tier = 'near'").collect()
    }
    hi_pairs = {
        (r["id_a"], r["id_b"])
        for r in hi.pairs.where("tier = 'near'").collect()
    }
    assert hi_pairs <= lo_pairs


def test_concurrent_tiers_durable_checkpoints(spark, tiny_pages_df, cfg, tmp_path):
    """Concurrent tier threads against a DURABLE checkpoint dir: every
    stage still lands exactly one completed table + one metrics row (the
    metrics appends are serialized by the manager's lock), and a rerun
    resumes every stage."""
    c = cfg.with_recall_banding()
    r1 = run_pipeline(spark, tiny_pages_df, c, checkpoint_dir=str(tmp_path))
    r1.clusters.count()
    stages = set(r1.ckpt.computed_stages)
    assert {"docs", "exact", "signatures", "candidates", "shingle_sets",
            "verified", "substring", "edges", "components",
            "clusters"} <= stages
    m = r1.ckpt.stage_metrics().toPandas()
    # one metrics row per computed stage, none lost to a concurrent append
    assert sorted(m["stage"].tolist()) == sorted(stages)
    r2 = run_pipeline(spark, tiny_pages_df, c, checkpoint_dir=str(tmp_path))
    assert r2.ckpt.computed_stages == []
    assert set(r2.ckpt.resumed_stages) == stages
    got = {
        (r["url"], r["cluster_id"])
        for r in r2.clusters.select("url", "cluster_id").collect()
    }
    want = {
        (r["url"], r["cluster_id"])
        for r in r1.clusters.select("url", "cluster_id").collect()
    }
    assert got == want


def test_shingle_sets_stage_covers_candidate_endpoints(
    spark, tiny_pages_df, cfg, monkeypatch
):
    """The verify payload is one eager stage at every candidate count: a
    disabled-mode op counts shingle_sets, one row per distinct endpoint
    of the candidates stage."""
    from duplicate_image_detector_spark.sources.checkpoints import (
        CheckpointManager,
    )

    stages = {}
    run = CheckpointManager.run

    def spy(self, stage, fn, eager=True):
        stages[stage] = run(self, stage, fn, eager)
        return stages[stage]

    monkeypatch.setattr(CheckpointManager, "run", spy)
    res = run_pipeline(spark, tiny_pages_df, cfg)
    try:
        endpoints = (
            stages["candidates"]
            .select(F.explode(F.array("id_a", "id_b")).alias("doc_id"))
            .distinct()
            .count()
        )
        assert endpoints > 0, "non-vacuous"
        assert res.ckpt.stage_rows["shingle_sets"] == endpoints
    finally:
        res.ckpt.unpersist_all()


def test_pipeline_op_reads_its_stage_caches(spark, tiny_pages_df, cfg):
    """One disabled-mode op plus one action on its clusters stays under a
    Spark job budget: every stage reads its upstream stage caches instead
    of re-running the candidate arms.  A union over a lineage that holds a
    nested distinct-over-union is flattened by CombineUnions and misses
    those caches; with this session (local[4], 8 shuffle partitions,
    1m broadcast threshold) that shape measured 115 jobs per op; the
    explode/aggregate shapes with the eager shingle_sets stage measure 68,
    identical over 3 repeats."""
    tracker = spark.sparkContext.statusTracker()

    def last_job_id():
        return max(tracker.getJobIdsForGroup(None), default=-1)

    before = last_job_id()
    res = run_pipeline(spark, tiny_pages_df, cfg)
    try:
        res.clusters.count()
    finally:
        res.ckpt.unpersist_all()
    jobs = last_job_id() - before
    assert jobs <= 80, f"{jobs} Spark jobs for one pipeline op"
