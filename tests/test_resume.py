"""Crash-resume: completed stages are never recomputed; results identical.

North-rule requirement (FIXTURES.md §5.5): kill after stage k, rerun, final
clusters identical and `stage_metrics` shows stages < k untouched — the
reference's config-hash cache contract (/root/reference/duplicate-detector.py
:439-451, 2700-2718) generalized to every stage.
"""

from __future__ import annotations

from dataclasses import replace

import pytest

import duplicate_image_detector_spark.operators.simhash as simhash_mod
import duplicate_image_detector_spark.plans.pipeline as pipeline_mod
from duplicate_image_detector_spark.operators.lsh import lsh_candidate_pairs
from duplicate_image_detector_spark.plans.pipeline import (
    pipeline_extra_key,
    run_pipeline,
)
from duplicate_image_detector_spark.sources.checkpoints import (
    CacheScope,
    CheckpointManager,
)


def _cluster_set(result):
    return {
        (r["url"], r["cluster_id"])
        for r in result.clusters.select("url", "cluster_id").collect()
    }


def test_resume_skips_completed_stages(spark, tiny_pages_df, cfg, tmp_path):
    c = cfg.with_recall_banding()
    base = str(tmp_path / "ckpt")

    r1 = run_pipeline(spark, tiny_pages_df, c, checkpoint_dir=base, enable_substring=False)
    full = _cluster_set(r1)
    assert r1.ckpt.computed_stages and not r1.ckpt.resumed_stages

    # simulate a crash after "candidates": drop later stage markers
    # (manager keyed exactly like the run: config hash + run-level flags)
    mgr = CheckpointManager(
        spark, base, c, extra_key=pipeline_extra_key(enable_substring=False)
    )
    for stage in ("shingle_sets", "verified", "edges", "components", "clusters"):
        mgr.invalidate(stage)

    r2 = run_pipeline(spark, tiny_pages_df, c, checkpoint_dir=base, enable_substring=False)
    assert _cluster_set(r2) == full
    assert set(r2.ckpt.resumed_stages) == {"docs", "signatures", "exact", "candidates"}
    assert set(r2.ckpt.computed_stages) == {
        "shingle_sets", "verified", "edges", "components", "clusters"
    }

    # a third run resumes everything
    r3 = run_pipeline(spark, tiny_pages_df, c, checkpoint_dir=base, enable_substring=False)
    assert not r3.ckpt.computed_stages
    assert _cluster_set(r3) == full


def test_config_change_invalidates_cache(spark, tiny_pages_df, cfg, tmp_path):
    base = str(tmp_path / "ckpt2")
    c1 = cfg.with_recall_banding()
    c2 = replace(c1, jaccard_threshold=0.95)
    r1 = run_pipeline(spark, tiny_pages_df, c1, checkpoint_dir=base, enable_substring=False)
    r2 = run_pipeline(spark, tiny_pages_df, c2, checkpoint_dir=base, enable_substring=False)
    # different config hash -> nothing resumed
    assert not r2.ckpt.resumed_stages
    assert c1.config_hash() != c2.config_hash()


def test_stage_metrics_lineage(spark, tiny_pages_df, cfg, tmp_path):
    base = str(tmp_path / "ckpt3")
    c = cfg.with_recall_banding()
    r = run_pipeline(spark, tiny_pages_df, c, checkpoint_dir=base, enable_substring=False)
    metrics = r.ckpt.stage_metrics().toPandas()
    stages = set(metrics["stage"])
    assert {"docs", "signatures", "exact", "candidates", "verified", "edges",
            "components", "clusters"} <= stages
    assert (metrics["rows_out"] >= 0).all()
    assert (metrics["wall_ms"] >= 0).all()
    import json

    for _, row in metrics.iterrows():
        parts = json.loads(row["partition_rows"])
        assert sum(parts.values()) == row["rows_out"]


def test_flag_change_invalidates_cache(spark, tiny_pages_df, cfg, tmp_path):
    """Run-level flags are part of the checkpoint key: flipping
    enable_substring on the same checkpoint_dir must recompute, not resume
    stale 'edges' (the resume-contract violation flagged in review)."""
    base = str(tmp_path / "ckpt4")
    c = cfg.with_recall_banding()
    r1 = run_pipeline(spark, tiny_pages_df, c, checkpoint_dir=base,
                      enable_substring=False)
    assert r1.ckpt.computed_stages
    r2 = run_pipeline(spark, tiny_pages_df, c, checkpoint_dir=base,
                      enable_substring=True)
    assert not r2.ckpt.resumed_stages
    assert set(r2.ckpt.computed_stages) >= {"docs", "edges", "clusters"}


def test_cache_scope_close_warns_and_releases_the_rest(caplog):
    released = []

    class Cache:
        def __init__(self, name, fail=False):
            self.name, self.fail = name, fail

        def unpersist(self):
            if self.fail:
                raise RuntimeError(f"{self.name} is gone")
            released.append(self.name)

    scope = CacheScope()
    for cache in (Cache("c"), Cache("b", fail=True), Cache("a")):
        scope.adopt(cache)
    with caplog.at_level("WARNING"):
        scope.close()  # LIFO: a, b, c
    assert released == ["a", "c"]
    assert "b is gone" in caplog.text
    assert len(scope) == 0


def _cached_rdds(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _boom(*args, **kwargs):
    raise RuntimeError("injected crash")


def test_failed_run_releases_every_cache(spark, tiny_pages_df, cfg, monkeypatch):
    """A stage that raises leaves no stage cache behind (disabled mode)."""
    monkeypatch.setattr(pipeline_mod, "connected_components", _boom)
    before = _cached_rdds(spark)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_pipeline(spark, tiny_pages_df, cfg)
    assert _cached_rdds(spark) == before


def test_failed_arm_releases_the_other_arms_cache(
    spark, tiny_pages_df, cfg, monkeypatch
):
    """The SimHash arm raises while the LSH arm has already filled its
    band cache: the candidate scope releases that cache too."""
    live_in_scope = []

    def lsh_arm(sig, cfg, scope=None):
        out = lsh_candidate_pairs(sig, cfg, scope=scope)
        live_in_scope.append(len(scope))
        return out

    monkeypatch.setattr(pipeline_mod, "lsh_candidate_pairs", lsh_arm)
    monkeypatch.setattr(simhash_mod, "simhash_hamming_pairs", _boom)
    before = _cached_rdds(spark)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_pipeline(spark, tiny_pages_df, cfg)
    assert live_in_scope == [1]  # the band cache existed when the arm failed
    assert _cached_rdds(spark) == before
