"""Crash-resume: completed stages are never recomputed; results identical.

North-rule requirement (FIXTURES.md §5.5): kill after stage k, rerun, final
clusters identical and `stage_metrics` shows stages < k untouched — the
reference's config-hash cache contract (/root/reference/duplicate-detector.py
:439-451, 2700-2718) generalized to every stage.
"""

from __future__ import annotations

from dataclasses import replace

from duplicate_image_detector_spark.plans.pipeline import (
    pipeline_extra_key,
    run_pipeline,
)
from duplicate_image_detector_spark.sources.checkpoints import CheckpointManager


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


def test_unpersist_all_warns_and_releases_the_rest(cfg, caplog):
    released = []

    class Cache:
        def __init__(self, name, fail=False):
            self.name, self.fail = name, fail

        def unpersist(self):
            if self.fail:
                raise RuntimeError(f"{self.name} is gone")
            released.append(self.name)

    ckpt = CheckpointManager(None, "", cfg, enabled=False)
    ckpt._persisted.extend([Cache("a"), Cache("b", fail=True), Cache("c")])
    with caplog.at_level("WARNING"):
        ckpt.unpersist_all()
    assert released == ["a", "c"]
    assert "b is gone" in caplog.text
    assert not ckpt._persisted
