"""Daily-crawl loop composed end-to-end (plans/daily.py): multi-day
equivalence with the batch pipeline, mid-day crash resume, re-crawl
dropping, deletion preservation, idempotent day commits."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import duplicate_image_detector_spark.plans.daily as daily_mod
from duplicate_image_detector_spark.plans.daily import DailyDedup
from duplicate_image_detector_spark.plans.pipeline import run_pipeline


def _assignment(df):
    return {(r["doc_id"], r["cluster_id"]) for r in df.collect()}


def _batch_assignment(spark, pages, cfg):
    res = run_pipeline(spark, pages, cfg)
    got = _assignment(res.clusters.select("doc_id", "cluster_id"))
    res.ckpt.unpersist_all()
    return got


def test_daily_loop_end_to_end(spark, tiny_corpus, cfg, tmp_path, monkeypatch):
    pages_pd, _ = tiny_corpus
    pages = spark.createDataFrame(pages_pd[["url", "text"]]).persist()
    pages.count()
    day_of = F.pmod(F.xxhash64("url"), F.lit(3))
    day_pages = [pages.where(day_of == d).persist() for d in range(3)]
    unions = [pages.where(day_of <= d) for d in range(3)]

    dd = DailyDedup(spark, str(tmp_path / "state"), cfg)

    # ---- day 1: no special bootstrap; equals the batch run on day-1 pages
    s1 = dd.run_day(day_pages[0], "d1")
    assert not s1.get("skipped") and s1["n_delta_docs"] > 0
    got1 = _assignment(
        dd.store.read(include_deleted=True).select("doc_id", "cluster_id")
    )
    want1 = _batch_assignment(spark, day_pages[0], cfg)
    assert want1, "day-1 fixture must produce clusters (non-vacuous)"
    assert got1 == want1

    # ---- reviewer deletes one clustered doc between crawls
    victim = next(iter(got1))[0]
    dd.store.soft_delete([int(victim)])

    # ---- day 2: crash mid-run (after pairs, before clusters), then resume
    orig = daily_mod.incremental_update_clusters

    def boom(*a, **k):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(daily_mod, "incremental_update_clusters", boom)
    # day-2 input includes a re-crawl of a day-1 url (changed text): urls
    # are immutable content keys, so the re-crawl must be dropped
    recrawl = day_pages[0].limit(1).select(
        "url", F.concat(F.lit("CHANGED "), "text").alias("text")
    )
    d2_pages = day_pages[1].unionByName(recrawl)
    with pytest.raises(RuntimeError, match="injected crash"):
        dd.run_day(d2_pages, "d2")
    monkeypatch.setattr(daily_mod, "incremental_update_clusters", orig)

    # the crash landed after the pairs stage: resume must not recompute it
    assert dd._ckpt("d2").is_complete("pairs")
    assert dd.days() == ["d1"]  # the day never committed
    s2 = dd.run_day(d2_pages, "d2")
    assert dd.days() == ["d1", "d2"]

    # re-crawled url dropped: delta size == day-2's own valid docs
    n_d2_valid = (
        day_pages[1]
        .where(
            F.col("text").isNotNull()
            & (F.length("text") >= cfg.min_text_len)
        )
        .count()
    )
    assert s2["n_delta_docs"] == n_d2_valid

    # two-day state equals the batch run over day-1 ∪ day-2 pages
    got2 = _assignment(
        dd.store.read(include_deleted=True).select("doc_id", "cluster_id")
    )
    assert got2 == _batch_assignment(spark, unions[1], cfg)

    # the deletion survived the refresh (the ledger, not the snapshot,
    # is the durable record)
    status = {
        r["doc_id"]: r["status"]
        for r in dd.store.read(include_deleted=True).collect()
    }
    assert status[victim] == "deleted"

    # ---- day 3 on a fresh driver object (state is durable, not cached)
    dd3 = DailyDedup(spark, str(tmp_path / "state"), cfg)
    dd3.run_day(day_pages[2], "d3")
    got3 = _assignment(
        dd3.store.read(include_deleted=True).select("doc_id", "cluster_id")
    )
    assert got3 == _batch_assignment(spark, unions[2], cfg)
    status3 = {
        r["doc_id"]: r["status"]
        for r in dd3.store.read(include_deleted=True).collect()
    }
    assert status3[victim] == "deleted"

    # ---- committed days are idempotent no-ops
    assert dd3.run_day(day_pages[0], "d1") == {"day": "d1", "skipped": True}

    for d in day_pages:
        d.unpersist()
    pages.unpersist()


def _mk_day(spark, d):
    """Six docs: one text shared by EVERY day (a cross-day exact chain
    through the semi-filtered pivot arm), one near-dup family keyed by
    day parity, three day-unique fillers."""
    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    near = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu"
        + ("" if d % 2 else " extra")
    )
    rows = [(f"u{d}_base", base), (f"u{d}_near", near)] + [
        (f"u{d}_{i}", f"day {d} unique document number {i} padded out " * 4)
        for i in range(3)
    ]
    return spark.createDataFrame(rows, "url string, text string")


def test_daily_compaction_equivalence(spark, cfg, tmp_path):
    """Eight days with compact_threshold=3: assignments identical to an
    uncompacted run AND to the batch pipeline over the union; the
    manifest records the fold; corpus-state readers plan a bounded
    number of parquet inputs regardless of day count."""
    days = [_mk_day(spark, d) for d in range(8)]
    a = DailyDedup(spark, str(tmp_path / "comp"), cfg, compact_threshold=3)
    b = DailyDedup(spark, str(tmp_path / "nocomp"), cfg, compact_threshold=999)
    for d, pages in enumerate(days):
        a.run_day(pages, f"d{d}")
        b.run_day(pages, f"d{d}")
    ga = _assignment(
        a.store.read(include_deleted=True).select("doc_id", "cluster_id")
    )
    gb = _assignment(
        b.store.read(include_deleted=True).select("doc_id", "cluster_id")
    )
    assert ga and ga == gb

    manifest = a._manifest()
    runs = manifest["runs"]
    assert runs and runs[0]["from"] == 0
    # runs are contiguous and cover a prefix of the committed days
    for prev, cur in zip(runs, runs[1:]):
        assert cur["from"] == prev["through"]
    assert runs[-1]["through"] >= 4
    # runs + tail: O(log days) run dirs + at most threshold + 1 day dirs
    assert len(a._state_paths("signatures")) <= len(runs) + 3 + 1
    assert len(b._state_paths("signatures")) == 8
    # docs TEXT never folds — it always reads the immutable day dirs —
    # while the narrow docs_meta projection reads the folded runs
    assert len(a._state_paths("docs")) == 8
    assert len(a._state_paths("docs_meta")) <= len(runs) + 3 + 1

    union = days[0]
    for p in days[1:]:
        union = union.unionByName(p)
    assert ga == _batch_assignment(spark, union, cfg)


def test_exact_cross_pairs_semi_filters_old_keys(spark):
    """The exact tier's pivot aggregate must run over delta-TOUCHED old
    keys only (a LeftSemi join feeds the groupBy) — without it the loop
    shuffles the FULL corpus key store every day — and semantics must
    equal the unfiltered-pivot formulation."""
    from duplicate_image_detector_spark.plans.daily import exact_cross_pairs

    old_keys = spark.createDataFrame(
        [(1, "k1"), (2, "k1"), (3, "k2"), (4, "k3"), (5, "k3"), (6, "k3")],
        "doc_id long, text_sha256 string",
    )
    exact_keys = spark.createDataFrame(
        [(100, "k1"), (101, "k2"), (102, "k9")],
        "doc_id long, text_sha256 string",
    )
    out = exact_cross_pairs(exact_keys, old_keys, approx_delta_keys=3)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan, plan
    got = {(r["id_a"], r["id_b"], r["score"], r["tier"]) for r in out.collect()}
    assert got == {(1, 100, 1.0, "exact"), (3, 101, 1.0, "exact")}
    # the semi-filter must sit BELOW the pivot aggregate (filter-then-
    # aggregate, not aggregate-then-filter): the Aggregate's child
    # subtree contains the LeftSemi join
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert analyzed.index("Aggregate") < analyzed.index("LeftSemi"), analyzed


def test_daily_rejects_id128(spark, tmp_path, cfg):
    from dataclasses import replace

    with pytest.raises(ValueError, match="id_bits=64"):
        DailyDedup(spark, str(tmp_path / "s"), replace(cfg, id_bits=128))


def test_daily_store_vacuum_bounds_versions(spark, cfg, tmp_path):
    """With store_grace_versions=0 the loop expires unreferenced store
    versions after every day's commit: every surviving version dir is a
    manifest pointer target, and the readable assignment still equals
    an un-vacuumed run of the same days."""
    import json
    import os

    kw = dict(hash_kind="poly", enable_substring=False)
    a = DailyDedup(
        spark, str(tmp_path / "a"), cfg, store_grace_versions=0, **kw
    )
    b = DailyDedup(
        spark, str(tmp_path / "b"), cfg, store_grace_versions=None, **kw
    )
    for d in range(4):
        day = _mk_day(spark, d)
        a.run_day(day, f"d{d}")
        b.run_day(day, f"d{d}")

    sdir = tmp_path / "a" / "store"
    meta = json.loads((sdir / "_LATEST").read_text())
    live = {int(meta["version"])} | {
        int(v) for v in meta["buckets"].values()
    }
    on_disk = {
        int(n[1:])
        for n in os.listdir(sdir)
        if n.startswith("v") and n[1:].isdigit()
    }
    assert on_disk == live
    # un-vacuumed control accrued more dirs than the vacuumed store
    on_disk_b = {
        n
        for n in os.listdir(tmp_path / "b" / "store")
        if n.startswith("v")
    }
    assert len(on_disk_b) >= len(on_disk)
    got_a = _assignment(
        a.store.read(include_deleted=True).select("doc_id", "cluster_id")
    )
    got_b = _assignment(
        b.store.read(include_deleted=True).select("doc_id", "cluster_id")
    )
    assert got_a == got_b and got_a


def test_geometric_fold_policy_bounds_rewrites(spark, tmp_path):
    """20 synthetic days against the fold policy alone (tiny parquet day
    dirs, no pipeline runs): runs stay contiguous and O(log days), docs
    text never folds, _state content is lossless across folds, and total
    fold I/O (in day-spans read) is within the LSM O(N log N) bound —
    NOT the single-tier O(N^2/threshold)."""
    import math
    import os

    dd = DailyDedup(spark, str(tmp_path / "state"), compact_threshold=3)
    os.makedirs(dd.state_dir, exist_ok=True)
    n_days = 20
    for d in range(n_days):
        day = f"d{d:02d}"
        ck = dd._ckpt(day)
        spark.createDataFrame(
            [(d, f"u{d}", f"text {d}")], "doc_id long, url string, text string"
        ).write.parquet(ck.stage_path("docs"))
        spark.createDataFrame(
            [(d, d * 10)], "doc_id long, sig long"
        ).write.parquet(ck.stage_path("signatures"))
        dd._append_day(day)
        dd.compact_state()

    manifest = dd._manifest()
    runs = manifest["runs"]
    assert runs[0]["from"] == 0
    for prev, cur in zip(runs, runs[1:]):
        assert cur["from"] == prev["through"]
    # O(log days) runs, bounded tail
    assert len(runs) <= int(math.log2(n_days)) + 1
    assert n_days - runs[-1]["through"] <= dd.compact_threshold

    # docs text reads day dirs only; folded stages read runs + tail
    assert len(dd._state_paths("docs")) == n_days
    assert len(dd._state_paths("signatures")) <= len(runs) + dd.compact_threshold

    # lossless: the folded signature state equals the union of all days
    sig = dd._state("signatures")
    assert {(r["doc_id"], r["sig"]) for r in sig.collect()} == {
        (d, d * 10) for d in range(n_days)
    }
    meta = dd._state_docs_meta()
    assert {(r["doc_id"], r["url"]) for r in meta.collect()} == {
        (d, f"u{d}") for d in range(n_days)
    }

    # amortized cost: total day-spans read across all folds+merges is
    # O(N log N); the single-tier scheme would have read
    # sum_{k} k*threshold ~ N^2/(2*threshold) day-spans (here ~66 at
    # N=20, t=3 — the LSM bound is well under it)
    hist = manifest["fold_history"]
    total_read = sum(h["folded"] + sum(h["merged_spans"]) for h in hist)
    assert total_read <= n_days * (int(math.log2(n_days)) + 2)


def test_run_day_leaves_no_cache(spark, tiny_corpus, cfg, tmp_path):
    """run_day releases every cache it makes: the live cached-RDD count
    is the same before and after each day (first day and cross-day)."""
    pages_pd, _ = tiny_corpus
    pages = spark.createDataFrame(pages_pd[["url", "text"]])
    day_of = F.pmod(F.xxhash64("url"), F.lit(2))
    dd = DailyDedup(spark, str(tmp_path / "state"), cfg)
    jsc = spark.sparkContext._jsc
    for d in range(2):
        before = jsc.getPersistentRDDs().size()
        dd.run_day(pages.where(day_of == d), f"d{d}")
        assert jsc.getPersistentRDDs().size() == before
