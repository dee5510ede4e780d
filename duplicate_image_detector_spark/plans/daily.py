"""Daily-crawl dedup driver: the incremental pieces composed end-to-end.

The reference processes a directory once and caches per-file work
(/root/reference/duplicate-detector.py:2700-2718 — only new/changed files
re-hash).  At webtext scale the analogous production shape is a DAILY
LOOP: yesterday's corpus is already signed and clustered; today's crawl
delta must be deduped against it without re-running the corpus-wide
self-join.  This module chains the individually-gated operators into that
loop, with durable per-day checkpoints and crash resume:

    run_day(pages, day):
      docs        delta pages -> (doc_id, url, text) after validity +
                  anti-join against the corpus (re-crawled urls dropped)
      signatures  compute_signatures(delta) — appended to the store that
                  future days read as ``existing_sig`` (the precomputed-
                  signature fast path, never recomputed)
      exact_keys  (doc_id, sha256(text)) — the exact tier's key store
      substr_fps  content-defined fingerprints — the substring tier's store
      pairs       all three evidence tiers, delta-touching only:
                    exact:     within-delta stars UNION delta keys joined
                               against ONE pivot row per distinct TOUCHED
                               old key (the old key store is broadcast-
                               semi-filtered to the delta's keys BEFORE
                               the min-doc_id pivot aggregate, so the
                               per-day cost is O(delta-touched keys), not
                               an O(corpus) groupBy) — connectivity-exact
                               with no cap or recall loss: old members of
                               the key already connect to that pivot in
                               the old clustering
                    near:      incremental_near_pairs(existing_sig=store)
                               (LSH + SimHash arms, capped cross join)
                    substring: delta fingerprints self-join UNION
                               delta-vs-store fp equi-join (old-side
                               pivot-capped for the same cost bound as the
                               near tier — but NOT the same recall
                               guarantee: fp-bucket members share one
                               64-char gram, not a whole band, so they are
                               not guaranteed connected in the old
                               clustering and an over-cap fp bucket can
                               lose true >=400-char span pairs; exact/band
                               pivots have no such loss), anchored
                               span verify — one kernel with the batch path
      clusters    incremental_update_clusters: touched components only
      store       ClusterStore.init (first day) / apply_update (soft-delete
                  status preserved across refreshes by the deletion ledger)

Equivalence contract (tested in tests/test_daily.py): in the under-cap
regime, after any number of days the store's (doc_id, cluster_id)
assignment EQUALS run_pipeline() over the union of all days' pages.  The
first day needs no special bootstrap — with an empty corpus every cross
arm is empty and the within-delta arms ARE the batch generators.

Cost per day is O(|delta| + |touched|): the corpus contributes one scan
of its signature/key/fingerprint stores (equi-joined on delta buckets),
text reads for candidate endpoints only, and cluster relabeling for
touched components only — never a corpus-wide shuffle.

Crash semantics: every stage is a config-hash-keyed CheckpointManager
stage, so a rerun of an interrupted day resumes at the first incomplete
stage.  The day is appended to the manifest only after the store commit;
a crash between commit and manifest append makes the rerun re-commit an
identical snapshot (a new version, same rows) — versions are cheap,
corruption impossible.  Urls are treated as immutable content keys (a
re-crawl of a known url is dropped); content updates are modeled as
delete + new url, matching crawl-snapshot conventions.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duplicate_image_detector_spark.config import PipelineConfig
from duplicate_image_detector_spark.functions.text import text_sha256_col
from duplicate_image_detector_spark.operators.exact import (
    exact_clusters,
    exact_pair_edges,
)
from duplicate_image_detector_spark.operators.incremental_pairs import (
    _chunk_rows,
    _delta_cross_candidates,
    _semi_filter_to_delta,
    incremental_near_pairs,
    incremental_update_clusters,
    touched_member_ids,
)
from duplicate_image_detector_spark.operators.lsh import explode_bands
from duplicate_image_detector_spark.operators.signatures import (
    compute_signatures,
)
from duplicate_image_detector_spark.operators.substring import (
    fingerprint_candidate_pairs,
    fingerprint_docs,
    verify_span_pairs,
)
from duplicate_image_detector_spark.sources.checkpoints import (
    CacheScope,
    CheckpointManager,
)
from duplicate_image_detector_spark.sources.cluster_store import ClusterStore

_MANIFEST = "_DAYS.json"
_STATE_STAGES = (
    "docs", "signatures", "band_rows", "chunk_rows", "exact_keys",
    "substr_fps",
)
#: stages a compaction fold consolidates.  ``docs`` is deliberately NOT
#: here: its text column dominates corpus bytes and no fold consumer
#: needs it moved — folds carry only the narrow ``docs_meta`` projection
#: (doc_id, url), while text stays in the immutable per-day dirs and is
#: read per-candidate (column-pruned) by the verify stages.
_FOLD_STAGES = (
    "docs_meta", "signatures", "band_rows", "chunk_rows", "exact_keys",
    "substr_fps",
)


def exact_cross_pairs(
    exact_keys: DataFrame,
    old_keys: DataFrame,
    approx_delta_keys: int | None = None,
) -> DataFrame:
    """Delta exact-hash keys joined against ONE pivot row per distinct
    old key (min old doc_id) -> (id_a, id_b, score, tier) exact-tier
    cross edges.

    The old key store is SEMI-FILTERED to the delta's key set before
    the pivot groupBy (broadcast filter when ``approx_delta_keys`` is
    within ``BROADCAST_KEY_LIMIT`` — the same treatment
    ``_delta_cross_candidates`` gives the band/chunk indexes), so the
    pivot aggregate runs over O(|delta-touched keys|) rows instead of
    shuffling the FULL corpus key store every day.  Semantics are
    identical: a pivot for a key the delta does not touch produces no
    join rows.  Connectivity-exact with no cap or recall loss — old
    members of a key already connect to its min-id pivot in the old
    clustering (see module doc)."""
    touched = _semi_filter_to_delta(
        old_keys, exact_keys, ["text_sha256"], approx_delta_keys
    )
    pivots = touched.groupBy("text_sha256").agg(
        F.min("doc_id").alias("_old")
    )
    return (
        exact_keys.join(pivots, "text_sha256")
        .select(
            F.least("doc_id", "_old").alias("id_a"),
            F.greatest("doc_id", "_old").alias("id_b"),
            F.lit(1.0).alias("score"),
            F.lit("exact").alias("tier"),
        )
        .where(F.col("id_a") != F.col("id_b"))
    )


@dataclass
class DailyDedup:
    """Durable daily-dedup state rooted at ``state_dir``.

    Layout: ``{state_dir}/days/{day}/`` per-day CheckpointManager roots,
    ``{state_dir}/store/`` the serving ClusterStore,
    ``{state_dir}/_DAYS.json`` the committed-day manifest (append order =
    corpus accretion order).
    """

    spark: SparkSession
    state_dir: str
    cfg: PipelineConfig = field(default_factory=PipelineConfig)
    hash_kind: str = "poly"
    enable_substring: bool = True
    #: fold the per-day state tail into a new run once more than this
    #: many uncompacted days have accrued; runs then merge geometrically
    #: (LSM-style — see ``compact_state``).  Without folds every
    #: ``_state`` reader plans one parquet input PER COMMITTED DAY
    #: (10^3 inputs after 3 years); with them the planner sees
    #: O(log days) run dirs + at most ``compact_threshold`` day dirs,
    #: and a day's index rows are rewritten O(log days) times total.
    compact_threshold: int = 16
    #: after each day's store commit, expire snapshot versions no bucket
    #: pointer references, keeping this many trailing versions as a
    #: time-travel window for concurrent readers (ClusterStore.vacuum;
    #: crashed above-latest commits stay TTL-guarded).  None disables —
    #: versions then accrue one per day, forever.
    store_grace_versions: int | None = 7

    def __post_init__(self) -> None:
        # the loop derives doc_id as xxhash64(url) and keeps bigint key
        # stores; running it under a 128-bit config would silently apply
        # 64-bit collision math while checkpoint config-hashes claimed
        # 128-bit semantics (run_pipeline supports id_bits=128; the daily
        # loop does not yet)
        if getattr(self.cfg, "id_bits", 64) != 64:
            raise ValueError(
                "DailyDedup supports id_bits=64 only; use run_pipeline "
                "for 128-bit ids"
            )

    # -- manifest --------------------------------------------------------

    def _manifest(self) -> dict:
        p = os.path.join(self.state_dir, _MANIFEST)
        if not os.path.exists(p):
            return {"days": []}
        with open(p) as fh:
            return json.load(fh)

    def _write_manifest(self, manifest: dict) -> None:
        tmp = os.path.join(self.state_dir, _MANIFEST + ".tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, os.path.join(self.state_dir, _MANIFEST))

    def days(self) -> list[str]:
        return self._manifest()["days"]

    def _append_day(self, day: str) -> None:
        manifest = self._manifest()
        manifest["days"] = manifest["days"] + [day]
        self._write_manifest(manifest)

    # -- corpus-state readers (union over committed days) ----------------

    def _ckpt(self, day: str) -> CheckpointManager:
        return CheckpointManager(
            self.spark,
            os.path.join(self.state_dir, "days", day),
            self.cfg,
            extra_key=json.dumps(
                {
                    "day": day,
                    "hash_kind": self.hash_kind,
                    "substring": self.enable_substring,
                },
                sort_keys=True,
            ),
        )

    def _runs(self, manifest: dict) -> list[dict]:
        """Ordered, contiguous-from-0 fold runs: each
        ``{"version", "from", "through"}`` covers days [from, through).
        A legacy single-fold manifest ("compact") reads as one run."""
        if "runs" in manifest:
            return manifest["runs"]
        compact = manifest.get("compact")
        if compact:
            return [
                {
                    "version": compact["version"],
                    "from": 0,
                    "through": compact["through"],
                }
            ]
        return []

    def _run_dir(self, run: dict, stage: str) -> str:
        return os.path.join(
            self.state_dir, "compact", f"v{run['version']:04d}", stage
        )

    def _state_paths(self, stage: str) -> list[str]:
        """The parquet inputs holding one durable stage.

        ``docs`` (the only text-carrying stage) always reads the
        immutable per-day dirs — folds never move text.  Every other
        stage reads the fold runs (O(log days) of them under the
        geometric policy) plus the per-day dirs committed after the last
        run.  Paths that were never written are skipped (a stage can be
        disabled, e.g. ``substr_fps`` with ``enable_substring=False``;
        ``docs_meta`` is absent from legacy pre-runs folds, whose days
        then read from the day dirs)."""
        assert stage in _STATE_STAGES or stage in _FOLD_STAGES, stage
        manifest = self._manifest()
        paths: list[str] = []
        covered = 0
        if stage != "docs":
            for run in self._runs(manifest):
                p = self._run_dir(run, stage)
                if run["from"] == covered and os.path.exists(p):
                    paths.append(p)
                    covered = run["through"]
                else:
                    break
        day_stage = "docs" if stage == "docs_meta" else stage
        paths.extend(
            self._ckpt(day).stage_path(day_stage)
            for day in manifest["days"][covered:]
        )
        return [p for p in paths if os.path.exists(p)]

    def _state(self, stage: str) -> DataFrame | None:
        """Union of one durable stage across the committed corpus — the
        corpus-side store the delta joins against.  Parquet column
        pruning keeps narrow reads narrow (e.g. the anti-join reads only
        ``doc_id``)."""
        paths = self._state_paths(stage)
        if not paths:
            return None
        return self.spark.read.parquet(*paths)

    def _state_docs_meta(self) -> DataFrame | None:
        """(doc_id, url) for the committed corpus — the NARROW docs
        projection every non-verify consumer (re-crawl anti-join, store
        snapshot urls) needs.  Reads fold runs where they exist and
        per-day docs dirs for the tail, projecting away text either way
        (parquet column pruning: text bytes are never read here)."""
        paths = self._state_paths("docs_meta")
        if not paths:
            return None
        return self.spark.read.parquet(*paths).select("doc_id", "url")

    def compact_state(self) -> dict | None:
        """Geometric (LSM-style) state compaction: fold the per-day tail
        into a new run once more than ``compact_threshold`` uncompacted
        days have accrued, then merge adjacent runs while the newer is
        at least as large (in days covered) as the older.  Returns the
        fold record ({"folded", "merged", "runs"}), or None when below
        threshold.

        Why: ``_state`` unions one parquet dir per committed day — after
        10^3 days every corpus-side join plans 10^3 inputs and the
        planner's file listing dominates.  After folds the planner sees
        O(log days) run dirs plus at most ``compact_threshold`` recent
        day-dirs.

        Cost/amortization: each fold reads only the tail days (or, on a
        merge, two adjacent runs of equal order), so a given day's rows
        are rewritten O(log total_days) times over the store's life —
        the LSM bound — versus O(total_days / threshold) full-corpus
        rewrites under a single-tier fold.  ``docs`` text never folds at
        all (see ``_FOLD_STAGES``): at the module's 10^12-doc design
        point the old single-tier fold moved ~corpus-size text bytes
        every ``threshold`` days for no consumer; folds now carry only
        the narrow ``docs_meta`` (doc_id, url) projection.

        Crash-safe: run dirs are fully written under NEW version paths
        before the manifest swap (write-then-swap, same as the day
        commit); a crash mid-fold leaves orphan dirs that are deleted
        (best-effort) after the next successful swap."""
        import shutil

        manifest = self._manifest()
        runs = list(self._runs(manifest))
        covered = runs[-1]["through"] if runs else 0
        n_days = len(manifest["days"])
        if n_days - covered <= self.compact_threshold:
            return None
        seq = int(manifest.get("compact_seq", 0))
        for r in runs:
            seq = max(seq, int(r["version"]) + 1)

        def _write_run(paths_by_stage: dict, lo: int, hi: int) -> dict:
            nonlocal seq
            run = {"version": seq, "from": lo, "through": hi}
            seq += 1
            for stage, paths in paths_by_stage.items():
                if not paths:
                    continue
                df = self.spark.read.parquet(*paths)
                if stage == "docs_meta":
                    df = df.select("doc_id", "url")
                df.write.mode("overwrite").parquet(self._run_dir(run, stage))
            return run

        # 1. fold the tail days into a new run
        tail_days = manifest["days"][covered:]
        tail_paths = {
            stage: [
                p
                for p in (
                    self._ckpt(day).stage_path(
                        "docs" if stage == "docs_meta" else stage
                    )
                    for day in tail_days
                )
                if os.path.exists(p)
            ]
            for stage in _FOLD_STAGES
        }
        folded = [_write_run(tail_paths, covered, n_days)]
        runs.append(folded[0])
        merged: list[dict] = []
        # 2. geometric merge: equal-or-smaller older neighbor -> combine
        while len(runs) >= 2 and (
            runs[-1]["through"] - runs[-1]["from"]
            >= runs[-2]["through"] - runs[-2]["from"]
        ):
            a, b = runs[-2], runs[-1]
            pair_paths = {
                stage: [
                    p
                    for p in (self._run_dir(a, stage), self._run_dir(b, stage))
                    if os.path.exists(p)
                ]
                for stage in _FOLD_STAGES
            }
            m = _write_run(pair_paths, a["from"], b["through"])
            merged.extend([a, b])
            runs[-2:] = [m]
        manifest["runs"] = runs
        manifest["compact_seq"] = seq
        manifest.pop("compact", None)
        self._write_manifest(manifest)
        # superseded run dirs are unreferenced after the swap
        for r in merged:
            shutil.rmtree(
                os.path.join(self.state_dir, "compact", f"v{r['version']:04d}"),
                ignore_errors=True,
            )
        record = {
            "folded_days": tail_days,
            "n_merged": len(merged),
            "runs": [dict(r) for r in runs],
        }
        hist = manifest.get("fold_history", [])
        hist.append(
            {
                "folded": len(tail_days),
                "merged_spans": [
                    r["through"] - r["from"] for r in merged
                ],
            }
        )
        manifest["fold_history"] = hist
        self._write_manifest(manifest)
        return record

    @property
    def store(self) -> ClusterStore:
        return ClusterStore(self.spark, os.path.join(self.state_dir, "store"))

    # -- the loop --------------------------------------------------------

    def run_day(self, pages: DataFrame, day: str) -> dict:
        """Ingest one day's crawl; returns per-day stats.  Idempotent:
        a committed day is a no-op; an interrupted day resumes at its
        first incomplete stage."""
        if day in self.days():
            return {"day": day, "skipped": True}
        os.makedirs(self.state_dir, exist_ok=True)
        # fold old day-dirs first so this day's state reads plan at most
        # compact_threshold + 1 inputs (idempotent; no-op below threshold)
        self.compact_state()
        ckpt = self._ckpt(day)
        cfg, hash_kind = self.cfg, self.hash_kind
        old_docs = self._state("docs")          # text: per-day dirs only
        old_meta = self._state_docs_meta()      # (doc_id, url): folded
        old_sigs = self._state("signatures")
        old_bands = self._state("band_rows")
        old_chunks = self._state("chunk_rows")
        old_keys = self._state("exact_keys")
        old_fps = self._state("substr_fps")

        def _docs() -> DataFrame:
            src = pages.select("url", "text")
            valid = src.where(
                F.col("text").isNotNull()
                & (F.length("text") >= cfg.min_text_len)
            ).select(F.xxhash64("url").alias("doc_id"), "url", "text")
            if old_meta is None:
                return valid
            return valid.join(
                old_meta.select("doc_id"), "doc_id", "left_anti"
            )

        docs = ckpt.run("docs", _docs)
        signatures = ckpt.run(
            "signatures",
            lambda: compute_signatures(
                docs, cfg, include_shingles=False, hash_kind=hash_kind
            ),
        )
        # the materialized LSH index of this delta — future days equi-join
        # these narrow tables instead of re-evaluating the banding
        # expressions over the whole corpus (the durable form of LSH state)
        ckpt.run("band_rows", lambda: explode_bands(signatures, cfg))
        ckpt.run("chunk_rows", lambda: _chunk_rows(signatures, cfg))
        exact_keys = ckpt.run(
            "exact_keys",
            lambda: docs.select(
                "doc_id", text_sha256_col(F.col("text")).alias("text_sha256")
            ),
        )
        substr_fps = (
            ckpt.run("substr_fps", lambda: fingerprint_docs(docs, cfg))
            if self.enable_substring
            else None
        )
        # delta sizes gate the cross arms' broadcast hints (parquet-
        # metadata counts over checkpointed delta-sized stages — O(Δ))
        n_delta = docs.count()
        n_delta_fps = substr_fps.count() if substr_fps is not None else 0

        def _pair_union(arms: CacheScope) -> DataFrame:
            # exact tier: within-delta stars + delta keys vs per-key old
            # pivots (exactly one old row per distinct TOUCHED key — the
            # old store is semi-filtered to the delta's keys before the
            # pivot aggregate, so no corpus-wide shuffle; see
            # exact_cross_pairs)
            parts = [
                exact_pair_edges(exact_clusters(docs, cfg)).select(
                    "id_a", "id_b",
                    F.lit(1.0).alias("score"), F.lit("exact").alias("tier"),
                )
            ]
            if old_keys is not None:
                parts.append(
                    exact_cross_pairs(
                        exact_keys, old_keys, approx_delta_keys=n_delta
                    )
                )

            # near tier: the gated incremental operator, on the
            # PRECOMPUTED signature store (the production fast path)
            empty_docs = self.spark.createDataFrame(
                [], "doc_id bigint, text string"
            )
            near = arms.adopt(
                incremental_near_pairs(
                    old_docs if old_docs is not None else empty_docs,
                    docs,
                    cfg,
                    existing_sig=old_sigs,
                    hash_kind=hash_kind,
                    existing_bands=old_bands,
                    existing_chunks=old_chunks,
                )
            )
            parts.append(
                near.select(
                    "id_a", "id_b",
                    F.col("jaccard").alias("score"), "tier",
                )
            )

            # substring tier: delta fp self-join + delta-vs-store fp join
            if substr_fps is not None:
                cands = fingerprint_candidate_pairs(substr_fps, cfg, scope=arms)
                if old_fps is not None:
                    cands = cands.unionByName(
                        _delta_cross_candidates(
                            substr_fps, old_fps, ["fp"], cfg.max_bucket,
                            approx_delta_keys=n_delta_fps,
                        )
                    )
                corpus = (
                    docs.select("doc_id", "text")
                    if old_docs is None
                    else docs.select("doc_id", "text").unionByName(
                        old_docs.select("doc_id", "text")
                    )
                )
                spans = verify_span_pairs(
                    cands.dropDuplicates(["id_a", "id_b"]), corpus, cfg
                )
                parts.append(
                    spans.select(
                        "id_a", "id_b",
                        F.lit(0.5).alias("score"), "tier",
                    )
                )

            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out.dropDuplicates(["id_a", "id_b", "tier"])

        def _pairs() -> DataFrame:
            # the near result and the fp bucket cache live until the
            # pairs union is materialized
            with CacheScope() as arms:
                return arms.detach(arms.persist(_pair_union(arms)))

        pairs = ckpt.run("pairs", _pairs)

        def _clusters() -> DataFrame:
            if self.days():
                old_clusters = self.store.read(include_deleted=True).select(
                    "doc_id", "cluster_id"
                )
            else:
                old_clusters = self.spark.createDataFrame(
                    [], "doc_id bigint, cluster_id bigint"
                )
            return incremental_update_clusters(
                old_clusters,
                pairs.select("id_a", "id_b"),
                work_dir=os.path.join(ckpt.root, "_cc_work"),
            )

        clusters = ckpt.run("clusters", _clusters)

        # store refresh: assignment + url, min-id representative (the CC
        # label), soft-delete status re-applied by the store's ledger
        corpus_urls = (
            docs.select("doc_id", "url")
            if old_meta is None
            else docs.select("doc_id", "url").unionByName(old_meta)
        )
        snapshot = clusters.join(corpus_urls, "doc_id").select(
            "doc_id",
            "cluster_id",
            "url",
            (F.col("doc_id") == F.col("cluster_id")).alias(
                "is_representative"
            ),
        )
        if self.days():
            # changed_ids = delta ∪ touched-component members: the store
            # rewrites only the buckets containing them, never the whole
            # corpus snapshot (and skips its full-outer diff fallback)
            changed = touched_member_ids(
                self.store.read(include_deleted=True).select(
                    "doc_id", "cluster_id"
                ),
                pairs.select("id_a", "id_b"),
            ).unionByName(docs.select("doc_id")).distinct()
            version = self.store.apply_update(snapshot, changed_ids=changed)
        else:
            version = self.store.init(snapshot)
        if self.store_grace_versions is not None:
            self.store.vacuum(grace_versions=self.store_grace_versions)
        self._append_day(day)
        return {
            "day": day,
            "n_delta_docs": n_delta,
            "n_new_pairs": pairs.count(),
            "n_clustered_docs": clusters.count(),
            "store_version": version,
        }
