"""The end-to-end dedup pipeline — analog of the reference's run_detection
(/root/reference/duplicate-detector.py:2801-2870), expressed as a DAG of
checkpointed DataFrame stages:

    pages ─ extract ─ docs ─┬─ exact tier (sha256 group-by)      ─┐
                            ├─ signatures ─ LSH ─ verify (near)  ─┼─ edges
                            └─ substring fingerprints ─ verify   ─┘   │
                                              connected components ───┤
                                      clusters (+ representatives) ───┘

Stage boundaries match the reference's pipeline steps 1-7 (README.md:33-41);
every stage checkpoint is keyed by the config hash (ref cache-key contract,
:439-451), so a crashed run resumes at the first incomplete stage.

``doc_id`` is ``xxhash64(url)`` (``cfg.id_bits=64``, default): a compact
8-byte join key instead of the url string in every shuffle.  Collision
math: at 10^12 docs the expected number of 64-bit collisions is ~27
(n²/2^65).  ``cfg.id_bits=128`` switches to the hardened
``struct(xxhash64(url), xxhash64(reverse(url)))`` key (~0 expected
collisions at any realistic scale): every downstream stage — signatures,
LSH, verify, substring, CC, cluster assembly — is id-type-agnostic
(orderable-key joins/aggregates; Python kernels pass the id column
through untouched), so the plan shape is identical, only the key width
changes.  Golden-tested under both settings.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duplicate_image_detector_spark.config import PipelineConfig
from duplicate_image_detector_spark.functions.text import extract_text
from duplicate_image_detector_spark.operators.components import (
    connected_components,
)
from duplicate_image_detector_spark.operators.exact import (
    exact_clusters,
    exact_pair_edges,
)
from duplicate_image_detector_spark.operators.lsh import lsh_candidate_pairs
from duplicate_image_detector_spark.operators.representative import (
    assemble_clusters,
)
from duplicate_image_detector_spark.operators.signatures import (
    compute_signatures,
)
from duplicate_image_detector_spark.operators.substring import substring_pairs
from duplicate_image_detector_spark.operators.verify import verify_pairs
from duplicate_image_detector_spark.sources.checkpoints import (
    CacheScope,
    CheckpointManager,
)


def pipeline_extra_key(
    use_md5_hash: bool = False,
    enable_substring: bool = True,
    exclude_exact: bool = False,
    mode: str = "plain",
) -> str:
    """Checkpoint-key material for the run-level flags (see run_pipeline):
    flags alter stage outputs, so they join the config hash in the key."""
    import json

    return json.dumps(
        {
            "use_md5_hash": use_md5_hash,
            "enable_substring": enable_substring,
            "exclude_exact": exclude_exact,
            "mode": mode,
        },
        sort_keys=True,
    )


@dataclass
class PipelineResult:
    docs: DataFrame
    signatures: DataFrame
    pairs: DataFrame        # id_a, id_b, score, tier  (all evidence edges)
    clusters: DataFrame     # url, doc_id, cluster_id, tier, score, is_representative
    # the stage manager — durable (checkpoint_dir given) or in-memory
    # (disabled; call ckpt.unpersist_all() once the output is materialized)
    ckpt: CheckpointManager


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    cfg: PipelineConfig,
    checkpoint_dir: str | None = None,
    use_md5_hash: bool = False,
    enable_substring: bool = True,
    exclude_exact: bool = False,
    mode: str = "plain",
    table_format: str = "parquet",
    parallel_tiers: bool = True,
) -> PipelineResult:
    """pages(url, html|text, ...) -> PipelineResult.

    If ``html`` is present and ``text`` is not, text is extracted with the
    Arrow-batched UDF (byte-identity invariant).  If both are present the
    stored ``text`` is trusted as ground truth (fixtures verify the UDF
    separately).

    ``exclude_exact=True`` enables P3 candidate-space pruning (the
    reference's 'both' mode): exact-duplicate group members other than the
    representative skip the near/substring stages.  Final *clusters* are
    identical (exact star edges reconnect them in CC — equivalence tested);
    the explicit per-pair evidence between co-exact members is not
    materialized, which is the point at scale.

    ``use_md5_hash=True`` selects the oracle-portable md5-60bit base shingle
    hash for the signature + verify stages (default: the faster memoized
    poly hash; every downstream value is hash-choice-invariant).

    All three run-level flags are folded into the checkpoint key alongside
    the config hash, so rerunning on the same ``checkpoint_dir`` with a
    flipped flag recomputes rather than resuming stale stages.

    ``table_format='iceberg'`` stores stage checkpoints as Iceberg tables
    in the ``checkpoint_dir``-named namespace (atomic snapshot commits
    instead of marker files); requires the Iceberg runtime jar + catalog —
    see ``sources/iceberg.py``.

    ``parallel_tiers`` (default on) materializes the three independent
    tiers — exact (sha256 group-by), near (signatures → LSH/SimHash →
    verify), substring (fingerprints → span verify) — from concurrent
    driver threads once ``docs`` is down.  Spark schedules jobs from
    separate threads independently, so the exact and substring tiers'
    wall hides under the longer near chain instead of adding to it;
    stage outputs, checkpoint keys, and resume semantics are identical
    to the serial order (equivalence-tested), this only overlaps
    per-stage job latency.  Under ``exclude_exact`` the exact tier is a
    dependency of ``near_docs`` and runs before the parallel region.
    """
    if mode not in ("plain", "integrated"):
        raise ValueError(f"mode must be plain|integrated, got {mode!r}")
    extra_key = pipeline_extra_key(
        use_md5_hash, enable_substring, exclude_exact, mode
    )
    ckpt = (
        CheckpointManager(
            spark, checkpoint_dir, cfg, extra_key=extra_key,
            table_format=table_format,
        )
        if checkpoint_dir
        else CheckpointManager(spark, "", cfg, enabled=False, extra_key=extra_key)
    )
    try:
        return _run_stages(
            ckpt, pages, cfg, checkpoint_dir, use_md5_hash, enable_substring,
            exclude_exact, mode, table_format, parallel_tiers,
        )
    except BaseException:
        # a failed run hands back no result to release later: drop every
        # stage cache now (a no-op for durable checkpoints)
        ckpt.unpersist_all()
        raise


def _run_stages(
    ckpt: CheckpointManager, pages: DataFrame, cfg: PipelineConfig,
    checkpoint_dir: str | None, use_md5_hash: bool, enable_substring: bool,
    exclude_exact: bool, mode: str, table_format: str, parallel_tiers: bool,
) -> PipelineResult:
    hash_kind = "md5" if use_md5_hash else "poly"

    def _docs() -> DataFrame:
        if "text" in pages.columns:
            src = pages.select("url", "text", *(
                ["lang"] if "lang" in pages.columns else []
            ))
        else:
            src = extract_text(pages)
        # project html away immediately; derive the compact join key.
        # min-length validity predicate applied once here (M2 analog,
        # ref :676-677) so every tier sees the same document universe.
        # lang rides along (null when the source lacks it) — the
        # integrated mode's metadata key needs it.
        lang = F.col("lang") if "lang" in src.columns else F.lit(None).cast("string")
        if cfg.id_bits == 128:
            doc_id = F.struct(
                F.xxhash64("url").alias("h1"),
                F.xxhash64(F.reverse(F.col("url"))).alias("h2"),
            )
        else:
            doc_id = F.xxhash64("url")
        from duplicate_image_detector_spark.partitioning import (
            ensure_min_parallelism,
        )

        # parallelism floor at the pipeline's root: a one-row-group
        # parquet input scans as ONE partition, which would serialize
        # every downstream Python kernel (signatures, fingerprints,
        # shingle sets) onto one task; no-op when the input is already
        # parallel (guide §2.5)
        return ensure_min_parallelism(
            src.where(
                F.col("text").isNotNull()
                & (F.length("text") >= cfg.min_text_len)
            ).select(
                doc_id.alias("doc_id"), "url", "text",
                lang.alias("lang"),
            )
        )

    docs = ckpt.run("docs", _docs)

    def _near_docs() -> DataFrame:
        if not exclude_exact:
            return docs
        # P3 candidate-space pruning (the reference's 'both' mode,
        # ref :1798-1810 / J6): drop the non-representative members of every
        # exact group before the expensive near stage — their byte-identical
        # representative stands in for them, and the exact star edges
        # reconnect them in CC.  At webtext scale this typically removes
        # ~30% of the corpus from the O(n log n) LSH stage.
        dup_members = exact.where(F.col("doc_id") != F.col("cluster_id")).select(
            "doc_id"
        )
        return docs.join(dup_members, "doc_id", "left_anti")

    if exclude_exact:
        # the exact tier is a dependency of near_docs here — it runs
        # before the parallel region, which then holds only two branches
        exact = ckpt.run("exact", lambda: exact_clusters(docs, cfg))
        near_docs = ckpt.run("near_docs", _near_docs)
    else:
        exact = None
        near_docs = docs

    def _candidates(signatures: DataFrame, arms: CacheScope) -> DataFrame:
        # near-tier candidates cover BOTH admission arms (verify.py): LSH
        # band buckets for the Jaccard arm, SimHash pigeonhole banding for
        # the Hamming arm.  Both generators are sub-quadratic and
        # bucket-capped; their union is deduped once here and materialized
        # by the stage in one job.
        from duplicate_image_detector_spark.operators.simhash import (
            pick_simhash_layout,
            simhash_hamming_pairs,
        )

        # the two candidate arms are independent sub-DAGs over the already-
        # materialized signatures stage — submit them from concurrent
        # driver threads (guide §2.6, same pattern as the tier overlap):
        # each arm fills its bucket-stats cache eagerly, and overlapping
        # hides one arm's scheduling latency under the other's.
        from concurrent.futures import ThreadPoolExecutor

        def _lsh_arm() -> DataFrame:
            return lsh_candidate_pairs(signatures, cfg, scope=arms)

        def _ham_arm() -> DataFrame:
            # both sides of the pigeonhole self-join are built here, so the
            # layout is free to follow corpus size: minimal d+1 chunks until
            # random 15-bit collisions dominate (~5M docs), then the
            # C(2d,d) combination layout (see pick_simhash_layout); the
            # signatures stage is persisted by the manager, so the count is
            # a cache scan
            return simhash_hamming_pairs(
                signatures.select("doc_id", "simhash"), cfg,
                max_bucket=cfg.max_bucket,
                n_chunks=pick_simhash_layout(signatures.count(), cfg),
                scope=arms,
            )

        with ThreadPoolExecutor(max_workers=2) as arm_pool:
            lsh_f = arm_pool.submit(_lsh_arm)
            ham_f = arm_pool.submit(_ham_arm)
            lshc, ham = lsh_f.result(), ham_f.result()
        return lshc.unionByName(ham.select("id_a", "id_b")).dropDuplicates(
            ["id_a", "id_b"]
        )

    def _shingle_sets(candidates: DataFrame) -> DataFrame:
        # shingle sets exist only for candidate docs (ref re-reads pixels in
        # its verify workers, :1251-1252 — same economy, distributed)
        from duplicate_image_detector_spark.operators.signatures import (
            shingle_sets_for,
        )

        cand_ids = candidates.select(F.col("id_a").alias("doc_id")).union(
            candidates.select(F.col("id_b").alias("doc_id"))
        )
        return shingle_sets_for(near_docs, cand_ids, cfg, hash_kind=hash_kind)

    def _verified(
        signatures: DataFrame,
        candidates: DataFrame,
        shingle_sets: DataFrame,
        broadcast_payload: bool = False,
    ) -> DataFrame:
        sig_for_verify = signatures.select("doc_id", "simhash").join(
            shingle_sets, "doc_id"
        )
        if broadcast_payload:
            # small candidate sets: broadcast the endpoint payload so the
            # verify job's two pair-side joins share ONE evaluation of the
            # (lazily persisted) shingle-set stage via exchange reuse —
            # see verify.PAYLOAD_BROADCAST_PAIRS
            sig_for_verify = F.broadcast(sig_for_verify)
        if mode == "integrated":
            # the reference's integrated mode (ref :1438-1530): exact
            # Jaccard un-thresholded, metadata key = (lang, url host),
            # triple predicate; edge score = integrated_score
            from duplicate_image_detector_spark.operators.integrated import (
                integrated_pairs,
                metadata_key_col,
            )
            from duplicate_image_detector_spark.operators.verify import (
                score_pairs,
            )

            scored = score_pairs(candidates, sig_for_verify, cfg)
            host = F.regexp_extract(
                F.col("url"), r"^(?:[a-z][a-z0-9+.-]*://)?([^/]+)", 1
            )
            meta = docs.select(
                "doc_id", metadata_key_col(F.col("lang"), host).alias("meta_key")
            )
            return integrated_pairs(scored, meta).select(
                "id_a",
                "id_b",
                "jaccard",
                F.col("integrated_score").alias("score"),
                F.lit("near").alias("tier"),
            )
        return verify_pairs(candidates, sig_for_verify, cfg)

    def _near_chain() -> tuple[DataFrame, DataFrame]:
        # the near tier's four stages are a sequential chain; the chain as
        # a whole is one branch of the parallel region.  slim signatures:
        # no shingle arrays in the table the LSH stage shuffles (~8x
        # smaller rows); 'poly' hash = memoized-token polynomial (fast path)
        signatures = ckpt.run(
            "signatures",
            lambda: compute_signatures(
                near_docs, cfg, include_shingles=False, hash_kind=hash_kind
            ),
        )
        with CacheScope() as arms:
            # the arms' bucket caches live until the stage is materialized
            candidates = ckpt.run(
                "candidates", lambda: _candidates(signatures, arms)
            )
        from duplicate_image_detector_spark.operators.verify import (
            PAYLOAD_BROADCAST_PAIRS,
        )

        # a durable resume counted nothing: count the stage table
        # (parquet metadata, cheap)
        n_cand = ckpt.stage_rows.get("candidates")
        if n_cand is None:
            n_cand = candidates.count()
        # verify joins the shingle-set payload on BOTH pair sides.  Small
        # candidate sets broadcast it: exchange reuse evaluates the
        # payload once inside the verify job, so the stage itself can stay
        # a lazy persist (one materialization job fewer).  Large sets keep
        # the eager stage — two plain joins against a lazily-persisted
        # payload would race to compute the candidate-docs Python pass
        # twice.
        small_cands = n_cand <= PAYLOAD_BROADCAST_PAIRS
        shingle_sets = ckpt.run(
            "shingle_sets",
            lambda: _shingle_sets(candidates),
            eager=not small_cands,
        )
        verified = ckpt.run(
            "verified",
            lambda: _verified(
                signatures,
                candidates,
                shingle_sets,
                broadcast_payload=small_cands,
            ),
        )
        return signatures, verified

    # the parallel region: exact ∥ (signatures → … → verified) ∥ substring.
    # The branches' sub-DAGs are disjoint above the already-materialized
    # docs/near_docs stages, so concurrent materialization can never race
    # to compute a shared uncached subtree; stage names (and thus
    # checkpoint paths/tables) are disjoint per branch.
    branches: dict[str, object] = {"near": _near_chain}
    if not exclude_exact:
        branches["exact"] = lambda: ckpt.run(
            "exact", lambda: exact_clusters(docs, cfg)
        )
    if enable_substring:

        def _substring_stage() -> DataFrame:
            with CacheScope() as arms:
                return ckpt.run(
                    "substring",
                    lambda: substring_pairs(near_docs, cfg, scope=arms),
                )

        branches["substring"] = _substring_stage

    if parallel_tiers and len(branches) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(branches)) as pool:
            futures = {k: pool.submit(fn) for k, fn in branches.items()}
            results = {k: f.result() for k, f in futures.items()}
    else:
        # serial fallback keeps the historical stage order (exact first)
        results = {
            k: branches[k]()
            for k in ("exact", "near", "substring")
            if k in branches
        }

    if not exclude_exact:
        exact = results["exact"]
    signatures, verified = results["near"]
    substr = results.get("substring")

    def _edges() -> DataFrame:
        e = exact_pair_edges(exact).select(
            "id_a", "id_b", F.lit(1.0).alias("score"), F.lit("exact").alias("tier")
        )
        near_score = (
            F.col("score") if "score" in verified.columns else F.col("jaccard")
        )
        n = verified.select("id_a", "id_b", near_score.alias("score"), "tier")
        parts = [e, n]
        if substr is not None:
            # span_len normalized against the shorter doc is a score in (0,1]
            parts.append(
                substr.select("id_a", "id_b", F.lit(0.5).alias("score"), "tier")
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # lazy persist: edges' two consumers (CC, then cluster assembly) run
    # sequentially, and CC's first action fills the cache in the same pass
    # it would otherwise re-scan — one fewer job over the union
    edges = ckpt.run("edges", _edges, eager=False)

    import os

    # CC's per-iteration lineage truncation is scratch IO, not a durable
    # checkpoint — it stays on the filesystem even under iceberg stage
    # tables (ckpt.root is a namespace, not a dir, in that mode)
    cc_dir = (
        os.path.join(ckpt.root, "_cc_work")
        if checkpoint_dir and table_format == "parquet"
        else None
    )
    # upper bound on the edge count from the tier stages' materialized row
    # counts (exact star edges <= exact rows): proves the CC small-graph
    # gate without a count job.  Any stage resumed from a durable
    # checkpoint has no recorded count — the bound degrades to None and CC
    # counts as before.
    tier_stages = ["verified", "exact"] + (
        ["substring"] if substr is not None else []
    )
    edge_bound = (
        sum(ckpt.stage_rows[s] for s in tier_stages)
        if all(s in ckpt.stage_rows for s in tier_stages)
        else None
    )
    components = ckpt.run(
        "components",
        lambda: connected_components(
            edges.select("id_a", "id_b"),
            work_dir=cc_dir,
            edge_count_hint=edge_bound,
        ),
    )

    def _clusters() -> DataFrame:
        assembled = assemble_clusters(components, edges)
        return assembled.join(docs.select("doc_id", "url"), "doc_id")

    # lazy persist: the caller's first action over the returned clusters
    # materializes the cache directly (no consumer runs before return)
    clusters = ckpt.run("clusters", _clusters, eager=False)

    return PipelineResult(
        docs=docs,
        signatures=signatures,
        pairs=edges,
        clusters=clusters,
        # always the manager: disabled-mode callers need unpersist_all()
        # to release the session-lifetime stage caches
        ckpt=ckpt,
    )
