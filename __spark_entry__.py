"""Driver contract for the spark-graft builder (PySpark target).

Every entry in ``queries()`` is an operator of the engine
(``duplicate_image_detector_spark``) run against the driver's parquet
tables; ``oracle_sql()`` holds the ANSI-SQL equivalent DuckDB executes on
the same tables.  Column names and (rounded) values are aligned so the
driver's order-insensitive value-hash comparison is exact.

Float policy: any cross-engine float aggregate is rounded at a fixed
precision on BOTH sides (summation order differs between engines);
integer-derived ratios (e.g. Jaccard = intersection/union of counts) are
bit-exact without rounding and are left unrounded.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duplicate_image_detector_spark.config import PipelineConfig
from duplicate_image_detector_spark.functions.textstats import (
    BPE_TOKEN_REGEX,
    STOPWORDS,
    fingerprint_cols,
    lang_id_col,
    quality_score_col,
    token_stats_cols,
)
from duplicate_image_detector_spark.operators.components import (
    connected_components,
)
from duplicate_image_detector_spark.operators.exact import exact_clusters
from duplicate_image_detector_spark.operators.lsh import lsh_candidate_pairs
from duplicate_image_detector_spark.operators.ngram import ngram_jaccard_pairs
from duplicate_image_detector_spark.operators.signatures import (
    compute_signatures,
)
from duplicate_image_detector_spark.operators.simhash import (
    simhash_hamming_pairs,
)
from duplicate_image_detector_spark.operators.similarity import (
    ann_lsh_topk,
    cosine_topk,
)
from duplicate_image_detector_spark.operators.substring import substring_pairs
from duplicate_image_detector_spark.operators.verify import verify_pairs
from duplicate_image_detector_spark.sources.checkpoints import CacheScope

CFG = PipelineConfig()
# recall-safe banding (32x4 over the same 128 perms): candidate-miss
# probability at j=0.86 is ~1e-11, so LSH output == exact all-pairs output
# and the DuckDB oracle can be an exact brute-force query.
CFG_GATE = CFG.with_recall_banding()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# Spark queries
# ---------------------------------------------------------------------------

def q_exact_canon_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tier under a CANONICALIZED sha256 key: tokenize (M4), take the
    first 40 tokens, re-join, sha256 (M3) — "same lead content" grouping.
    This key collides in the driver fixture (25 member rows at sf0.01), so
    the sha256 codepath is driver-checked NON-vacuously; byte-identical
    full-text grouping (the same plan with key = sha256(text)) is covered
    by the pipeline gates and the F1-family golden tests, where exact
    duplicates actually exist."""
    from duplicate_image_detector_spark.functions.text import words_col

    canon = F.concat_ws(" ", F.slice(words_col(F.col("text")), 1, 40))
    return exact_clusters(
        _docs(spark, sf_dir),
        CFG,
        key_col=F.sha2(canon, 256),
        tier="exact_canon",
    ).select("doc_id", "cluster_id", "tier")


def q_exact_prefix_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-vacuous exact-tier gate: the same groupBy-stats + join-back plan
    as the sha256 tiers, keyed on the first-100-char text prefix — a key
    that collides in the driver fixture (45 member rows at sf0.01)."""
    return exact_clusters(
        _docs(spark, sf_dir),
        CFG,
        key_col=F.substring(F.col("text"), 1, 100),
        tier="exact_prefix",
    ).select("doc_id", "cluster_id", "tier")


# session-scoped memo tables (S8 cache analog): several gates share the
# same signatures / exact-Jaccard pair set — compute and persist each ONCE
# per (sf_dir, params) instead of once per gate, and never pile up stale
# caches across gates (the driver runs all ~30 queries in one session)
_SIG_CACHE: dict[str, DataFrame] = {}
_PAIRS_CACHE: dict[tuple[str, float], DataFrame] = {}


def _fresh(df: DataFrame | None, spark: SparkSession) -> bool:
    return df is not None and df.sparkSession is spark


def clear_caches() -> None:
    """Unpersist and drop the shared memo tables.  The bench harness calls
    this before each timed query so every per-query number is a COLD-cache
    cost (comparable across rounds); the driver's correctness run keeps
    the caches warm — sharing only helps there.

    Also drains the JVM of the PREVIOUS query's garbage: Spark's
    ContextCleaner only releases dropped shuffle/broadcast/RDD state when
    a driver GC runs, and with a 31 GB local-mode heap organic full GCs
    are rare — the backlog measurably taxes the NEXT query's scheduling
    (measured on sf0.1: the first query after a CC-heavy one ran 24.7 s
    vs 0.8 s after a forced GC).  A cold-cache boundary that leaves the
    predecessor's garbage in the JVM is not cold; the GC belongs to the
    boundary, not to either query's cost."""
    with CacheScope() as memo:
        for cache in (_SIG_CACHE, _PAIRS_CACHE, _VERIFIED_CACHE):
            for df in cache.values():
                memo.adopt(df)
            cache.clear()
    _GATE_RESULTS.close()
    try:
        spark = SparkSession.getActiveSession()
        if spark is not None:
            spark._jvm.System.gc()
    except Exception:
        pass


def _sig_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    df = _SIG_CACHE.get(sf_dir)
    if not _fresh(df, spark):
        # signatures feed the LSH join, the verify joins, and 4 gates —
        # persist so the 128-permutation computation runs once.
        # hash_kind='md5' (default): the oracle-portable md5-60bit hash.
        df = compute_signatures(_docs(spark, sf_dir), CFG_GATE).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        _SIG_CACHE[sf_dir] = df
    return df


def _ngram_pairs(
    spark: SparkSession, sf_dir: str, threshold: float | None = None
) -> DataFrame:
    from dataclasses import replace

    thr = CFG.jaccard_threshold if threshold is None else threshold
    key = (sf_dir, thr)
    df = _PAIRS_CACHE.get(key)
    if not _fresh(df, spark):
        cfg = CFG if thr == CFG.jaccard_threshold else replace(
            CFG, jaccard_threshold=thr
        )
        # df_cap=None: the gate needs bit-parity with the uncapped DuckDB
        # oracle at ANY scale (the shipped default cap is skew protection)
        df = ngram_jaccard_pairs(_docs(spark, sf_dir), cfg, df_cap=None)
        _PAIRS_CACHE[key] = df
    return df


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard pairs via the inverted shingle index (explode ->
    equi-self-join on shingle hash -> per-pair intersection count ->
    Jaccard from set sizes).  Sub-quadratic production path — no
    CartesianProduct node anywhere in the plan; Jaccard is integer-derived,
    so it is bit-exact vs the DuckDB string-join oracle."""
    return _ngram_pairs(spark, sf_dir)


_VERIFIED_CACHE: dict[str, DataFrame] = {}


def _verified_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-tier admission rule, shared by three gates: candidates from
    LSH buckets (Jaccard arm) UNION exact pigeonhole Hamming pairs
    (Hamming arm), verified with jaccard >= t OR hamming <= d — the same
    rule the DuckDB _NEAR_PAIRS oracle states in SQL."""
    from pyspark.storagelevel import StorageLevel

    df = _VERIFIED_CACHE.get(sf_dir)
    if not _fresh(df, spark):
        sig = _sig_gate(spark, sf_dir)
        # materialize the shared signature cache once, then the two
        # independent candidate arms' eager actions overlap from driver
        # threads (same pattern as the pipeline's candidate stage)
        from concurrent.futures import ThreadPoolExecutor

        sig.count()
        # the arms' bucket caches stay resident until clear_caches (the
        # gate result is only materialized by the caller's action)
        with ThreadPoolExecutor(max_workers=2) as pool:
            ham_f = pool.submit(
                simhash_hamming_pairs, sig.select("doc_id", "simhash"), CFG,
                scope=_GATE_RESULTS,
            )
            lsh_f = pool.submit(
                lsh_candidate_pairs, sig, CFG_GATE, scope=_GATE_RESULTS
            )
            ham, lshc = ham_f.result(), lsh_f.result()
        cands = (
            lshc
            .unionByName(ham.select("id_a", "id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        df = verify_pairs(cands, sig, CFG_GATE).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        _VERIFIED_CACHE[sf_dir] = df
    return df


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production path: MinHash-LSH candidates + exact-Jaccard verify."""
    return _verified_gate(spark, sf_dir).select("id_a", "id_b", "jaccard")


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    verified = _verified_gate(spark, sf_dir)
    return connected_components(verified.select("id_a", "id_b")).select(
        "doc_id", "cluster_id"
    )


def q_near_dup_clusters_id128(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup tier under 128-bit struct doc ids (the cfg.id_bits=128
    hardening): signatures, LSH, verify, and connected components ALL run
    on struct(h1, h2) keys derived 1:1 from doc_id; components are then
    relabeled by the min ORIGINAL doc_id, so the output compares against
    the SAME DuckDB oracle as near_dup_clusters — identical clusters,
    wider key, hard-gated."""
    from duplicate_image_detector_spark.operators.lsh import (
        lsh_candidate_pairs,
    )
    from duplicate_image_detector_spark.operators.verify import verify_pairs

    docs = _docs(spark, sf_dir)
    sid = F.struct(
        F.xxhash64("doc_id").alias("h1"),
        F.xxhash64("doc_id", "doc_id").alias("h2"),
    )
    d128 = docs.select(sid.alias("doc_id"), "text")
    sig = compute_signatures(d128, CFG_GATE)
    cands = _GATE_RESULTS.adopt(lsh_candidate_pairs(sig, CFG_GATE))
    ver = verify_pairs(cands, sig, CFG_GATE)
    cc = connected_components(ver.select("id_a", "id_b"))
    m = docs.select(sid.alias("sid"), F.col("doc_id").alias("orig"))
    withorig = cc.join(m, cc["doc_id"] == m["sid"]).select(
        F.col("orig").alias("doc_id"), "cluster_id"
    )
    # struct-min cluster labels are ordering-specific to (h1, h2);
    # relabel by min ORIGINAL id for oracle comparability
    lab = withorig.groupBy("cluster_id").agg(F.min("doc_id").alias("cmin"))
    return withorig.join(lab, "cluster_id").select(
        "doc_id", F.col("cmin").alias("cluster_id")
    )


def q_pipeline_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FLAGSHIP end-to-end: ``run_pipeline`` itself (extract → exact
    tier → signatures → LSH → verify → substring tier → union edges → CC →
    cluster assembly), value-checked against a DuckDB oracle that unions
    text-equality pairs, exact-Jaccard >= 0.86 pairs, and shared-400-char-
    window pairs and runs a recursive-CTE connected components over them.
    The per-tier gates each check one stage; this one checks their
    composition — the thing ``entry()`` actually ships.

    Pipeline doc ids are xxhash64(url) (not reproducible in DuckDB), so the
    output is mapped back to the table's doc_id via url and cluster labels
    are re-minimized over original ids, exactly like the id128 gate."""
    return _pipeline_clusters(spark, sf_dir, exclude_exact=False)


def q_pipeline_clusters_exclude_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship under P3 candidate-space pruning (``exclude_exact=True``,
    the reference's 'both' mode): non-representative exact-group members
    skip the near/substring stages and are reconnected by exact star edges
    in CC.  Final clusters are IDENTICAL by design — so this gate runs
    against the very same DuckDB oracle as pipeline_clusters, turning the
    pytest equivalence theorem into a hard driver-checked fact."""
    return _pipeline_clusters(spark, sf_dir, exclude_exact=True)


_GATE_RESULTS = CacheScope()


def _pipeline_clusters(
    spark: SparkSession, sf_dir: str, exclude_exact: bool
) -> DataFrame:
    from duplicate_image_detector_spark.plans.pipeline import run_pipeline

    docs = _docs(spark, sf_dir)
    url = F.concat(F.lit("doc://"), F.col("doc_id").cast("string"))
    pages = docs.select(url.alias("url"), "text")
    res = run_pipeline(
        spark, pages, CFG_GATE, use_md5_hash=True, exclude_exact=exclude_exact
    )
    m = docs.select(url.alias("url"), F.col("doc_id").alias("orig"))
    withorig = res.clusters.select("url", "cluster_id").join(m, "url")
    lab = withorig.groupBy("cluster_id").agg(F.min("orig").alias("cmin"))
    out = withorig.join(lab, "cluster_id").select(
        F.col("orig").alias("doc_id"), F.col("cmin").alias("cluster_id")
    )
    # materialize the (tiny) gate result, then drop the ~10 stage caches
    # the disabled checkpoint manager created — the driver runs all 37
    # gates in ONE session and would otherwise accumulate them all
    try:
        return _GATE_RESULTS.persist(out)
    finally:
        res.ckpt.unpersist_all()


def q_incremental_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection (the daily-crawl mode): documents
    with pmod(doc_id, 8) == 0 play the newly-crawled delta, the rest the
    existing corpus.  The operator signs ONLY the delta and finds
    candidates via delta-bucket joins against the old band/chunk tables —
    output is exactly the near-tier pairs touching >= 1 delta doc, which
    is what the DuckDB oracle states (full near rule filtered on either
    endpoint in the delta)."""
    from duplicate_image_detector_spark.operators.incremental_pairs import (
        incremental_near_pairs,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    is_new = F.pmod(F.col("doc_id"), F.lit(8)) == 0
    out = incremental_near_pairs(
        docs.where(~is_new),
        docs.where(is_new),
        CFG_GATE,
        hash_kind="md5",
        old_fanin_cap=None,  # oracle-exact mode: the gate's SQL is uncapped
    )
    _GATE_RESULTS.adopt(out)  # operator-persisted; released by clear_caches
    return out.select("id_a", "id_b", "jaccard")


def q_incremental_cluster_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-crawl cluster MAINTENANCE: clusters computed over the old
    corpus (doc_id % 8 != 0) are merged with the delta's incremental
    pairs via ``incremental_update_clusters`` — only components touched
    by new pairs recompute.  The result must equal the full-corpus
    near-tier CC (the same DuckDB oracle as near_dup_clusters), because
    star membership preserves old connectivity exactly."""
    from duplicate_image_detector_spark.operators.incremental_pairs import (
        incremental_near_pairs,
        incremental_update_clusters,
    )
    from duplicate_image_detector_spark.operators.simhash import (
        simhash_hamming_pairs as _shp,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    is_new = F.pmod(F.col("doc_id"), F.lit(8)) == 0
    old, delta = docs.where(~is_new), docs.where(is_new)

    sig_old = compute_signatures(old, CFG_GATE, include_shingles=False,
                                 hash_kind="md5")
    old_lsh = _GATE_RESULTS.adopt(lsh_candidate_pairs(sig_old, CFG_GATE))
    old_ham = _GATE_RESULTS.adopt(_shp(sig_old.select("doc_id", "simhash"), CFG))
    old_cands = (
        old_lsh.unionByName(old_ham.select("id_a", "id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    from duplicate_image_detector_spark.operators.signatures import (
        shingle_sets_for,
    )

    old_ids = old_cands.select(F.col("id_a").alias("doc_id")).union(
        old_cands.select(F.col("id_b").alias("doc_id"))
    )
    old_sets = shingle_sets_for(old, old_ids, CFG_GATE, hash_kind="md5")
    old_pairs = verify_pairs(
        old_cands, sig_old.select("doc_id", "simhash").join(old_sets, "doc_id"),
        CFG_GATE,
    )
    old_clusters = connected_components(old_pairs.select("id_a", "id_b"))

    new_pairs = incremental_near_pairs(
        old, delta, CFG_GATE, hash_kind="md5", old_fanin_cap=None
    )
    _GATE_RESULTS.adopt(new_pairs)
    return incremental_update_clusters(
        old_clusters, new_pairs.select("id_a", "id_b")
    ).select("doc_id", "cluster_id")


def q_daily_loop_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED daily-crawl loop (plans/daily.py) run for two days —
    day 1 = docs with pmod(doc_id, 8) != 0, day 2 = the rest — in a fresh
    temp state dir: per-day checkpoints, precomputed-signature reuse,
    all three evidence tiers, touched-component cluster maintenance, and
    the versioned ClusterStore refresh.  The final store assignment must
    equal the BATCH pipeline's clusters over the full corpus, i.e. the
    same DuckDB oracle as pipeline_clusters (exact ∪ near ∪ substring
    edges → connected components).  This is the composition the per-
    operator incremental gates never exercise end-to-end."""
    import shutil
    import tempfile

    from duplicate_image_detector_spark.plans.daily import DailyDedup

    docs = _docs(spark, sf_dir)
    url = F.concat(F.lit("doc://"), F.col("doc_id").cast("string"))
    pages = docs.select(url.alias("url"), "text")
    is_new = F.pmod(F.col("doc_id"), F.lit(8)) == 0
    state = tempfile.mkdtemp(prefix="daily_gate_")
    try:
        dd = DailyDedup(spark, state, CFG_GATE, hash_kind="md5")
        dd.run_day(pages.where(~is_new), "day1")
        dd.run_day(pages.where(is_new), "day2")
        assigned = dd.store.read(include_deleted=True).select(
            "url", "cluster_id"
        )
        # map xxhash64 ids back to table doc_ids and re-minimize labels,
        # exactly like the pipeline_clusters gate
        m = docs.select(url.alias("url"), F.col("doc_id").alias("orig"))
        withorig = assigned.join(m, "url")
        lab = withorig.groupBy("cluster_id").agg(F.min("orig").alias("cmin"))
        out = withorig.join(lab, "cluster_id").select(
            F.col("orig").alias("doc_id"), F.col("cmin").alias("cluster_id")
        )
        return _GATE_RESULTS.persist(out)
    finally:
        shutil.rmtree(state, ignore_errors=True)


def q_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming <= max over the md5-60bit base hash via EXACT
    pigeonhole banding (4 x 15-bit chunk equi-joins + bit_count verify) —
    identical output to the all-pairs crossJoin, no cartesian node."""
    sig = _sig_gate(spark, sf_dir).select("doc_id", "simhash")
    return _GATE_RESULTS.adopt(simhash_hamming_pairs(sig, CFG))


def q_integrated_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — the reference's 'integrated' mode (metadata-bonus scoring +
    triple predicate, ref duplicate-detector.py:1438-1530) over exact
    Jaccard pairs pre-thresholded at 0.80 (below the integrated floor
    0.8588) with (lang, source) as the metadata key."""
    from duplicate_image_detector_spark.operators.integrated import (
        integrated_pairs,
        metadata_key_col,
    )

    docs = _docs(spark, sf_dir)
    pre = _ngram_pairs(spark, sf_dir, threshold=0.80)
    meta = docs.select(
        "doc_id",
        metadata_key_col(F.col("lang"), F.col("source")).alias("meta_key"),
    )
    out = integrated_pairs(pre, meta)
    return out.select(
        "id_a",
        "id_b",
        "jaccard",
        "metadata_match",
        "integrated_score",
        F.col("has_metadata_bonus").cast("int").alias("has_metadata_bonus"),
    )


def q_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the caller's single action materializes the candidate set and the
    # verify in one job; the fp-bucket cache is released at the next
    # clear_caches
    return substring_pairs(
        _docs(spark, sf_dir), CFG, scope=_GATE_RESULTS
    ).select("id_a", "id_b")


def q_best_pair_per_member(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — for each doc in the exact near-dup pair set, its strongest
    incident pair and that pair's score (ref _get_member_details
    :1945-1964); ties broken toward the smaller partner id."""
    from pyspark.sql import Window

    pairs = q_ngram_jaccard_pairs(spark, sf_dir)
    e = pairs.select(
        F.col("id_a").alias("doc_id"), F.col("id_b").alias("other"), "jaccard"
    ).unionAll(
        pairs.select(
            F.col("id_b").alias("doc_id"), F.col("id_a").alias("other"), "jaccard"
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("jaccard"), F.asc("other"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("other").alias("best_match_id"),
            F.col("jaccard").alias("best_score"),
        )
    )


def q_cluster_members_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/W2 serving read over the engine's OWN clusters output: per
    near-dup cluster, the top-3 members ordered representative-first then
    doc_id (the reference's group page, ref :2341-2372 / :2491-2494)."""
    from pyspark.sql import Window

    cc = q_near_dup_clusters(spark, sf_dir)
    is_rep = (F.col("doc_id") == F.col("cluster_id")).cast("int")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc(is_rep), F.asc("doc_id")
    )
    return (
        cc.withColumn("is_rep", is_rep)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("cluster_id", "doc_id", "is_rep", "rank")
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).where(
        F.col("text").isNotNull() & (F.length("text") >= CFG.min_text_len)
    )
    fps = fingerprint_cols(F.col("text"), k=CFG.shingle_k, n_keep=5)
    out = d.select(
        "doc_id", fps["min_fp"].alias("min_fp"), fps["bottom_fps"].alias("bottom_fps")
    )
    return out.where(F.col("min_fp").isNotNull())


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    return d.select("doc_id", lang_id_col(F.col("text")).alias("lang_pred"))


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    cols = token_stats_cols(F.col("text"))
    return d.select(
        "doc_id",
        cols["n_chars"].alias("n_chars"),
        cols["n_tokens"].alias("n_tokens"),
        cols["n_distinct_tokens"].alias("n_distinct_tokens"),
        cols["avg_token_len"].alias("avg_token_len"),
    )


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline token sizing: BPE-ish pretokenizer chunk count
    (lookahead-free regex shared verbatim with the DuckDB oracle)."""
    from duplicate_image_detector_spark.functions.textstats import (
        bpe_token_count_col,
    )

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    return d.select(
        "doc_id", bpe_token_count_col(F.col("text")).alias("n_bpe_tokens")
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    return d.select("doc_id", quality_score_col(F.col("text")).alias("quality"))


def q_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary plumbing parity: byte length + sha256 over the utf-8
    encoding of text (the multimodal metadata path on a text payload)."""
    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    blob = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.length(blob).cast("long").alias("n_bytes"),
        F.sha2(blob, 256).alias("sha"),
    )


def q_doc_validity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — explicit valid-row tally: one conditional-sum aggregate over
    the raw table (the reference's processed/corrupt counters,
    ref :2744-2770), not a lineage byproduct."""
    d = _t(spark, sf_dir, "documents")
    valid = (
        F.col("text").isNotNull() & (F.length("text") >= CFG.min_text_len)
    ).cast("bigint")
    return d.agg(
        F.count("*").alias("n_rows"),
        F.sum(valid).alias("n_valid"),
        (F.count("*") - F.sum(valid)).alias("n_invalid"),
    )


def q_doc_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 + §2.8 encoding scalars: format_string label (the reference's
    format_path_display, ref :1928), base64 thumbnail-payload analog
    (ref :2182, 2622) with an unbase64 round-trip check."""
    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    head = F.substring(F.col("text"), 1, 32)
    b64 = F.base64(F.encode(head, "UTF-8"))
    return d.select(
        "doc_id",
        F.format_string(
            "doc-%d [%s]", F.col("doc_id"), F.coalesce(F.col("lang"), F.lit("?"))
        ).alias("label"),
        b64.alias("preview_b64"),
        (F.decode(F.unbase64(b64), "UTF-8") == head).cast("int").alias("roundtrip_ok"),
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_topk(_t(spark, sf_dir, "embeddings"), k=5)


def q_cosine_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact, corpus-blocked matmul —
    the dedup-decision variant of the reference's thresholded similarity,
    ref :1506-1511).  Threshold 0.35 sized to the synthetic embeddings'
    similarity range (max pairwise cos ~0.51)."""
    from duplicate_image_detector_spark.operators.similarity import (
        cosine_dup_pairs,
    )

    return cosine_dup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.35)


_ANN_COPIES = 6  # planted near-dup family size (k=5 true neighbors each)


def _planted_ann_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings expanded to _ANN_COPIES deterministically-perturbed
    copies per vector: each copy's true top-5 neighbors are its 5 family
    mates (mutual cos ~0.9999, far above the ~0.51 max cross-family
    cosine of the synthetic table), so ANN recall vs brute force is a
    meaningful, reproducible quantity.  The raw synthetic embeddings are
    near-random — no neighbor structure for ANY sublinear index to
    exploit — which is a property of the fixture, not of the operator;
    the planted families restore the regime ANN is specified for.
    Perturbation is a hash of (vec_id, copy, coordinate): no RNG, same
    corpus every run and every scale."""
    emb = _t(spark, sf_dir, "embeddings")
    copies = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
        F.explode(
            F.array(*[F.lit(r) for r in range(_ANN_COPIES)])
        ).alias("_r"),
    )
    pert = F.transform(
        F.col("embedding"),
        lambda x, i: x
        + (
            F.pmod(F.xxhash64(F.col("vec_id"), F.col("_r"), i), F.lit(1000))
            - F.lit(500)
        ).cast("double")
        / F.lit(50000.0),
    )
    return copies.select(
        (F.col("vec_id") * _ANN_COPIES + F.col("_r")).alias("vec_id"),
        pert.alias("embedding"),
    )


def _ann_recall_gate(spark: SparkSession, sf_dir: str, ann_fn) -> DataFrame:
    """One-row, driver-value-checkable ANN summary: (n_queries, k,
    recall_ok) where recall_ok asserts recall >= 0.9 against an
    in-engine exact brute force on the same planted corpus.  Both sides
    are deterministic (seeded index, hash-perturbed corpus), so the row
    hash-matches a constant oracle — upgrading these gates from the
    rows-only check they carried while returning raw approximate top-k."""
    from pyspark.storagelevel import StorageLevel

    emb = _planted_ann_corpus(spark, sf_dir).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    emb.count()
    brute = cosine_topk(emb, k=5).persist(StorageLevel.MEMORY_AND_DISK)
    n_brute = brute.count()
    ann = ann_fn(emb)
    n_hit = ann.join(brute, ["vec_id", "neighbor_id"], "left_semi").count()
    ann.unpersist()
    brute.unpersist()
    emb.unpersist()
    recall = n_hit / max(n_brute, 1)
    return spark.createDataFrame(
        [(n_brute // 5, 5, int(recall >= 0.9))],
        "n_queries bigint, k int, recall_ok int",
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_recall_gate(
        spark, sf_dir, lambda emb: ann_lsh_topk(emb, k=5)
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duplicate_image_detector_spark.operators.similarity import (
        ann_ivf_topk,
    )

    return _ann_recall_gate(
        spark, sf_dir, lambda emb: ann_ivf_topk(emb, k=5)
    )


_NAV_LINE = "NAV home products pricing contact"
_COOKIE_LINE = "COOKIE NOTICE this site uses cookies"
_FOOTER_LINE = "COPYRIGHT example site all rights reserved"


def _planted_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents rewritten as deterministic multi-line pages for the
    repeated-line gates: the synthetic texts are single-line with zero
    cross-document repeated lines (verified at sf0.01), so — like the
    planted ANN families above — the gates inject the structure the
    operator is specified for.  Each page gets a nav line (doc_id % 2),
    a first-8-words prefix line (repeats across near-dup families: a
    DATA-derived duplicate, not a planted constant), the original body,
    a cookie line (doc_id % 3) and a footer (always).  Identical
    construction in the oracle SQL."""
    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    text = F.concat_ws(
        "\n",
        F.when(F.col("doc_id") % 2 == 0, F.lit(_NAV_LINE)),
        F.array_join(F.slice(F.split(F.col("text"), " ", -1), 1, 8), " "),
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(_COOKIE_LINE)),
        F.lit(_FOOTER_LINE),
        # real pages repeat their nav in the footer: a WITHIN-doc
        # duplicate line for the repetition-stats gate (doc_id % 4)
        F.when(F.col("doc_id") % 4 == 0, F.lit(_NAV_LINE)),
    )
    return d.select("doc_id", text.alias("text"))


def q_repeated_line_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus boilerplate profile: every line appearing in >= 2 docs."""
    from duplicate_image_detector_spark.operators.linedup import line_stats

    return line_stats(_planted_pages(spark, sf_dir), min_df=2)


def q_line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df_cap removal (boilerplate strip): lines in > 50 docs removed
    from every document; gate row carries the rebuilt text's sha256 so
    the value hash pins the exact reconstruction (order + bytes)."""
    from duplicate_image_detector_spark.operators.linedup import (
        remove_repeated_lines,
    )

    out = remove_repeated_lines(
        _planted_pages(spark, sf_dir), max_df=50, mode="df_cap"
    )
    return out.select(
        "doc_id", "n_lines", "n_removed",
        F.sha2(F.col("text"), 256).alias("text_sha"),
    )


def q_line_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global line dedup: keep only the globally-first
    occurrence (min (doc_id, line_no)) of every duplicated line."""
    from duplicate_image_detector_spark.operators.linedup import (
        remove_repeated_lines,
    )

    out = remove_repeated_lines(
        _planted_pages(spark, sf_dir), mode="first"
    )
    return out.select(
        "doc_id", "n_lines", "n_removed",
        F.sha2(F.col("text"), 256).alias("text_sha"),
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction audit on planted-PII pages (emails / IPv4 / intl
    phones appended per doc_id % 4; the synthetic word-soup bodies carry
    none).  Row pins pre-redaction counts per category and the redacted
    text's sha256."""
    from duplicate_image_detector_spark.functions.pii import scrub_pii

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    m = F.col("doc_id") % 4
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(m == 0, F.concat(
                F.lit(" contact user"), F.col("doc_id"),
                F.lit("@example.com now")))
            .when(m == 1, F.concat(
                F.lit(" server 10.1."), F.col("doc_id") % 200,
                F.lit(".7 up")))
            .when(m == 2, F.concat(
                F.lit(" call +1415"), F.col("doc_id") + 550000))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    out = scrub_pii(planted)
    return out.select(
        "doc_id", "n_email", "n_ipv4", "n_phone",
        F.sha2(F.col("text"), 256).alias("text_sha"),
    )


def q_contamination_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 17th doc's first 30 tokens form
    the benchmark set; docs sharing >= 2 distinct 8-grams with an entry
    are flagged (the source docs themselves plus their near-dup family
    members — data-derived contamination, not only self-hits)."""
    from duplicate_image_detector_spark.functions.text import words_col
    from duplicate_image_detector_spark.operators.decontaminate import (
        contamination_flags,
    )

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull()).select(
        "doc_id", "text"
    )
    bench = d.where(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(
            F.slice(words_col(F.col("text")), 1, 30), " "
        ).alias("text"),
    )
    return contamination_flags(d, bench, k=8, min_shared=2)


def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shape LM quality scoring: the even-doc_id half of the
    corpus is the trusted reference (trains the bigram MLE), every doc
    is scored against it — odd docs carry real OOV mass.  All-int64
    output (micro-probability space; no cross-libm logs in the gate)."""
    from duplicate_image_detector_spark.operators.lm_filter import (
        score_bigram_lm,
        train_bigram_lm,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    model = train_bigram_lm(d.where(F.col("doc_id") % 2 == 0))
    return score_bigram_lm(d, model)


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk packing of the corpus into 256-token training
    sequences over 8 shards; pure window arithmetic, int64-exact."""
    from duplicate_image_detector_spark.operators.packing import (
        pack_sequences,
    )

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    return pack_sequences(d, max_tokens=256, n_shards=8)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mixing sample: per-language keep fractions
    (en .5 / de .25 / fr .125 / es .0625, zh via the default 0.02),
    membership a pure function of doc_id — replayed bit-for-bit by the
    oracle from the same constants."""
    from duplicate_image_detector_spark.operators.sampling import (
        stratified_sample,
    )

    d = _docs(spark, sf_dir).select("doc_id", "lang", "source")
    rates = spark.createDataFrame(
        [("en", 0.5), ("de", 0.25), ("fr", 0.125), ("es", 0.0625)],
        "lang string, fraction double",
    )
    return stratified_sample(d, rates, ["lang"], default_fraction=0.02)


def q_host_diversity_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-diversity capping at max 10 docs/source: over-cap hosts
    pass a deterministic hash coin at fraction cap/count (no giant
    per-host windows), under-cap hosts pass wholesale."""
    from duplicate_image_detector_spark.operators.sampling import (
        cap_per_host,
    )

    d = _docs(spark, sf_dir).select("doc_id", "source")
    return cap_per_host(d, "source", max_per_host=10).select(
        "doc_id", "source", "host_count"
    )


def _planted_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three raw spellings per canonical page (uppercase scheme/host +
    default port + www + tracking params + fragment + trailing slash +
    shuffled query order), one per doc_id % 3; consecutive doc_id
    triples share a page.  Deterministic and identical in the oracle."""
    d = _docs(spark, sf_dir).select("doc_id")
    g = F.floor(F.col("doc_id") / 3).cast("long")
    m = F.col("doc_id") % 3
    url = (
        F.when(m == 0, F.concat(
            F.lit("HTTP://WWW.Example.com:80/docs/"), g,
            F.lit("/?utm_source=feed&b=2&a=1#top")))
        .when(m == 1, F.concat(
            F.lit("http://example.com/docs/"), g, F.lit("?a=1&b=2")))
        .otherwise(F.concat(
            F.lit("http://Example.com:80/docs/"), g,
            F.lit("/?b=2&a=1&gclid=xyz")))
    )
    return d.select("doc_id", url.alias("url"))


def q_url_canon_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level exact tier: canonicalize planted URL variants and group
    (>= 2 raw spellings per canonical page; min-id representative)."""
    from duplicate_image_detector_spark.functions.urls import (
        url_variant_groups,
    )

    return url_variant_groups(_planted_urls(spark, sf_dir), min_size=2)


def q_doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule within-doc repetition profile on the planted pages
    (nav repeated in the footer for doc_id % 4 -> non-vacuous line
    stats; the word-soup bodies repeat 2/3-grams naturally).  All five
    fractions are integer-derived ratios: bit-exact vs the oracle with
    no rounding (repo float policy)."""
    from duplicate_image_detector_spark.operators.repetition import (
        doc_repetition_stats,
    )

    return doc_repetition_stats(
        _planted_pages(spark, sf_dir), top_ns=(2, 3), dup_n=5
    )


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")

    # exact-decimal sums: summation-order-independent, so the values are
    # bit-identical to the DuckDB oracle with no rounding tolerance at all
    def dsum(c) -> F.Column:
        return F.sum(c.cast("decimal(18,6)")).cast("double")

    n = F.count(F.lit(1))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
            ).alias("sum_disc_price"),
            (dsum(F.col("l_quantity")) / n).alias("avg_qty"),
            (dsum(F.col("l_discount")) / n).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_top_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def q_parts_with_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return p.join(li, p.p_partkey == li.l_partkey, "left_semi").select(
        "p_partkey", "p_name"
    )


def q_events_minutely(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    minute = F.date_format(F.date_trunc("minute", F.col("ts")), "yyyy-MM-dd HH:mm:ss")
    return (
        e.groupBy(minute.alias("minute"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via lag + running sum."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.col("ts")).over(w)
    is_new = F.when(
        prev.isNull()
        | ((F.col("ts") - prev) > F.expr("INTERVAL 1800 SECONDS")),
        1,
    ).otherwise(0)
    sess = e.withColumn(
        "session_id",
        F.sum(is_new).over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    )


def q_events_props_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count("*").alias("n")
    )


def q_orders_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_format(F.col("o_orderdate"), "yyyy-MM").alias("month"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double").alias("revenue"),
        )
    )


def q_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global counters over the near-dup pair set (A7/A8 analog) — ONE
    distributed aggregation (no separate driver actions): pair endpoints
    exploded, pairs counted as rows/2, docs as a distinct count."""
    pairs = q_ngram_jaccard_pairs(spark, sf_dir)
    ends = pairs.select(F.explode(F.array("id_a", "id_b")).alias("d"))
    return ends.agg(
        (F.count("*") / 2).cast("bigint").alias("n_pairs"),
        F.countDistinct("d").alias("n_docs_in_pairs"),
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type count matrix (fixed value list so the
    output schema is stable; nulls filled to 0 to match conditional-agg
    semantics)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .count()
        .na.fill(0, _EVENT_TYPES)
    )


def q_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup: order counts + exact-decimal revenue by (priority, month)
    with subtotals and a grand total."""
    o = _t(spark, sf_dir, "orders")
    month = F.date_format(F.col("o_orderdate"), "yyyy-MM").alias("month")
    return (
        o.select(F.col("o_orderpriority").alias("priority"), month, "o_totalprice")
        .rollup("priority", "month")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("revenue"),
        )
    )


def q_windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-surface gate (§2.10): the availableNow watermarked
    tumbling-window aggregation run for real — readStream over the events
    parquet, append-mode parquet sink, then the sink read back.  With one
    availableNow batch the output is exactly the batch aggregation
    restricted to watermark-closed windows (window_end <= max(ts) -
    watermark), which is what the DuckDB oracle computes."""
    import os
    import tempfile

    from duplicate_image_detector_spark.streaming.windowed import (
        windowed_event_counts,
    )

    base = tempfile.mkdtemp(prefix="spark_graft_stream_gate_")
    out_dir = os.path.join(base, "out")
    chk = os.path.join(base, "chk")
    # FileStreamSource requires a DIRECTORY; the driver table may be a
    # single parquet file — stage it into a landing dir via symlink
    src = f"{sf_dir}/events.parquet"
    if os.path.isfile(src):
        landing = os.path.join(base, "landing")
        os.makedirs(landing)
        os.symlink(src, os.path.join(landing, "events.parquet"))
        src = landing
    q = windowed_event_counts(
        spark,
        src,
        out_dir,
        chk,
        window="1 minute",
        watermark="10 minutes",
    )
    q.awaitTermination(600)
    return spark.read.parquet(out_dir).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.date_format("window_end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        "event_type",
        "n",
        "sum_value",
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: near-dup clusters."""
    return q_near_dup_clusters(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "exact_canon_clusters": q_exact_canon_clusters,
        "exact_prefix_clusters": q_exact_prefix_clusters,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "near_dup_clusters": q_near_dup_clusters,
        "pipeline_clusters": q_pipeline_clusters,
        "pipeline_clusters_exclude_exact": q_pipeline_clusters_exclude_exact,
        "daily_loop_clusters": q_daily_loop_clusters,
        "simhash_hamming_pairs": q_simhash_hamming_pairs,
        "incremental_near_pairs": q_incremental_near_pairs,
        "incremental_cluster_update": q_incremental_cluster_update,
        "integrated_pairs": q_integrated_pairs,
        "substring_pairs": q_substring_pairs,
        "best_pair_per_member": q_best_pair_per_member,
        "cluster_members_topk": q_cluster_members_topk,
        "doc_fingerprint": q_doc_fingerprint,
        "lang_id": q_lang_id,
        "token_stats": q_token_stats,
        "bpe_token_count": q_bpe_token_count,
        "quality_score": q_quality_score,
        "binary_meta": q_binary_meta,
        "doc_validity_stats": q_doc_validity_stats,
        "doc_preview": q_doc_preview,
        "cosine_topk": q_cosine_topk,
        "cosine_dup_pairs": q_cosine_dup_pairs,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "repeated_line_stats": q_repeated_line_stats,
        "line_dedup_docs": q_line_dedup_docs,
        "line_dedup_first": q_line_dedup_first,
        "doc_repetition_stats": q_doc_repetition_stats,
        "url_canon_groups": q_url_canon_groups,
        "pii_scrub": q_pii_scrub,
        "contamination_flags": q_contamination_flags,
        "bigram_lm_score": q_bigram_lm_score,
        "sequence_packing": q_sequence_packing,
        "stratified_sample": q_stratified_sample,
        "host_diversity_cap": q_host_diversity_cap,
        "tpch_q1": q_tpch_q1,
        "top_orders_per_cust": q_top_orders_per_cust,
        "customers_without_orders": q_customers_without_orders,
        "parts_with_lineitems": q_parts_with_lineitems,
        "events_minutely": q_events_minutely,
        "event_sessions": q_event_sessions,
        "events_props_agg": q_events_props_agg,
        "orders_monthly": q_orders_monthly,
        "events_pivot": q_events_pivot,
        "orders_rollup": q_orders_rollup,
        "dup_stats": q_dup_stats,
        "windowed_event_counts": q_windowed_event_counts,
    }


# The driver reports at most 50 gates (the round-5 report silently
# truncated a 51-entry registry, dropping its LAST entry —
# windowed_event_counts).  Gates retired to stay within that budget are
# kept here, still pytest-verified against the same oracles by
# tests/test_entry_oracle.py: near_dup_clusters_id128 exercises the
# 128-bit id width through the identical CC plan as near_dup_clusters,
# so it was the redundant row.
def retired_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {"near_dup_clusters_id128": q_near_dup_clusters_id128}


def retired_oracle_sql() -> dict[str, str]:
    return {"near_dup_clusters_id128": _CC_SQL}


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

# shared fragments — tokenization is character-identical to the Spark side
_WORDS = (
    "SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), "
    "'[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS w "
    "FROM documents WHERE text IS NOT NULL AND length(text) >= {minlen}"
)

_SHINGLES = (
    "SELECT doc_id, list_distinct([array_to_string(w[i:i+{km1}], ' ') "
    "for i in range(1, len(w) - {km2})]) AS s FROM words WHERE len(w) >= {k}"
)


def _words_cte(minlen: int = 50) -> str:
    return _WORDS.format(minlen=minlen)


def _shingles_cte(k: int = 5) -> str:
    return _SHINGLES.format(km1=k - 1, km2=k - 2, k=k)


# un-thresholded exact-Jaccard CTE chain (words -> shingles -> inverted
# index -> per-pair intersection -> allj) — composed into the pair, CC,
# and pipeline oracles below
_ALLJ_CTES = """words AS ({words}),
sh AS ({shingles}),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, len(s) AS n FROM sh),
allj AS (
  SELECT id_a, id_b, ni::DOUBLE / (sa.n + sb.n - ni)::DOUBLE AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
)"""

# SimHash (md5-60bit base hash) + Hamming <= {d} pair CTE chain; assumes a
# prior ``sh`` CTE (shingles)
_HP_CTES = """hx AS (SELECT doc_id, unnest(s) AS g FROM sh),
hh AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h FROM hx),
bits AS (
  SELECT doc_id, j,
         sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM hh, (SELECT unnest(range(60)) AS j)
  GROUP BY doc_id, j
),
sim AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
),
hp AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
  FROM sim a JOIN sim b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {d}
)"""


def _allj_ctes() -> str:
    return _ALLJ_CTES.format(words=_words_cte(), shingles=_shingles_cte())


def _hp_ctes(d: int = 3) -> str:
    return _HP_CTES.format(d=d)


def _jaccard_pairs_sql(threshold: float = 0.86) -> str:
    return f"""
WITH {_allj_ctes()}
SELECT id_a, id_b, jaccard FROM allj WHERE jaccard >= {threshold}
"""


# the NEAR-tier admission rule (SURVEY §7.0 pinned config): exact Jaccard
# >= threshold OR SimHash Hamming <= simhash_hamming_max.  Hamming-admitted
# pairs report their exact Jaccard (0 when no shingle is shared).
def _near_pairs_sql(threshold: float = 0.86, d: int = 3) -> str:
    return f"""
WITH {_allj_ctes()},
{_hp_ctes(d)}
SELECT id_a, id_b, jaccard FROM allj WHERE jaccard >= {threshold}
UNION
SELECT h.id_a, h.id_b, coalesce(a.jaccard, 0.0::DOUBLE) AS jaccard
FROM hp h LEFT JOIN allj a ON a.id_a = h.id_a AND a.id_b = h.id_b
"""


_JACCARD_PAIRS = _jaccard_pairs_sql()
_NEAR_PAIRS = _near_pairs_sql()

# the incremental gate: the SAME near rule, filtered to pairs touching the
# delta (pmod(doc_id, 8) == 0) — sign-safe modulo for negative ids
_INCREMENTAL_NEAR_SQL = f"""
WITH {_allj_ctes()},
{_hp_ctes(3)},
np AS (
  SELECT id_a, id_b, jaccard FROM allj WHERE jaccard >= 0.86
  UNION
  SELECT h.id_a, h.id_b, coalesce(a.jaccard, 0.0::DOUBLE) AS jaccard
  FROM hp h LEFT JOIN allj a ON a.id_a = h.id_a AND a.id_b = h.id_b
)
SELECT id_a, id_b, jaccard FROM np
WHERE ((id_a % 8) + 8) % 8 = 0 OR ((id_b % 8) + 8) % 8 = 0
"""

_INTEGRATED_SQL = f"""
WITH jp AS ({_jaccard_pairs_sql(0.8)}),
m AS (
  SELECT doc_id,
         CASE WHEN lang IS NULL OR source IS NULL THEN NULL
              ELSE lang || chr(31) || source END AS k
  FROM documents
),
scored AS (
  SELECT id_a, id_b, jaccard,
         CASE WHEN ma.k IS NOT NULL AND mb.k IS NOT NULL AND ma.k = mb.k
              THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS metadata_match
  FROM jp JOIN m ma ON ma.doc_id = id_a JOIN m mb ON mb.doc_id = id_b
)
SELECT id_a, id_b, jaccard, metadata_match,
       0.85::DOUBLE * jaccard + 0.15::DOUBLE * metadata_match AS integrated_score,
       (metadata_match > 0.0)::INT AS has_metadata_bonus
FROM scored
WHERE (metadata_match = 1.0 AND jaccard >= 0.90::DOUBLE)
   OR (metadata_match = 0.0 AND jaccard >= 0.86::DOUBLE)
   OR (0.85::DOUBLE * jaccard + 0.15::DOUBLE * metadata_match >= 0.88::DOUBLE)
"""

# CTEs are laid FLAT under WITH RECURSIVE: DuckDB mis-scopes a nested WITH
# inside a recursive CTE body (allj becomes unresolvable), so the near-pair
# union is expressed over the shared flat fragments instead
_CC_SQL = f"""
WITH RECURSIVE {_allj_ctes()},
{_hp_ctes(3)},
jp AS (
  SELECT id_a, id_b FROM allj WHERE jaccard >= 0.86
  UNION
  SELECT id_a, id_b FROM hp
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM jp
  UNION
  SELECT id_b, id_a FROM jp
),
nodes AS (SELECT DISTINCT u FROM edges),
walk(node, label) AS (
  SELECT u, u FROM nodes
  UNION
  SELECT e.v, w.label FROM walk w JOIN edges e ON e.u = w.node
)
SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node
"""

_SIMHASH_SQL = f"""
WITH words AS ({_words_cte()}),
sh AS ({_shingles_cte()}),
{_hp_ctes(3)}
SELECT id_a, id_b, hamming FROM hp
"""

_SUBSTRING_SQL = """
WITH wins AS (
  SELECT doc_id,
         unnest([md5(substr(text, i, 400)) for i in range(1, length(text) - 398)]) AS w
  FROM documents WHERE text IS NOT NULL AND length(text) >= 400
),
dw AS (SELECT DISTINCT doc_id, w FROM wins)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM dw a JOIN dw b ON a.w = b.w AND a.doc_id < b.doc_id
"""

# full-pipeline oracle: CC over the union of all three evidence tiers —
# byte-identical text (exact), the near admission rule (exact Jaccard >=
# 0.86 OR SimHash Hamming <= 3), and a shared 400-char window (substring)
_PIPELINE_CC_SQL = f"""
WITH RECURSIVE {_allj_ctes()},
{_hp_ctes(3)},
jp AS (
  SELECT id_a, id_b FROM allj WHERE jaccard >= 0.86
  UNION
  SELECT id_a, id_b FROM hp
),
d AS (
  SELECT doc_id, text FROM documents
  WHERE text IS NOT NULL AND length(text) >= 50
),
ep AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM d a JOIN d b ON a.text = b.text AND a.doc_id < b.doc_id
),
sp AS ({_SUBSTRING_SQL}),
ap AS (
  SELECT id_a, id_b FROM jp
  UNION SELECT id_a, id_b FROM ep
  UNION SELECT id_a, id_b FROM sp
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM ap
  UNION
  SELECT id_b, id_a FROM ap
),
nodes AS (SELECT DISTINCT u FROM edges),
walk(node, label) AS (
  SELECT u, u FROM nodes
  UNION
  SELECT e.v, w.label FROM walk w JOIN edges e ON e.u = w.node
)
SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node
"""

_TOKEN_STATS_SQL = f"""
WITH words AS ({_words_cte(minlen=0)})
SELECT doc_id,
       length(text) ::BIGINT AS n_chars,
       len(w)::BIGINT AS n_tokens,
       len(list_distinct(w))::BIGINT AS n_distinct_tokens,
       floor((coalesce(list_sum(list_transform(w, x -> len(x))), 0)::DOUBLE
             / greatest(len(w), 1)::DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS avg_token_len
FROM words JOIN documents USING (doc_id)
"""

_QUALITY_SQL = f"""
WITH words AS ({_words_cte(minlen=0)})
SELECT doc_id,
  floor((
    0.4 * least(len(w)::DOUBLE / 400.0, 1.0)
    + 0.3 * (len(list_distinct(w))::DOUBLE / greatest(len(w), 1)::DOUBLE)
    + 0.3 * least((coalesce(list_sum(list_transform(w, x -> len(x))), 0)::DOUBLE
                   / greatest(len(w), 1)::DOUBLE) / 8.0, 1.0)
  ) * 1000000.0 + 0.5) / 1000000.0 AS quality
FROM words
"""


def _lang_sql() -> str:
    def lst(lang: str) -> str:
        items = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        return f"len(list_filter(w, x -> list_contains([{items}], x)))"

    return f"""
WITH words AS ({_words_cte(minlen=0)}),
hits AS (SELECT doc_id, {lst('en')} AS en, {lst('de')} AS de, {lst('fr')} AS fr FROM words)
SELECT doc_id,
  CASE WHEN en >= de AND en >= fr AND en > 0 THEN 'en'
       WHEN de >= fr AND de > 0 THEN 'de'
       WHEN fr > 0 THEN 'fr'
       ELSE 'unknown' END AS lang_pred
FROM hits
"""


_FINGERPRINT_SQL = f"""
WITH words AS ({_words_cte()}),
sh AS ({_shingles_cte()}),
m AS (SELECT doc_id, list_sort(list_transform(s, x -> md5(x))) AS fps FROM sh WHERE len(s) > 0)
SELECT doc_id, fps[1] AS min_fp, array_to_string(fps[1:5], ',') AS bottom_fps FROM m
"""

_COSINE_SQL = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
n AS (
  SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nm FROM v
),
p AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         round(list_dot_product(a.e, b.e) / (a.nm * b.nm), 6) AS cos
  FROM n a JOIN n b ON a.vec_id <> b.vec_id
)
SELECT vec_id, neighbor_id, cos, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
  FROM p
) WHERE rank <= 5
"""

_EXACT_CANON_SQL = f"""
WITH words AS ({_words_cte(minlen=0)}),
keyed AS (
  SELECT doc_id, sha256(array_to_string(w[1:40], ' ')) AS k FROM words
)
SELECT doc_id, cluster_id, tier FROM (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY k) AS cluster_id,
         count(*) OVER (PARTITION BY k) AS n,
         'exact_canon' AS tier
  FROM keyed
) WHERE n >= 2
"""

_EXACT_PREFIX_SQL = """
SELECT doc_id, cluster_id, tier FROM (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY substr(text, 1, 100)) AS cluster_id,
         count(*) OVER (PARTITION BY substr(text, 1, 100)) AS n,
         'exact_prefix' AS tier
  FROM documents WHERE text IS NOT NULL
) WHERE n >= 2
"""

# the streaming gate's append-mode output == the batch aggregation over
# watermark-closed windows (single availableNow batch -> no in-batch drops)
_WINDOWED_EVENTS_SQL = """
WITH agg AS (
  SELECT date_trunc('minute', ts) AS ws, event_type, count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
  FROM events GROUP BY 1, 2
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(ws + INTERVAL 1 MINUTE, '%Y-%m-%d %H:%M:%S') AS window_end,
       event_type, n, sum_value
FROM agg
WHERE ws + INTERVAL 1 MINUTE
      <= (SELECT max(ts) FROM events) - INTERVAL 10 MINUTE
"""

_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_qty,
       CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

_SESSIONS_SQL = """
WITH lagged AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) > 1800 THEN 1 ELSE 0 END AS is_new
  FROM lagged
),
sess AS (
  SELECT user_id, ts,
         (sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING))::BIGINT AS session_id
  FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
FROM sess GROUP BY user_id, session_id
"""


_ANN_RECALL_SQL = f"""
SELECT (count(*) * {_ANN_COPIES})::BIGINT AS n_queries,
       5 AS k, 1 AS recall_ok
FROM embeddings
"""


# repeated-line gates: the planted multi-line pages (same construction
# as _planted_pages — concat_ws skips the NULL CASE arms in both
# engines) and the line explosion with 1-based ordinality.  n_removed
# sums are cast to BIGINT (DuckDB widens sum(int) to HUGEINT); rebuilt
# text is pinned by sha256 (identical lowercase-hex in both engines;
# string_agg skips NULL-cased dropped lines and keeps blank lines as
# empty strings, mirroring the Spark collect_list(when(...)) rebuild).
_PLANTED_PAGES_SQL = f"""
SELECT doc_id, concat_ws(chr(10),
    CASE WHEN doc_id % 2 = 0 THEN '{_NAV_LINE}' END,
    array_to_string(list_slice(string_split(text, ' '), 1, 8), ' '),
    text,
    CASE WHEN doc_id % 3 = 0 THEN '{_COOKIE_LINE}' END,
    '{_FOOTER_LINE}',
    CASE WHEN doc_id % 4 = 0 THEN '{_NAV_LINE}' END) AS text
FROM documents WHERE text IS NOT NULL
"""

_LINE_ROWS_SQL = f"""
SELECT doc_id, ord, x AS line, trim(x) AS norm FROM (
  SELECT doc_id, unnest(string_split(text, chr(10))) AS x,
         generate_subscripts(string_split(text, chr(10)), 1) AS ord
  FROM pages)
"""

_LINE_STATS_SQL = f"""
WITH pages AS ({_PLANTED_PAGES_SQL}),
l AS ({_LINE_ROWS_SQL})
SELECT norm AS line, count(DISTINCT doc_id)::BIGINT AS df,
       count(*)::BIGINT AS n_occurrences
FROM l WHERE norm <> '' GROUP BY norm
HAVING count(DISTINCT doc_id) >= 2
"""

_LINE_DEDUP_DOCS_SQL = f"""
WITH pages AS ({_PLANTED_PAGES_SQL}),
l AS ({_LINE_ROWS_SQL}),
hot AS (SELECT norm FROM l WHERE norm <> ''
        GROUP BY norm HAVING count(DISTINCT doc_id) > 50)
SELECT l.doc_id, count(*)::BIGINT AS n_lines,
       sum(CASE WHEN h.norm IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_removed,
       sha256(coalesce(string_agg(
         CASE WHEN h.norm IS NULL THEN l.line END,
         chr(10) ORDER BY l.ord), '')) AS text_sha
FROM l LEFT JOIN hot h ON l.norm = h.norm
GROUP BY l.doc_id
"""

_LINE_DEDUP_FIRST_SQL = f"""
WITH pages AS ({_PLANTED_PAGES_SQL}),
l AS ({_LINE_ROWS_SQL}),
r AS (SELECT *, row_number() OVER (PARTITION BY norm
                                   ORDER BY doc_id, ord) AS rn FROM l)
SELECT doc_id, count(*)::BIGINT AS n_lines,
       sum(CASE WHEN norm <> '' AND rn > 1 THEN 1 ELSE 0 END)::BIGINT
         AS n_removed,
       sha256(coalesce(string_agg(
         CASE WHEN NOT (norm <> '' AND rn > 1) THEN line END,
         chr(10) ORDER BY ord), '')) AS text_sha
FROM r GROUP BY doc_id
"""


# within-doc repetition stats: word n-grams use the SAME tokenizer as
# the _WORDS fragment (lower + [^a-z0-9]+ collapse), over the planted
# pages; every output fraction is an exact-integer ratio, so the double
# division is bit-identical across engines without rounding
_REPETITION_SQL = f"""
WITH pages AS ({_PLANTED_PAGES_SQL}),
l AS ({_LINE_ROWS_SQL}),
la AS (
  SELECT doc_id, sum(cnt - 1) / sum(cnt) AS dup_line_frac,
         sum((cnt - 1) * len) / sum(cnt * len) AS dup_line_char_frac
  FROM (SELECT doc_id, norm, count(*) AS cnt, length(norm) AS len
        FROM l WHERE norm <> '' GROUP BY doc_id, norm)
  GROUP BY doc_id),
w AS (SELECT doc_id, list_filter(string_split(regexp_replace(lower(text),
        '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS w FROM pages),
t2 AS (
  SELECT doc_id, max(cnt * length(gram)) / sum(cnt * length(gram))
           AS top_2gram_char_frac
  FROM (SELECT doc_id, gram, count(*) AS cnt FROM (
          SELECT doc_id, unnest([array_to_string(w[i:i+1], ' ')
                                 for i in range(1, len(w))]) AS gram
          FROM w WHERE len(w) >= 2) GROUP BY doc_id, gram)
  GROUP BY doc_id),
t3 AS (
  SELECT doc_id, max(cnt * length(gram)) / sum(cnt * length(gram))
           AS top_3gram_char_frac
  FROM (SELECT doc_id, gram, count(*) AS cnt FROM (
          SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ')
                                 for i in range(1, len(w) - 1)]) AS gram
          FROM w WHERE len(w) >= 3) GROUP BY doc_id, gram)
  GROUP BY doc_id),
d5 AS (
  SELECT doc_id, sum(cnt - 1) / sum(cnt) AS dup_5gram_frac
  FROM (SELECT doc_id, gram, count(*) AS cnt FROM (
          SELECT doc_id, unnest([array_to_string(w[i:i+4], ' ')
                                 for i in range(1, len(w) - 3)]) AS gram
          FROM w WHERE len(w) >= 5) GROUP BY doc_id, gram)
  GROUP BY doc_id)
SELECT p.doc_id,
       coalesce(la.dup_line_frac, 0.0) AS dup_line_frac,
       coalesce(la.dup_line_char_frac, 0.0) AS dup_line_char_frac,
       coalesce(t2.top_2gram_char_frac, 0.0) AS top_2gram_char_frac,
       coalesce(t3.top_3gram_char_frac, 0.0) AS top_3gram_char_frac,
       coalesce(d5.dup_5gram_frac, 0.0) AS dup_5gram_frac
FROM (SELECT doc_id FROM pages) p
LEFT JOIN la USING (doc_id) LEFT JOIN t2 USING (doc_id)
LEFT JOIN t3 USING (doc_id) LEFT JOIN d5 USING (doc_id)
"""


# URL canonicalization oracle: the regex constants are interpolated from
# the SAME strings the Spark expressions use (DuckDB single-quote
# literals are escape-free, so the bytes reach RE2 verbatim; the
# patterns are written in the Java/RE2 common subset)
def _url_canon_sql() -> str:
    from duplicate_image_detector_spark.functions.urls import (
        _AUTH_RE, _PATH_RE, _QUERY_RE, _SCHEME_RE, TRACKING_PARAM_RE,
    )

    scheme = f"lower(regexp_extract(url, '{_SCHEME_RE}', 1))"
    auth = f"lower(regexp_extract(url, '{_AUTH_RE}', 1))"
    return f"""
WITH u AS (
  SELECT doc_id,
    CASE doc_id % 3
      WHEN 0 THEN 'HTTP://WWW.Example.com:80/docs/' || (doc_id // 3)
                  || '/?utm_source=feed&b=2&a=1#top'
      WHEN 1 THEN 'http://example.com/docs/' || (doc_id // 3)
                  || '?a=1&b=2'
      ELSE 'http://Example.com:80/docs/' || (doc_id // 3)
           || '/?b=2&a=1&gclid=xyz'
    END AS url
  FROM documents),
q AS (
  SELECT doc_id, url,
    array_to_string(list_sort(list_filter(
      string_split(regexp_extract(url, '{_QUERY_RE}', 1), '&'),
      p -> p <> '' AND NOT regexp_matches(p, '{TRACKING_PARAM_RE}'))),
      '&') AS qs
  FROM u),
c AS (
  SELECT doc_id,
    CASE WHEN {scheme} <> '' THEN
      {scheme} || '://' ||
      regexp_replace(
        CASE {scheme}
          WHEN 'http' THEN regexp_replace({auth}, ':80$', '')
          WHEN 'https' THEN regexp_replace({auth}, ':443$', '')
          ELSE {auth} END, '^www\\.', '') ||
      regexp_replace(regexp_extract(url, '{_PATH_RE}', 1), '/+$', '') ||
      CASE WHEN qs = '' THEN '' ELSE '?' || qs END
    ELSE url END AS canon_url
  FROM q)
SELECT canon_url, count(*)::BIGINT AS n_docs, min(doc_id) AS rep_doc_id
FROM c GROUP BY canon_url HAVING count(*) >= 2
"""


def _pii_sql() -> str:
    # same pattern strings, same application order; DuckDB needs the
    # explicit 'g' flag (its regexp_replace is first-match by default,
    # Spark's is global)
    from duplicate_image_detector_spark.functions.pii import PII_PATTERNS

    email, ip, phone = (PII_PATTERNS[k][0] for k in ("email", "ipv4", "phone"))
    red = "text"
    for name in ("email", "ipv4", "phone"):
        rx, tok = PII_PATTERNS[name]
        red = f"regexp_replace({red}, '{rx}', '{tok}', 'g')"
    return f"""
WITH p AS (
  SELECT doc_id, text || CASE doc_id % 4
    WHEN 0 THEN ' contact user' || doc_id || '@example.com now'
    WHEN 1 THEN ' server 10.1.' || (doc_id % 200) || '.7 up'
    WHEN 2 THEN ' call +1415' || (doc_id + 550000)
    ELSE '' END AS text
  FROM documents WHERE text IS NOT NULL)
SELECT doc_id,
  len(regexp_extract_all(text, '{email}'))::BIGINT AS n_email,
  len(regexp_extract_all(text, '{ip}'))::BIGINT AS n_ipv4,
  len(regexp_extract_all(text, '{phone}'))::BIGINT AS n_phone,
  sha256({red}) AS text_sha
FROM p
"""


_CONTAMINATION_SQL = """
WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
w AS (SELECT doc_id, list_filter(string_split(regexp_replace(lower(text),
        '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS w FROM d),
dg AS (SELECT doc_id, unnest(list_distinct(
         [array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)]))
         AS gram FROM w WHERE len(w) >= 8),
bw AS (SELECT doc_id AS bench_id, w[1:30] AS w FROM w
       WHERE doc_id % 17 = 0),
bg AS (SELECT bench_id, unnest(list_distinct(
         [array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)]))
         AS gram FROM bw WHERE len(w) >= 8)
SELECT doc_id, bench_id, count(*)::BIGINT AS n_shared_grams
FROM dg JOIN bg USING (gram) GROUP BY doc_id, bench_id
HAVING count(*) >= 2
"""


# bigram stream with multiplicity (an LM counts occurrences; contrast
# the DISTINCT shingles of the dedup oracles).  p_micro replays the
# engine's exact float sequence: int64 -> double division -> *1e6 ->
# floor (IEEE-identical in both engines; no logs cross the boundary).
_BIGRAM_LM_SQL = """
WITH w AS (SELECT doc_id, list_filter(string_split(regexp_replace(lower(text),
        '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS w
      FROM documents WHERE text IS NOT NULL),
bg AS (SELECT doc_id, unnest([struct_pack(w1 := w[i], w2 := w[i+1])
         for i in range(1, len(w))], recursive := true)
       FROM w WHERE len(w) >= 2),
c12 AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bg
        WHERE doc_id % 2 = 0 GROUP BY w1, w2),
model AS (SELECT w1, w2, c12, sum(c12) OVER (PARTITION BY w1)::BIGINT AS c1
          FROM c12),
scored AS (
  SELECT bg.doc_id,
    count(*)::BIGINT AS n_bigrams,
    sum(CASE WHEN model.c12 IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
    coalesce(sum(CASE WHEN model.c12 IS NULL THEN 0 ELSE
      floor(model.c12::DOUBLE / model.c1::DOUBLE * 1000000.0)::BIGINT
      END), 0)::BIGINT AS sum_p_micro
  FROM bg LEFT JOIN model USING (w1, w2) GROUP BY bg.doc_id)
SELECT d.doc_id,
  coalesce(s.n_bigrams, 0)::BIGINT AS n_bigrams,
  coalesce(s.n_oov, 0)::BIGINT AS n_oov,
  coalesce(s.sum_p_micro, 0)::BIGINT AS sum_p_micro
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN scored s USING (doc_id)
"""


_SEQUENCE_PACKING_SQL = """
WITH w AS (SELECT doc_id, list_filter(string_split(regexp_replace(lower(text),
        '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS w
      FROM documents WHERE text IS NOT NULL),
t AS (SELECT doc_id, len(w)::BIGINT AS n_tokens,
        (doc_id % 8)::BIGINT AS shard FROM w),
o AS (SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY shard
        ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        0)::BIGINT AS off FROM t)
SELECT doc_id, n_tokens, shard,
  (off // 256)::BIGINT AS seq, (off % 256)::BIGINT AS offset_in_seq
FROM o
"""


# same two-limb hash constants as operators/sampling.py; keep-fractions
# pre-floored to micro units exactly as stratified_sample does
_STRATIFIED_SAMPLE_SQL = """
WITH h AS (SELECT doc_id, lang, source,
    ((doc_id % 1000003) * 2654435761 + (doc_id // 1000003) * 40503 + 7)
      % 4294967296 AS sample_hash
  FROM documents)
SELECT doc_id, lang, source, sample_hash
FROM h
WHERE sample_hash % 1000000 < CASE lang
  WHEN 'en' THEN 500000 WHEN 'de' THEN 250000
  WHEN 'fr' THEN 125000 WHEN 'es' THEN 62500 ELSE 20000 END
"""


# same hash constants as _STRATIFIED_SAMPLE_SQL; keep threshold =
# greatest(floor(cap*2^32 / host_count), 1) replays the engine's exact
# double division over the FULL 2^32 hash range (2^-32 min fraction,
# clamped so an ultra-hot host still keeps ~cap rows, never zero)
_HOST_CAP_SQL = """
WITH c AS (SELECT source, count(*)::BIGINT AS host_count
           FROM documents GROUP BY source),
j AS (SELECT d.doc_id, d.source, c.host_count,
    ((d.doc_id % 1000003) * 2654435761 + (d.doc_id // 1000003) * 40503 + 7)
      % 4294967296 AS h
  FROM documents d JOIN c USING (source))
SELECT doc_id, source, host_count FROM j
WHERE host_count <= 10
   OR h < greatest(floor(10.0 * 4294967296.0 / host_count)::BIGINT, 1)
"""


def oracle_sql() -> dict[str, str]:
    return {
        "repeated_line_stats": _LINE_STATS_SQL,
        "doc_repetition_stats": _REPETITION_SQL,
        "url_canon_groups": _url_canon_sql(),
        "pii_scrub": _pii_sql(),
        "contamination_flags": _CONTAMINATION_SQL,
        "bigram_lm_score": _BIGRAM_LM_SQL,
        "sequence_packing": _SEQUENCE_PACKING_SQL,
        "stratified_sample": _STRATIFIED_SAMPLE_SQL,
        "host_diversity_cap": _HOST_CAP_SQL,
        "line_dedup_docs": _LINE_DEDUP_DOCS_SQL,
        "line_dedup_first": _LINE_DEDUP_FIRST_SQL,
        "exact_canon_clusters": _EXACT_CANON_SQL,
        "exact_prefix_clusters": _EXACT_PREFIX_SQL,
        "ngram_jaccard_pairs": _JACCARD_PAIRS,
        "minhash_lsh_pairs": _NEAR_PAIRS,
        "near_dup_clusters": _CC_SQL,
        "pipeline_clusters": _PIPELINE_CC_SQL,
        "pipeline_clusters_exclude_exact": _PIPELINE_CC_SQL,
        # two-day incremental loop == the batch pipeline over the union
        "daily_loop_clusters": _PIPELINE_CC_SQL,
        "simhash_hamming_pairs": _SIMHASH_SQL,
        "incremental_near_pairs": _INCREMENTAL_NEAR_SQL,
        # cluster maintenance must reproduce the full-corpus near CC
        "incremental_cluster_update": _CC_SQL,
        "integrated_pairs": _INTEGRATED_SQL,
        "substring_pairs": _SUBSTRING_SQL,
        "best_pair_per_member": f"""
WITH jp AS ({_JACCARD_PAIRS}),
e AS (SELECT id_a AS doc_id, id_b AS other, jaccard FROM jp
      UNION ALL SELECT id_b, id_a, jaccard FROM jp)
SELECT doc_id, other AS best_match_id, jaccard AS best_score FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY jaccard DESC, other) AS rn
  FROM e
) WHERE rn = 1
""",
        "cluster_members_topk": f"""
SELECT cluster_id, doc_id, is_rep, rank FROM (
  SELECT cluster_id, doc_id, (doc_id = cluster_id)::INT AS is_rep,
         CAST(row_number() OVER (PARTITION BY cluster_id
              ORDER BY (doc_id = cluster_id) DESC, doc_id) AS INTEGER) AS rank
  FROM ({_CC_SQL})
) WHERE rank <= 3
""",
        "doc_fingerprint": _FINGERPRINT_SQL,
        "lang_id": _lang_sql(),
        "token_stats": _TOKEN_STATS_SQL,
        # the regex is interpolated from the SAME constant the Spark gate
        # uses (literal control chars inside the SQL string — DuckDB
        # single-quote literals are escape-free, so bytes pass verbatim)
        "bpe_token_count": (
            "SELECT doc_id, len(regexp_extract_all(lower(text),"
            f" '{BPE_TOKEN_REGEX}'))::BIGINT AS n_bpe_tokens "
            "FROM documents WHERE text IS NOT NULL"
        ),
        "quality_score": _QUALITY_SQL,
        "binary_meta": (
            "SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes, "
            "sha256(text) AS sha FROM documents WHERE text IS NOT NULL"
        ),
        "doc_validity_stats": (
            "SELECT count(*)::BIGINT AS n_rows,"
            " sum((text IS NOT NULL AND length(text) >= 50)::BIGINT)::BIGINT AS n_valid,"
            " (count(*) - sum((text IS NOT NULL AND length(text) >= 50)::BIGINT))::BIGINT AS n_invalid "
            "FROM documents"
        ),
        "doc_preview": (
            "SELECT doc_id,"
            " printf('doc-%d [%s]', doc_id, coalesce(lang, '?')) AS label,"
            " to_base64(encode(substr(text, 1, 32))) AS preview_b64,"
            " (decode(from_base64(to_base64(encode(substr(text, 1, 32)))))"
            "  = substr(text, 1, 32))::INT AS roundtrip_ok "
            "FROM documents WHERE text IS NOT NULL"
        ),
        "cosine_topk": _COSINE_SQL,
        "cosine_dup_pairs": """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nm FROM v)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.e, b.e) / (a.nm * b.nm), 6) AS cos
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.e, b.e) / (a.nm * b.nm), 6) >= 0.35
""",
        # ANN gates return a one-row (n_queries, k, recall_ok) summary:
        # recall vs an in-engine brute force on the planted-family corpus
        # (_planted_ann_corpus) must be >= 0.9 — value-checked, not
        # rows-only; n_queries is _ANN_COPIES rows per embeddings row
        "ann_lsh_topk": _ANN_RECALL_SQL,
        "ann_ivf_topk": _ANN_RECALL_SQL,
        "tpch_q1": _Q1_SQL,
        "top_orders_per_cust": (
            "SELECT o_custkey, o_orderkey, o_totalprice, rn FROM ("
            "  SELECT o_custkey, o_orderkey, o_totalprice,"
            "         CAST(row_number() OVER (PARTITION BY o_custkey "
            "              ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn"
            "  FROM orders) WHERE rn <= 3"
        ),
        "customers_without_orders": (
            "SELECT c_custkey, c_name FROM customer "
            "WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)"
        ),
        "parts_with_lineitems": (
            "SELECT p_partkey, p_name FROM part "
            "WHERE p_partkey IN (SELECT l_partkey FROM lineitem)"
        ),
        "events_minutely": (
            "SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS minute,"
            " event_type, count(*) AS n,"
            " CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value "
            "FROM events GROUP BY 1, 2"
        ),
        "event_sessions": _SESSIONS_SQL,
        "events_props_agg": (
            "SELECT event_type, sum(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS sum_k,"
            " count(*) AS n FROM events GROUP BY event_type"
        ),
        "orders_monthly": (
            "SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n_orders,"
            " CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue"
            " FROM orders GROUP BY 1"
        ),
        "events_pivot": (
            "SELECT user_id, "
            + ", ".join(
                f"count(*) FILTER (WHERE event_type = '{t}') AS \"{t}\""
                for t in _EVENT_TYPES
            )
            + " FROM events GROUP BY user_id"
        ),
        "orders_rollup": (
            "SELECT o_orderpriority AS priority,"
            " strftime(o_orderdate, '%Y-%m') AS month,"
            " count(*) AS n_orders,"
            " CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue"
            " FROM orders GROUP BY ROLLUP (priority, month)"
        ),
        "dup_stats": f"""
WITH jp AS ({_JACCARD_PAIRS})
SELECT count(*)::BIGINT AS n_pairs,
       (SELECT count(DISTINCT d) FROM (
          SELECT id_a AS d FROM jp UNION ALL SELECT id_b FROM jp))::BIGINT AS n_docs_in_pairs
FROM jp
""",
        "windowed_event_counts": _WINDOWED_EVENTS_SQL,
    }
