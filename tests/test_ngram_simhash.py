"""Inverted-index ngram Jaccard + pigeonhole SimHash vs brute force.

Both operators claim EXACT equality with the quadratic all-pairs plan —
these tests assert it on the generated corpus, check the physical plan has
no cartesian node, and exercise a pathological hot bucket.
"""

from __future__ import annotations

import random
from collections import Counter, defaultdict
from dataclasses import replace
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from duplicate_image_detector_spark.config import PipelineConfig
from duplicate_image_detector_spark.functions.text import shingles_col, words_col
from duplicate_image_detector_spark.operators.lsh import (
    explode_bands,
    lsh_candidate_pairs,
)
from duplicate_image_detector_spark.operators.ngram import ngram_jaccard_pairs
from duplicate_image_detector_spark.operators.signatures import (
    compute_signatures,
    jaccard_col,
)
from duplicate_image_detector_spark.operators.simhash import (
    simhash_hamming_pairs,
    simhash_key_rows,
)
from duplicate_image_detector_spark.operators.substring import (
    fingerprint_candidate_pairs,
)


def _brute_jaccard(docs, cfg):
    d = docs.where(
        F.col("text").isNotNull() & (F.length("text") >= cfg.min_text_len)
    )
    sh = d.select(
        "doc_id", shingles_col(words_col(F.col("text")), cfg.shingle_k).alias("sh")
    ).where(F.size("sh") > 0)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("_sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("_sb"))
    pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    out = pairs.select(
        "id_a", "id_b", jaccard_col(F.col("_sa"), F.col("_sb")).alias("jaccard")
    )
    return out.where(F.col("jaccard") >= cfg.jaccard_threshold)


def _docs_of(spark, tiny_pages_df):
    return tiny_pages_df.select(
        F.xxhash64("url").alias("doc_id"), "text"
    ).where(F.col("text").isNotNull())


def test_ngram_inverted_index_matches_brute_force(spark, tiny_pages_df, cfg):
    docs = _docs_of(spark, tiny_pages_df)
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, cfg).collect()
    }
    want = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in _brute_jaccard(docs, cfg).collect()
    }
    assert got == want  # bit-exact: jaccard is integer-derived
    assert len(want) > 0  # fixture actually contains near-dups


def test_ngram_plan_has_no_cartesian(spark, tiny_pages_df, cfg):
    docs = _docs_of(spark, tiny_pages_df)
    plan = ngram_jaccard_pairs(docs, cfg)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_df_cap_drops_hot_shingles(spark, cfg):
    # 30 docs all sharing a 60-word boilerplate prefix + a short unique
    # tail: uncapped, the boilerplate shingles (df=30) join every doc pair
    # at Jaccard ~0.74; with df_cap=10 the boilerplate universe is dropped
    # and only df=1 tail shingles remain -> no pair survives.
    boiler = " ".join(f"common{j}" for j in range(60))
    rows = [
        (i, boiler + " " + " ".join(f"w{i}x{j}" for j in range(10)))
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    c = PipelineConfig(min_text_len=10, jaccard_threshold=0.3)
    uncapped = ngram_jaccard_pairs(docs, c).count()
    capped = ngram_jaccard_pairs(docs, c, df_cap=10).count()
    assert uncapped > 0
    assert capped == 0


def test_ngram_default_cap_bounds_mega_shingle(spark):
    # one boilerplate shingle shared by ALL 2500 docs (df=2500 > the
    # shipped cap): uncapped it alone would contribute C(2500,2) ≈ 3.1M
    # join rows; with the as-shipped default (cfg.ngram_df_cap) it leaves
    # the universe entirely.  Two byte-identical docs must STILL pair at
    # jaccard == 1.0 over the capped universe (their df=2 tail shingles
    # survive) — the capped-size recompute is exact, not approximate.
    boiler = "alpha bravo charlie delta echo"  # exactly k=5 words
    rows = [
        (i, boiler + " " + " ".join(f"t{i}w{j}" for j in range(8)))
        for i in range(2499)
    ]
    rows.append((9999, rows[0][1]))  # byte-identical twin of doc 0
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    c = PipelineConfig(min_text_len=10, jaccard_threshold=0.5, ngram_df_cap=100)
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, c).collect()
    }
    assert got == {(0, 9999): 1.0}


def test_simhash_pigeonhole_matches_brute_force(spark, tiny_pages_df, cfg):
    docs = _docs_of(spark, tiny_pages_df)
    sig = compute_signatures(docs, cfg).select("doc_id", "simhash")
    sig.persist()
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_hamming_pairs(sig, cfg).collect()
    }
    a = sig.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("_sa"))
    b = sig.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("_sb"))
    brute = (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
            .cast("int")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= cfg.simhash_hamming_max)
    )
    want = {(r["id_a"], r["id_b"]): r["hamming"] for r in brute.collect()}
    # the wider combination layout (6 chunks, C(6,3) 30-bit keys) must be
    # output-identical — pigeonhole exactness is layout-independent
    combo = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_hamming_pairs(sig, cfg, n_chunks=6).collect()
    }
    sig.unpersist()
    assert got == want
    assert combo == want
    assert len(want) > 0


def _capped_oracle(key_rows, cap, keep=None):
    """The capped rule in Python: (doc_id, key) rows -> every pair within
    a bucket of size <= cap, the (bucket min, member) pivot pairs of a
    larger bucket, each kept only if ``keep(id_a, id_b)``."""
    buckets = defaultdict(set)
    for doc, key in key_rows:
        buckets[key].add(doc)
    want = set()
    for members in buckets.values():
        if len(members) <= cap:
            pairs = combinations(sorted(members), 2)
        else:
            pivot = min(members)
            pairs = ((pivot, m) for m in members if m != pivot)
        want |= {p for p in pairs if keep is None or keep(*p)}
    return want


def _lsh_case(spark, cfg):
    rng = random.Random(5)
    rows = []
    for d in range(40):
        mh = [rng.randrange(1 << 30) for _ in range(cfg.n_perm)]
        if d < 8:
            mh[:8] = range(8)  # hot band-0 bucket: 8 members > cap
        if 8 <= d < 11:
            mh[8:16] = [5] * 8  # band-1 bucket of 3: full pairs
        if d in (2, 30):
            mh[24:32] = [1] * 8  # a hot-bucket member also pairs normally
        rows.append((d * 7 + 3, mh))
    sig = spark.createDataFrame(rows, "doc_id long, minhash array<bigint>")
    key_rows = [
        (r["doc_id"], (r["band_id"], r["band_hash"]))
        for r in explode_bands(sig, cfg).collect()
    ]
    return lsh_candidate_pairs(sig, cfg), key_rows, None


def _simhash_case(spark, cfg):
    # 400 fingerprints identical on chunk 0 (low 15 bits) but mostly far
    # apart (hamming >> max): the hot chunk bucket produces quadratic
    # candidates, nearly all rejected by the verify — plus 3 genuine
    # neighbors inside it and a close pair in buckets of their own
    base = 0b101010101010101
    far = [(i, (i << 20) | base) for i in range(400)]  # differ in high bits
    near = [(1000 + i, (7 << 20) | base | (1 << (15 + i))) for i in range(3)]
    x = random.Random(9).randrange(1 << cfg.simhash_bits)
    pair = [(2000, x), (2001, x ^ 1), (2002, x ^ (1 << 40))]
    rows = far + near + pair
    sig = spark.createDataFrame(rows, "doc_id long, simhash long")
    sims = dict(rows)

    def within(a, b):
        return bin(sims[a] ^ sims[b]).count("1") <= cfg.simhash_hamming_max

    # uncapped: exact, identical to the brute-force all-pairs oracle
    exact_df = simhash_hamming_pairs(sig, cfg)
    exact = {(r["id_a"], r["id_b"]) for r in exact_df.collect()}
    exact_df.unpersist()
    assert exact == {
        (min(a, b), max(a, b)) for a, b in combinations(sims, 2) if within(a, b)
    }
    key_rows = [
        (r["doc_id"], (r["chunk_id"], r["val"]))
        for r in simhash_key_rows(sig, cfg).collect()
    ]
    capped = simhash_hamming_pairs(sig, cfg, max_bucket=cfg.max_bucket)
    return capped, key_rows, within


def _fingerprint_case(spark, cfg):
    rng = random.Random(3)
    fps = [(d, rng.randrange(40)) for d in range(80)] + [
        (d, 999) for d in range(10)  # hot fingerprint: 10 members > cap
    ]
    df = spark.createDataFrame(fps, "doc_id long, fp long")
    return fingerprint_candidate_pairs(df, cfg), fps, None


@pytest.mark.parametrize(
    "case", [_lsh_case, _simhash_case, _fingerprint_case],
    ids=["lsh", "simhash", "fingerprint"],
)
def test_capped_bucket_pairs_match_oracle(spark, cfg, case):
    """Each candidate generator applies the capped rule exactly: full
    pairs within buckets of size <= max_bucket, pivot pairs above it (and
    the Hamming filter for SimHash) — equality, not a subset."""
    capped_cfg = replace(cfg, max_bucket=3)
    out, key_rows, keep = case(spark, capped_cfg)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    out.unpersist()
    sizes = Counter(key for _, key in key_rows)
    # the fixture forces both paths: a full-pair bucket and a pivot bucket
    assert 2 <= min(n for n in sizes.values() if n >= 2) <= 3
    assert max(sizes.values()) > 3
    want = _capped_oracle(key_rows, 3, keep)
    assert got == want
    assert len(want) > 0


def test_pick_simhash_layout_crossover():
    from duplicate_image_detector_spark.operators.simhash import (
        pick_simhash_layout,
    )

    cfg = PipelineConfig()
    # at/below the crossover (and with no count available): minimal d+1
    assert pick_simhash_layout(0, cfg) is None
    assert pick_simhash_layout(cfg.simhash_wide_docs, cfg) is None
    assert pick_simhash_layout(None, cfg) is None
    # above: the C(2d,d) combination layout (d=3 -> 6 chunks)
    assert pick_simhash_layout(cfg.simhash_wide_docs + 1, cfg) == 6
    # a config pin always wins (cross-run layout agreement)
    pinned = PipelineConfig(simhash_n_chunks=6)
    assert pick_simhash_layout(10, pinned) == 6
    # degenerate d: wide layout never violates n_chunks > d
    d0 = PipelineConfig(simhash_hamming_max=0)
    assert pick_simhash_layout(10**9, d0) == 1


def test_simhash_config_pin_flows_to_key_rows(spark, cfg):
    from duplicate_image_detector_spark.operators.simhash import (
        simhash_key_rows,
    )

    sig = spark.createDataFrame(
        [(1, 12345), (2, 67890)], "doc_id long, simhash long"
    )
    # default cfg: minimal layout -> d+1 key rows per doc
    assert simhash_key_rows(sig, cfg).count() == 2 * (
        cfg.simhash_hamming_max + 1
    )
    # pinned cfg: C(6,3)=20 combination keys per doc, no explicit arg
    pinned = PipelineConfig(simhash_n_chunks=6)
    assert simhash_key_rows(sig, pinned).count() == 2 * 20
