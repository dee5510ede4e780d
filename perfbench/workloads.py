"""Seeded benchmark inputs, built in one process with ``generate_pages``.

Every workload returns ``Inputs``: the pages the program reads (written
to parquet as ``url, text, lang`` only) and the planted truth the output
checks score against.  The same seed gives byte-identical pages.

Truth families:

* ``exact``, ``near``, ``shuffle``, ``substring`` are planted positives:
  every pair inside one family should land in one cluster
  (``pair_recall``).
* ``boilerplate`` and ``xlang`` are planted negatives: no member may
  share a cluster with another member of its family (``false_merges``).
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import pandas as pd

from duplicate_image_detector_spark.sources.fixtures import generate_pages

POSITIVE = ("exact", "near", "shuffle", "substring")
NEGATIVE = ("boilerplate", "xlang")

#: docs of generated webtext (~4.6 KB each) in one ``batch_webtext`` op.
#: Per-job overhead, not data, sets an op's wall at this size (~9 s at
#: local[4] from 200 to 400 docs); the run budget sets the size (README)
BATCH_DOCS = 300

#: verify_heavy: background webtext; one template family (pages that
#: differ only in a trailing id) whose all-pairs candidate count
#: (210*209/2 = 21,945) exceeds the pipeline's 20,000-pair broadcast
#: gate; its pages are shorter than the substring tier's 400-char span,
#: so the verify path, not the substring tier, carries them.  Long
#: near-duplicates from 24 KB up to the ~80 KB shingle tail.
HEAVY_BACKGROUND_DOCS = 100
HEAVY_TEMPLATE = (210, 360)  # (members, bytes)
HEAVY_LONG = ((2, 80_000), (2, 24_000))  # (members, bytes) per family


@dataclass
class Inputs:
    pages: pd.DataFrame  # url, text, lang
    truth: pd.DataFrame  # url, family, family_id

    @property
    def size(self) -> dict:
        """Input size recorded with every result."""
        return {
            "docs": int(len(self.pages)),
            "text_bytes": int(self.pages["text"].str.len().sum()),
            "planted_pairs": planted_pairs(self.truth),
        }


def planted_pairs(truth: pd.DataFrame) -> int:
    pos = truth[truth["family"].isin(POSITIVE)]
    sizes = pos.groupby("family_id").size()
    return int((sizes * (sizes - 1) // 2).sum())


def _webtext(n_docs: int, seed: int) -> Inputs:
    pages, truth = generate_pages(n_docs, seed=seed)
    return Inputs(pages[["url", "text", "lang"]].copy(), truth)


def _long_base(rng: random.Random, singles: list[str], n_bytes: int) -> str:
    parts: list[str] = []
    size = 0
    while size < n_bytes:
        parts.append(rng.choice(singles))
        size += len(parts[-1]) + 1
    return "\n".join(parts)[:n_bytes]


def _variant(rng: random.Random, text: str, vocab: list[str], subs: int) -> str:
    """``text`` with ``subs`` tokens replaced; newlines survive."""
    words = text.replace("\n", " \n ").split(" ")
    slots = [i for i, w in enumerate(words) if w != "\n"]
    for i in rng.sample(slots, subs):
        words[i] = rng.choice(vocab)
    return " ".join(words).replace(" \n ", "\n")


def _verify_heavy(seed: int) -> Inputs:
    base = _webtext(HEAVY_BACKGROUND_DOCS, seed)
    rng = random.Random(seed * 7919 + 1)
    # truth rows align with page rows (generate_pages emits them together)
    en_single = (base.truth["family"] == "singleton") & (base.pages["lang"] == "en")
    singles = sorted(base.pages.loc[en_single, "text"])
    vocab = sorted({w for t in singles for w in t.split()})
    rows, truth = [], []
    fam = int(base.truth["family_id"].max())
    members, n_bytes = HEAVY_TEMPLATE
    fam += 1
    text = _long_base(rng, singles, n_bytes)
    for i in range(members):
        url = f"https://shop.example.net/template/item-{i}"
        rows.append((url, f"{text} ref{i:04d}", "en"))
        truth.append((url, "near", fam))
    for members, n_bytes in HEAVY_LONG:
        fam += 1
        text = _long_base(rng, singles, n_bytes)
        for i in range(members):
            url = f"https://long.example.com/f{fam}/doc-{i}"
            # one or two substitutions keep the 5-shingle Jaccard > 0.99
            subs = rng.randint(1, 2) if i else 0
            rows.append((url, _variant(rng, text, vocab, subs), "en"))
            truth.append((url, "near", fam))
    pages = pd.concat(
        [base.pages, pd.DataFrame(rows, columns=["url", "text", "lang"])],
        ignore_index=True,
    )
    tr = pd.concat(
        [base.truth, pd.DataFrame(truth, columns=["url", "family", "family_id"])],
        ignore_index=True,
    )
    return Inputs(pages, tr)


WORKLOADS = {
    "batch_webtext": lambda seed: _webtext(BATCH_DOCS, seed),
    "verify_heavy": _verify_heavy,
}


def build(workload: str, seed: int) -> Inputs:
    if workload not in WORKLOADS:
        raise ValueError(
            f"unknown workload {workload!r}; choose from {sorted(WORKLOADS)}"
        )
    return WORKLOADS[workload](seed)


def write_pages(inputs: Inputs, path: str) -> None:
    """Hand the pages to the program as parquet, ``url/text/lang`` only
    (pandas would write ``warc_ts`` as nanosecond timestamps, which Spark
    rejects)."""
    inputs.pages[["url", "text", "lang"]].to_parquet(path, index=False)
