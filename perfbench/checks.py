"""Output checks against the planted truth.

``clusters`` is the program's materialized result as ``(url,
cluster_id)`` rows; a doc absent from it is a singleton.
"""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import pandas as pd

from perfbench.workloads import NEGATIVE, POSITIVE

#: the engine's recall budget is 0.99 of planted pairs (operators/lsh.py);
#: below this floor a run fails
RECALL_FLOOR = 0.99


def partition_digest(clusters: list[tuple[str, int]]) -> str:
    """sha256 of the cluster partition, independent of cluster labels and
    row order: equal digests mean the same docs were grouped together."""
    groups: dict[int, list[str]] = defaultdict(list)
    for url, cid in clusters:
        groups[cid].append(url)
    canon = sorted("\t".join(sorted(g)) for g in groups.values())
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


def _families(truth: pd.DataFrame, kinds: tuple[str, ...]) -> list[list[str]]:
    sel = truth[truth["family"].isin(kinds)]
    return [list(g["url"]) for _, g in sel.groupby("family_id")]


def pair_recall(truth: pd.DataFrame, cluster_of: dict[str, int]) -> float:
    """Planted positive pairs that land in one cluster / planted pairs."""
    found = total = 0
    for urls in _families(truth, POSITIVE):
        total += len(urls) * (len(urls) - 1) // 2
        shared = Counter(cluster_of[u] for u in urls if u in cluster_of)
        found += sum(k * (k - 1) // 2 for k in shared.values())
    return found / total if total else 1.0


def false_merges(truth: pd.DataFrame, cluster_of: dict[str, int]) -> int:
    """Planted negative docs that share a cluster with another member of
    their family."""
    bad = 0
    for urls in _families(truth, NEGATIVE):
        shared = Counter(cluster_of[u] for u in urls if u in cluster_of)
        bad += sum(k for k in shared.values() if k > 1)
    return bad

