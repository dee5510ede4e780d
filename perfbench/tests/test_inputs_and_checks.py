"""Seeded generation, output checks and the tail-percentile rule."""

from __future__ import annotations

import io

import pandas as pd
import pytest

from perfbench import checks, workloads
from perfbench.run import tail_percentile


def _parquet_bytes(inputs: workloads.Inputs, tmp_path, name: str) -> bytes:
    path = tmp_path / name
    workloads.write_pages(inputs, str(path))
    return path.read_bytes()


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_same_seed_same_bytes_other_seed_other_bytes(workload, tmp_path):
    a = _parquet_bytes(workloads.build(workload, 5), tmp_path, "a.parquet")
    b = _parquet_bytes(workloads.build(workload, 5), tmp_path, "b.parquet")
    c = _parquet_bytes(workloads.build(workload, 6), tmp_path, "c.parquet")
    assert a == b
    assert a != c


def test_pages_carry_only_url_text_lang(tmp_path):
    workloads.write_pages(workloads.build("batch_webtext", 1), str(tmp_path / "p"))
    cols = pd.read_parquet(tmp_path / "p").columns
    assert list(cols) == ["url", "text", "lang"]


def test_verify_heavy_plants_more_pairs_than_the_broadcast_gate():
    size = workloads.build("verify_heavy", 1).size
    assert size["planted_pairs"] > 20_000
    assert size["docs"] > 0 and size["text_bytes"] > 80_000


def test_unknown_workload_is_refused():
    with pytest.raises(ValueError, match="unknown workload"):
        workloads.build("nope", 1)


@pytest.fixture
def truth() -> pd.DataFrame:
    return pd.read_csv(io.StringIO(
        "url,family,family_id\n"
        "a1,near,1\na2,near,1\na3,near,1\n"
        "b1,exact,2\nb2,exact,2\n"
        "n1,boilerplate,3\nn2,boilerplate,3\nn3,boilerplate,3\n"
        "x1,xlang,4\nx2,xlang,4\n"
        "s1,singleton,5\n"
    ))


def test_pair_recall_and_false_merges(truth):
    # a1+a2 together, a3 alone (1 of 3 pairs); b1+b2 together (1 of 1);
    # n1+n2 merged (2 false), x1+x2 apart
    cluster_of = {"a1": 10, "a2": 10, "b1": 20, "b2": 20,
                  "n1": 30, "n2": 30, "x1": 40, "s1": 40}
    assert checks.pair_recall(truth, cluster_of) == pytest.approx(2 / 4)
    assert checks.false_merges(truth, cluster_of) == 2
    assert workloads.planted_pairs(truth) == 4


def test_partition_digest_ignores_labels_and_order():
    a = [("u1", 1), ("u2", 1), ("u3", 7), ("u4", 7)]
    b = [("u4", 99), ("u2", 5), ("u3", 99), ("u1", 5)]
    c = [("u1", 1), ("u3", 1), ("u2", 7), ("u4", 7)]
    assert checks.partition_digest(a) == checks.partition_digest(b)
    assert checks.partition_digest(a) != checks.partition_digest(c)


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 201)]
    pct, value = tail_percentile(list(reversed(xs)))
    assert pct == pytest.approx(95.0)
    assert value == 190.0
    assert sum(x > value for x in xs) == 10
    pct, value = tail_percentile(xs[:40])
    assert pct == pytest.approx(75.0)
    assert value == 30.0
    with pytest.raises(ValueError):
        tail_percentile(xs[:10])
