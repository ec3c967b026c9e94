"""Tests of the benchmark itself: generator determinism, oracle checks that
catch corrupted outputs, and metric names matching BENCHMARK.json.

Run from the repository root: ``python3 -m pytest perfbench``.
"""

from __future__ import annotations

import json
import os

import pytest

import gen
import layers
import run
from curation import components, ids_digest, jaccard_edges

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    a = gen.ensure(str(tmp_path / "a"), workload, 5)
    b = gen.ensure(str(tmp_path / "b"), workload, 5)
    c = gen.ensure(str(tmp_path / "c"), workload, 6)
    assert gen.digest(a) == gen.digest(b)
    assert gen.digest(a) != gen.digest(c)
    with open(os.path.join(a, "props.json")) as f:
        pa_ = json.load(f)
    with open(os.path.join(c, "props.json")) as f:
        pc = json.load(f)
    # another seed: same sizes, same property distributions
    if workload == "batch":
        assert pa_["analytics"]["rows"] == pc["analytics"]["rows"]
        assert pa_["curation"]["rows"] == pc["curation"]["rows"]
        assert len(pa_["curation"]["long_chains"]) == len(pc["curation"]["long_chains"])
        for k in ("o_custkey", "l_partkey"):
            assert abs(pa_["analytics"]["key_skew_exponent"][k]
                       - pc["analytics"]["key_skew_exponent"][k]) < 0.1
        assert abs(pa_["curation"]["exact_dup_share"]
                   - pc["curation"]["exact_dup_share"]) < 0.01
    else:
        assert pa_["rows"] == pc["rows"]
        assert abs(pa_["late_share"] - pc["late_share"]) < 0.01
        assert abs(pa_["key_skew_exponent"]["user_id"]
                   - pc["key_skew_exponent"]["user_id"]) < 0.1


def test_long_chain_is_a_path_beyond_the_cc_round_limit(tmp_path):
    """Shard 0's long chain is a path (consecutive members above the
    threshold, members two apart below it) longer than twice the 25 rounds
    of min-label propagation, so no choice of minimum converges."""
    d = gen.ensure(str(tmp_path), "batch", 5)
    cur = os.path.join(d, "curation")
    with open(os.path.join(cur, "truth.json")) as f:
        truth = json.load(f)["00"]
    chain = max(truth["families"], key=len)
    assert len(chain) >= gen.LONG_CHAIN_MIN > 2 * 25
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(cur, "docs_00.parquet")).to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    sub = chain[:12]
    edges = jaccard_edges(sub, [text[i] for i in sub], 0.8)
    assert sorted((min(a, b), max(a, b)) for a, b, _ in edges) == sorted(
        (min(a, b), max(a, b)) for a, b in zip(sub, sub[1:]))


def test_union_find_oracle():
    ids = list(range(1, 61))
    path = [(i, i + 1) for i in range(1, 60)]
    comp = components(ids + [100, 101], path + [(101, 100)])
    assert set(comp[i] for i in ids) == {1}
    assert comp[101] == 100


def test_jaccard_edges_exact_threshold():
    base = " ".join(f"w{i:03d}x" for i in range(60))
    near = base.replace("w007x", "q007x")
    far = " ".join(f"z{i:03d}y" for i in range(60))
    edges = jaccard_edges([1, 2, 3], [base, near, far], 0.8)
    assert [(a, b) for a, b, _ in edges] == [(1, 2)]


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.LAYERS
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_paced_schedule_is_irregular():
    from streaming import MEAN_GAP_S, schedule

    due = schedule(12)
    gaps = [b - a for a, b in zip([0.0] + due, due)]
    assert all(0.5 * MEAN_GAP_S <= g < 1.5 * MEAN_GAP_S for g in gaps)
    assert len({round(g, 6) for g in gaps}) == len(gaps)  # no fixed tick


def test_tail_percentile_keeps_ten_samples_beyond():
    values = list(range(1, 41))
    v, pct = run.tail(values)
    assert sum(1 for x in values if x > v) == 10
    assert pct == 75.0


@pytest.fixture(scope="module")
def spark():
    from pyarrow_ops_spark import get_spark

    s = get_spark(app_name="perfbench-tests")
    yield s
    s.stop()


def test_oracle_flags_dropped_row_and_merged_cluster(spark):
    from checks import ToHash, checksum, resolve

    clusters = [(1, 1, False), (2, 1, True), (3, 3, False), (4, 3, True), (5, 5, False)]
    schema = "doc_id long, canonical_id long, is_duplicate boolean"
    import pyarrow as pa

    table = pa.table({"doc_id": [r[0] for r in clusters],
                      "canonical_id": [r[1] for r in clusters],
                      "is_duplicate": [r[2] for r in clusters]})
    exp = resolve(spark, {"k": {"c": ToHash(table)}})["k"]["c"]
    assert checksum(spark.createDataFrame(clusters, schema)) == exp
    dropped = clusters[:-1]
    merged = [(i, 1 if c == 3 else c, (1 if c == 3 else c) != i) for i, c, _ in clusters]
    assert checksum(spark.createDataFrame(dropped, schema)) != exp
    assert checksum(spark.createDataFrame(merged, schema)) != exp
    # the write check compares kept-id digests: a merged cluster keeps one id fewer
    kept = [i for i, c, _ in clusters if i == c]
    assert ids_digest(kept) != ids_digest([i for i, c, _ in merged if i == c])


def test_verify_marks_unreported_mismatch_silent(spark):
    class Fake:
        name = "fake"

        def expected(self, key):
            return {"out": (3, 7)}

    class Cache:
        def expected(self, workload, spark, keys):
            return {k: workload.expected(k) for k in keys}

    def op(outputs, flags):
        return {"key": "k", "name": "x", "error": None, "outputs": outputs, "flags": flags}

    ops = [op({"out": (3, 7)}, {}), op({"out": (2, 7)}, {}),
           op({"out": (2, 7)}, {"reported_failure": True})]
    run.verify(Fake(), spark, ops, Cache())
    assert [r["ok"] for r in ops] == [True, False, False]
    assert [r["silent"] for r in ops] == [False, True, False]
