"""Connected components + cluster-output near-dup (VERDICT r2 item 1).

Pins: CC correctness vs a brute-force union-find, the linear output
contract (one row per doc even for a large identical group), and
transitive-closure cluster semantics."""

import random

import pytest
from pyspark.sql import functions as F

from debezium_partial_snapshotter_spark.operators.dedup_docs import (
    _first_shared_pairs,
    embedding_near_dup_clusters,
    jaccard_pairs,
    near_dup_clusters,
)
from debezium_partial_snapshotter_spark.operators.graph import (
    connected_components,
)


def _uf_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in range(n_nodes)}


@pytest.mark.parametrize("n", [1, 4, 8])
def test_first_shared_pairs_matches_brute_force(spark, n):
    """The LSH/SimHash candidate kernel emits each pair sharing >= 1
    array position exactly once, also when the two arrays agree in
    several positions (a 3-value alphabet makes that the common case)."""
    rng = random.Random(n)
    rows = [(i, [rng.randrange(3) for _ in range(n)]) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, arr array<long>")
    got = [
        (r["a"], r["b"])
        for r in _first_shared_pairs(df, "id", "arr", n)
        .select(F.col("a.id").alias("a"), F.col("b.id").alias("b"))
        .collect()
    ]
    shared = {
        (x, y): sum(u == v for u, v in zip(ax, ay))
        for x, ax in rows
        for y, ay in rows
        if x < y
    }
    assert len(got) == len(set(got))
    assert set(got) == {p for p, c in shared.items() if c >= 1}
    if n > 1:
        assert sum(c >= 2 for c in shared.values()) > 100


def test_cc_matches_union_find_on_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(n // 2)
        ]
        expected = _uf_components(n, edges)
        nodes = spark.range(n).select(F.col("id").cast("int").alias("node"))
        edf = spark.createDataFrame(edges or [(0, 0)], "src int, dst int")
        got = {
            r["node"]: r["component"]
            for r in connected_components(edf, nodes=nodes).collect()
        }
        assert got == expected, f"trial {trial}"


def test_cc_long_chain_converges_via_pointer_jumping(spark):
    # a 64-node path has diameter 63; pointer jumping must close it in
    # O(log n) rounds, well inside max_iter
    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src int, dst int"
    )
    out = connected_components(edges, max_iter=12).collect()
    assert len(out) == n
    assert {r["component"] for r in out} == {0}


def test_cc_isolated_nodes_are_singletons(spark):
    nodes = spark.createDataFrame([("a",), ("b",), ("c",)], "node string")
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "c"}


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_near_dup_clusters_linear_output_for_identical_group(spark):
    # THE r2 scale hazard: n identical docs -> jaccard_pairs emits
    # n(n-1)/2 rows; near_dup_clusters must emit exactly n
    n = 300
    rows = [(f"dup-{i:04d}", "spark shuffles the lake at dawn") for i in range(n)]
    rows += [(f"uniq-{i}", f"totally different text number {i} {'x'*i}") for i in range(5)]
    df = _docs(spark, rows)
    out = near_dup_clusters(df, threshold=0.5).collect()
    assert len(out) == n + 5  # one row per doc, NOT quadratic
    by_doc = {r["doc_id"]: r for r in out}
    for i in range(n):
        r = by_doc[f"dup-{i:04d}"]
        assert r["canonical_id"] == "dup-0000"
        assert r["cluster_size"] == n
        assert r["is_dup"] == (i != 0)
    pair_rows = jaccard_pairs(df, threshold=0.5).count()
    assert pair_rows >= n * (n - 1) // 2  # the contract this op replaces


def test_near_dup_clusters_transitive_chain(spark):
    # A~B and B~C above threshold, A~C below: one cluster of 3
    df = _docs(
        spark,
        [
            ("a", "w1 w2 w3 w4 w5 w6 w7 w8"),
            ("b", "w3 w4 w5 w6 w7 w8 w9 w10"),
            ("c", "w5 w6 w7 w8 w9 w10 w11 w12"),
            ("z", "q1 q2 q3 q4 q5 q6 q7 q8"),
        ],
    )
    # jaccard(a,b) = 6/10 = 0.6, jaccard(a,c) = 4/12 = 0.33
    out = {r["doc_id"]: r for r in near_dup_clusters(df, threshold=0.5).collect()}
    assert out["a"]["canonical_id"] == "a"
    assert out["b"]["canonical_id"] == "a"
    assert out["c"]["canonical_id"] == "a"  # transitive via b
    assert out["z"]["canonical_id"] == "z"
    assert out["a"]["cluster_size"] == 3 and out["z"]["cluster_size"] == 1


def test_near_dup_clusters_empty_docs_are_singletons(spark):
    df = _docs(spark, [("e1", "   "), ("e2", ""), ("x", "hello world")])
    out = {r["doc_id"]: r for r in near_dup_clusters(df, threshold=0.5).collect()}
    assert out["e1"]["canonical_id"] == "e1"
    assert out["e2"]["canonical_id"] == "e2"
    assert out["e1"]["cluster_size"] == 1


def test_embedding_clusters_group_identical_vectors_once(spark):
    # 50 identical vectors + 2 distinct: one node in the pair graph,
    # 52 assignment rows out
    base = [1.0, 0.0, 0.0, 0.0]
    rows = [(i, base) for i in range(50)]
    rows += [(100, [0.0, 1.0, 0.0, 0.0]), (101, [0.0, 0.98, 0.2, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = embedding_near_dup_clusters(emb, threshold=0.9, planes=4)
    rows_out = out.collect()
    assert len(rows_out) == 52
    by_id = {r["vec_id"]: r for r in rows_out}
    for i in range(50):
        assert by_id[i]["canonical_id"] == 0
        assert by_id[i]["cluster_size"] == 50
    # 100 and 101 have cosine ~0.98 >= 0.9 -> same cluster iff same
    # sign bucket; identical first-3 signs make that overwhelmingly
    # likely with 4 planes, but assert only the self-consistency:
    assert by_id[100]["canonical_id"] == by_id[101]["canonical_id"] or (
        by_id[101]["cluster_size"] == 1
    )


def test_simhash_near_dup_full_recall_vs_brute_force(spark):
    """Pigeonhole banding is EXHAUSTIVE at hamming <= max_hamming:
    every qualifying pair of a word-perturbed corpus must appear."""
    import itertools

    from debezium_partial_snapshotter_spark.operators.dedup_docs import (
        simhash,
        simhash_near_dup,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = [(f"d{i:03d}", base + (f" extra{i % 7}" if i % 3 else ""))
            for i in range(40)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    sigs = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    want = {
        (a, b)
        for (a, sa), (b, sb) in itertools.combinations(sorted(sigs.items()), 2)
        if bin(sa ^ sb).count("1") <= 3
    }
    got = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_dup(df, max_hamming=3).collect()
    }
    assert got == want  # full recall AND no false positives


def test_simhash_clusters_linear_output_for_identical_group(spark):
    from debezium_partial_snapshotter_spark.operators.dedup_docs import (
        simhash_clusters,
    )

    n = 300
    rows = [(f"d{i:04d}", "identical boilerplate text repeated") for i in range(n)]
    rows.append(("zzzz", "a completely different document about spark plans"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = simhash_clusters(df).collect()
    assert len(out) == n + 1  # one row per doc, never per pair
    big = [r for r in out if r["cluster_size"] == n]
    assert len(big) == n and all(r["canonical_id"] == "d0000" for r in big)
