"""Identity resolution tests: connected components correctness,
edge-order invariance (the property the reference implies but never
verifies — SURVEY.md §5.3), and the Kissmetrics edge extraction."""

from __future__ import annotations

import random

import pytest

from kissmetrics_to_database_spark.operators import identity

# 0 disables the driver-side union-find fallback → exercises the
# distributed min-label-propagation loop; the default exercises the
# adaptive local path. Both must agree everywhere.
BOTH_PATHS = pytest.mark.parametrize("local_threshold", [0, 1_000_000])


def _cc_python(edges: list[tuple[str, str]]) -> dict[str, str]:
    """Union-find ground truth: member -> min member of component."""
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra

    for a, b in edges:
        union(a, b)
    members: dict[str, list[str]] = {}
    for x in list(parent):
        members.setdefault(find(x), []).append(x)
    out = {}
    for group in members.values():
        m = min(group)
        for x in group:
            out[x] = m
    return out


def _run_cc(spark, edges, local_threshold=1_000_000):
    df = spark.createDataFrame(edges, ["src", "dst"])
    return {
        r["member"]: r["component_id"]
        for r in identity.connected_components(
            df, local_threshold=local_threshold
        ).collect()
    }


@BOTH_PATHS
def test_chain_cycle_and_separate_components(spark, local_threshold):
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("p", "q"), ("q", "r")]
    got = _run_cc(spark, edges, local_threshold)
    assert got == _cc_python(edges)
    assert got["c"] == "a" and got["y"] == "x" and got["r"] == "p"


@BOTH_PATHS
def test_long_chain_converges(spark, local_threshold):
    # diameter >> 1 exercises multi-round propagation + lineage cuts
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(40)]
    got = _run_cc(spark, edges, local_threshold)
    assert set(got.values()) == {"n000"}


@BOTH_PATHS
def test_cc_raw_edge_inputs(spark, local_threshold):
    # Duplicates, reversed pairs, a node on a self-loop only (absent
    # from the output) and null endpoints, as string and as long ids.
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    edges = [
        ("a", "b"), ("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
        ("s", "s"), ("c", None), (None, "d"), (None, None),
        ("x", "y"), ("y", "x"), ("x", "y"),
    ]
    ids = spark.range(40)
    longs = (
        ids.select(
            F.when(ids.id == 7, None).otherwise(ids.id % 9).alias("src"),
            (ids.id * 5 % 13 + 4).alias("dst"),
        )
        .union(ids.where(ids.id < 3).select((ids.id + 100).alias("src"), (ids.id + 100).alias("dst")))
        .union(ids.where(ids.id < 5).select((ids.id * 5 % 13 + 4).alias("src"), (ids.id % 9).alias("dst")))
    )
    cases = [
        (spark.createDataFrame(edges, "src string, dst string"), T.StringType(), {"s", "d"}),
        (longs, T.LongType(), {100, 101, 102}),
        # int src, long dst: both widen to long, as undirect_edges does
        (longs.select(longs.src.cast("int").alias("src"), "dst"), T.LongType(), {100, 101, 102}),
    ]
    for df, node_type, absent in cases:
        rows = [(r["src"], r["dst"]) for r in df.collect()]
        clean = [(a, b) for a, b in rows if a is not None and b is not None and a != b]
        stats: dict = {}
        comp = identity.connected_components(
            df, local_threshold=local_threshold, stats=stats
        )
        assert comp.schema["member"].dataType == node_type
        assert comp.schema["component_id"].dataType == node_type
        got = {r["member"]: r["component_id"] for r in comp.collect()}
        assert got == _cc_python(clean)
        assert absent.isdisjoint(got)
        assert stats["path"] == ("local" if local_threshold else "distributed")


def test_edge_order_invariance(spark):
    # components must not depend on input order (the reference's
    # incremental vs. global rebuild equivalence, KTD:359 vs 401)
    rng = random.Random(42)
    nodes = [f"v{i}" for i in range(30)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(35)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    expected = _cc_python(edges)
    shuffled = edges[:]
    rng.shuffle(shuffled)
    for threshold in (0, 1_000_000):
        assert _run_cc(spark, edges, threshold) == expected
        assert _run_cc(spark, shuffled, threshold) == expected


def test_all_pairs_excludes_self_and_is_symmetric(spark):
    df = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    comp = identity.connected_components(df)
    pairs = {
        (r["identity1"], r["identity2"])
        for r in identity.all_pairs(comp).collect()
    }
    assert pairs == {
        ("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"), ("b", "c"), ("c", "b"),
    }


def test_incremental_equals_global_rebuild(spark):
    # SURVEY §5.3: folding edge batches incrementally must equal the
    # global rebuild — the equivalence the reference implies between
    # its per-event path (KTD:359-394) and global path (KTD:401-455)
    rng = random.Random(7)
    nodes = [f"n{i}" for i in range(24)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(30)]
    edges = [(a, b) for a, b in edges if a != b]
    expected = _cc_python(edges)

    # three batches folded incrementally
    third = len(edges) // 3
    batches = [edges[:third], edges[third : 2 * third], edges[2 * third :]]
    comp = identity.connected_components(
        spark.createDataFrame(batches[0], ["src", "dst"])
    )
    for batch in batches[1:]:
        comp = identity.update_components(
            comp, spark.createDataFrame(batch, ["src", "dst"])
        )
    got = {r["member"]: r["component_id"] for r in comp.collect()}
    assert got == expected


def test_incremental_merges_two_components(spark):
    # a bridging edge must merge previously-separate components and
    # re-canonicalize to the global minimum
    comp = identity.connected_components(
        spark.createDataFrame([("a", "b"), ("x", "y")], ["src", "dst"])
    )
    merged = identity.update_components(
        comp, spark.createDataFrame([("b", "y")], ["src", "dst"])
    )
    got = {r["member"]: r["component_id"] for r in merged.collect()}
    assert got == {"a": "a", "b": "a", "x": "a", "y": "a"}


def test_resolve_events_fallback(spark):
    # FileImporter.php:95-118 — unknown identity falls back to raw id
    events = spark.createDataFrame([("a", 1), ("z", 2)], ["_p", "v"])
    mapping = spark.createDataFrame([("a", "a0")], ["member", "canonical"])
    out = {
        r["_p"]: r["canonical"]
        for r in identity.resolve_events(events, mapping).collect()
    }
    assert out == {"a": "a0", "z": "z"}


def test_alias_edges_kissmetrics(spark):
    # KTD:401-436: _p2 edges (skip '@' sources) + updated-email edges
    rows = [
        ("u1", "a1", "signup", None, None),
        ("x@y.z", "a2", "signup", None, None),  # excluded: '@' in _p
        ("u2", "", "click", None, None),  # excluded: empty _p2
        ("u3", None, "updated email", "new@e.com", "old@e.com"),
    ]
    df = spark.createDataFrame(
        rows, ["_p", "_p2", "_n_not_null", "new_email", "previous_email"]
    )
    edges = {
        (r["src"], r["dst"])
        for r in identity.alias_edges_kissmetrics(df).collect()
    }
    assert edges == {
        ("u1", "a1"),
        ("u3", "new@e.com"),
        ("u3", "old@e.com"),
    }


def test_pagerank_star_graph_matches_python(spark):
    # star: hub h — leaves l1..l3 (undirected). Replicate the rounded
    # fixed-point schedule in pure Python. Spark's F.round is
    # HALF_UP (like DuckDB), NOT Python's banker's round — and the
    # hub's iteration-3 value lands exactly on a .5 boundary.
    from decimal import ROUND_HALF_UP, Decimal

    def round_up(x, nd=6):
        return float(Decimal(repr(x)).quantize(Decimal(f"1e-{nd}"), ROUND_HALF_UP))

    edges = [("h", "l1"), ("h", "l2"), ("h", "l3")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {r["node"]: r["rank"] for r in identity.pagerank(df, iters=3).collect()}

    deg = {"h": 3, "l1": 1, "l2": 1, "l3": 1}
    und = edges + [(b, a) for a, b in edges]
    n = 4.0
    rank = {v: round_up(1.0 / n) for v in deg}
    for _ in range(3):
        sums = {v: 0.0 for v in deg}
        for a, b in und:
            sums[b] += rank[a] / deg[a]
        rank = {
            v: round_up((1.0 - 0.85) / n + 0.85 * sums[v]) for v in deg
        }
    assert out == rank
    # hub outranks leaves, mass ≈ 1
    assert out["h"] > out["l1"] == out["l2"] == out["l3"]
    assert abs(sum(out.values()) - 1.0) < 1e-3


def test_pagerank_disconnected_uniform_within_pairs(spark):
    # two disjoint edges: all four nodes symmetric → equal rank 1/4
    df = spark.createDataFrame([("a", "b"), ("c", "d")], ["src", "dst"])
    out = {r["node"]: r["rank"] for r in identity.pagerank(df, iters=3).collect()}
    assert len(set(out.values())) == 1
    assert abs(sum(out.values()) - 1.0) < 1e-3


def test_triangle_counts_k4_and_pendant(spark):
    # K4 (every node in C(3,2)=3 triangles) plus a pendant edge
    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    df = spark.createDataFrame(k4 + [("d", "e")], ["src", "dst"])
    out = {r["node"]: r["n_triangles"] for r in identity.triangle_counts(df).collect()}
    assert out == {"a": 3, "b": 3, "c": 3, "d": 3}  # pendant absent


def test_triangle_counts_star_has_none(spark):
    df = spark.createDataFrame([("h", f"l{i}") for i in range(10)], ["src", "dst"])
    assert identity.triangle_counts(df).count() == 0


def test_triangle_counts_matches_bruteforce(spark):
    import itertools

    edges = [
        (i, (i * 7 + 3) % 20) for i in range(40)
    ] + [(i, (i + 1) % 20) for i in range(20)]
    edges = [(min(a, b), max(a, b)) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {r["node"]: r["n_triangles"] for r in identity.triangle_counts(df).collect()}

    es = set(edges)
    nodes = sorted({n for e in es for n in e})
    ref: dict[int, int] = {}
    for x, y, z in itertools.combinations(nodes, 3):
        if (x, y) in es and (y, z) in es and (x, z) in es:
            for n in (x, y, z):
                ref[n] = ref.get(n, 0) + 1
    assert out == ref


def test_triangle_counts_duplicate_and_reversed_edges_collapse(spark):
    tri = [("a", "b"), ("b", "c"), ("a", "c")]
    noisy = tri + [(b, a) for a, b in tri] + tri
    df = spark.createDataFrame(noisy + [("a", "a")], ["src", "dst"])
    out = {r["node"]: r["n_triangles"] for r in identity.triangle_counts(df).collect()}
    assert out == {"a": 1, "b": 1, "c": 1}


def test_distributed_cc_2m_edges_converges_in_log_rounds(spark):
    """The distributed pointer-jumping path at a size that FORCES it
    (above local_threshold), with convergence-rate assertion: block
    chains of diameter 512 must close in O(log diameter) rounds, not
    O(diameter) — the property that makes the loop viable at 100 TB
    (VERDICT r3 item 6).
    """
    from pyspark.sql import functions as F

    block = 512
    n_nodes = 2_097_152  # 4096 chains of 512 nodes → ~2.09M edges
    edges = (
        spark.range(n_nodes - 1)
        .where((F.col("id") + 1) % block != 0)
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    )
    stats: dict = {}
    comp = identity.connected_components(edges, stats=stats)
    try:
        assert stats["path"] == "distributed"
        # component id must be the chain head (min member = id - id%block)
        n_bad = comp.where(
            F.col("component_id") != F.col("member") - F.col("member") % block
        ).count()
        assert n_bad == 0
        n_components = comp.select("component_id").distinct().count()
        assert n_components == n_nodes // block
        # path-halving convergence: ~log2(512)=9 rounds + slack, far
        # below the O(diameter)=512 a plain min-label loop would need
        assert 2 <= stats["rounds"] <= 20, stats
    finally:
        comp.unpersist()


def test_label_propagation_two_triangles_with_bridge(spark):
    # two triangles joined by one bridge edge: LPA (2 sync rounds,
    # min-label ties) keeps each triangle's community at its own min
    # label, while connected components would merge everything
    from kissmetrics_to_database_spark.operators.identity import (
        label_propagation,
    )

    edges = [
        ("a", "b"), ("b", "c"), ("a", "c"),      # triangle 1
        ("x", "y"), ("y", "z"), ("x", "z"),      # triangle 2
        ("c", "x"),                                # bridge
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["community"]
        for r in label_propagation(df, iters=2).collect()
    }
    assert got["a"] == got["b"] == "a"
    assert got["y"] == got["z"]
    # communities stay distinct across the bridge
    assert len({got["a"], got["y"]}) == 2


def test_cc_byte_budget_forces_distributed(spark):
    """r8: the local fast path must refuse a collect whose id payload
    exceeds the byte budget even when the EDGE COUNT is under the
    threshold — driver heap is bounded by bytes, not rows."""
    from pyspark.sql import functions as F

    wide = spark.range(200).select(
        F.concat(F.lit("n" * 500), F.col("id").cast("string")).alias("src"),
        F.concat(F.lit("n" * 500), (F.col("id") + 1).cast("string")).alias(
            "dst"
        ),
    )
    stats: dict = {}
    comp = identity.connected_components(
        wide, local_threshold=1_000_000, local_byte_budget=10_000,
        stats=stats,
    )
    assert stats["path"] == "distributed"
    assert stats["over_byte_budget"] > 10_000
    # one chain -> one component
    assert comp.select("component_id").distinct().count() == 1
