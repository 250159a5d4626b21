"""Connected-components operator: convergence vs a union-find model.

q58's hash check proves Spark ≡ DuckDB under the SAME fixed unroll;
this proves the unroll is ENOUGH — the fixed-round labels equal true
components (union-find) on random graphs and on the driver corpus
edge sets, i.e. rounds ≥ diameter holds where we claim it.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from cdc_example_spark.operators.graph import connected_components


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def _assert_matches_model(spark, edges, rounds=6):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.v: r.component
        for r in connected_components(df, rounds=rounds).collect()
    }
    assert got == _union_find(edges)


def test_cc_on_random_graphs(spark):
    # sparse random graphs can have diameter ≫ 6 — honor the operator's
    # rounds ≥ diameter precondition with the trivially safe bound n
    # (kept small: each extra round adds a join to the plan and the
    # point here is correctness of the fold, not plan depth)
    rng = random.Random(42)
    for trial in range(2):
        n = 16
        edges = [
            (a, b)
            for a, b in {
                tuple(sorted(rng.sample(range(n), 2))) for _ in range(13)
            }
        ]
        _assert_matches_model(spark, edges, rounds=n)


def test_cc_path_graph_needs_rounds_geq_radius(spark):
    # a 7-vertex path: min-label reaches the far end via doubling-free
    # propagation in 6 rounds (worst case the docstring promises)
    edges = [(i, i + 1) for i in range(6)]
    _assert_matches_model(spark, edges, rounds=6)


def test_cc_auto_mode_converges_past_fixed_unroll(spark):
    # rounds="auto" (VERDICT r3 item 6): a 14-vertex path has diameter
    # 13 — far past the default 6-round unroll, which provably does NOT
    # converge on it — yet auto mode must reach the union-find answer
    # by iterating to the zero-change fixpoint.
    edges = [(i, i + 1) for i in range(13)]
    df = spark.createDataFrame(edges, "src long, dst long")
    short = {
        r.v: r.component for r in connected_components(df, rounds=6).collect()
    }
    assert short != _union_find(edges)  # 6 rounds genuinely insufficient
    got = {
        r.v: r.component for r in connected_components(df, rounds="auto").collect()
    }
    assert got == _union_find(edges)
    assert set(got.values()) == {0}


def test_cc_auto_mode_on_random_graph(spark):
    rng = random.Random(7)
    n = 20
    edges = [
        (a, b)
        for a, b in {tuple(sorted(rng.sample(range(n), 2))) for _ in range(15)}
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.v: r.component for r in connected_components(df, rounds="auto").collect()
    }
    assert got == _union_find(edges)


def test_q58_unroll_converges_on_driver_corpus(spark, sf_dir):
    # the claim behind q58's fixed unroll: 6 rounds ≥ diameter of the
    # shingle-overlap graph on the actual test corpus
    from cdc_example_spark.queries.llm import _Q58_MIN_SHARED, q58

    out = q58(spark, sf_dir)
    # rebuild the edge set with the same threshold and compare against
    # union-find on the collected pairs (small by construction)
    from cdc_example_spark.functions import text as T
    from cdc_example_spark.queries.llm import _SHINGLES
    from cdc_example_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.filter(F.col("lang").isNotNull())
        .select("doc_id", "lang", T.words(F.lower(F.col("text"))).alias("ws"))
        .select("doc_id", "lang", F.explode(F.expr(_SHINGLES)).alias("s"))
        .groupBy("doc_id", "lang")
        .agg(F.collect_set(F.xxhash64("s")).alias("set"))
        .select("doc_id", "lang", F.explode("set").alias("w"))
    )
    a, b = tok.alias("a"), tok.alias("b")
    pairs = (
        a.join(b, [F.col("a.w") == F.col("b.w"), F.col("a.lang") == F.col("b.lang"),
                   F.col("a.doc_id") < F.col("b.doc_id")])
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= _Q58_MIN_SHARED)
        .select("d1", "d2")
        .collect()
    )
    model = _union_find([(r.d1, r.d2) for r in pairs])
    expected = {}
    for v, c in model.items():
        expected.setdefault(c, []).append(v)
    expected_rows = sorted(
        (c, len(vs), max(vs)) for c, vs in expected.items()
    )
    got_rows = sorted(
        (r.component_id, r.n_docs, r.max_doc_id) for r in out.collect()
    )
    assert got_rows == expected_rows


def test_pagerank_matches_python_power_iteration(spark):
    """pagerank's unrolled dataflow must equal an independent dense
    power iteration (same formulation: pr0=1, leak at dangling nodes)
    to float tolerance on an asymmetric multi-component graph."""
    from cdc_example_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 3), (3, 1), (4, 1), (5, 4), (6, 7)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["pr"] for r in pagerank(df, iters=5).collect()}

    nodes = sorted({n for e in edges for n in e})
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    pr = {n: 1.0 for n in nodes}
    for _ in range(5):
        nxt = {n: 0.15 for n in nodes}
        for s, d in edges:
            nxt[d] += 0.85 * pr[s] / out[s]
        pr = nxt
    assert set(got) == set(nodes)
    for n in nodes:
        assert abs(got[n] - pr[n]) < 1e-9, (n, got[n], pr[n])


def test_broadcast_threshold_parser_covers_spark_legal_sizes():
    """ADVICE r13 (medium): the pagerank broadcast gate must parse every
    Spark-legal threshold string (t/tb/p/pb suffixes, fractional values)
    and must NEVER raise — an unparseable value means 0 (broadcast
    disabled), so the always-correct shuffle plan is the fallback, never
    a crash."""
    from cdc_example_spark.operators.graph import _broadcast_threshold_bytes

    class _FakeConf:
        def __init__(self, v):
            self._v = v

        def get(self, key):
            return self._v

    class _FakeSpark:
        def __init__(self, v):
            self.conf = _FakeConf(v)

    cases = {
        "10485760": 10 * 1024**2,   # plain bytes (vanilla default)
        "10MB": 10 * 1024**2,
        "64m": 64 * 1024**2,
        "10k": 10 * 1024,
        "100b": 100,
        "1g": 1024**3,
        "1tb": 1024**4,             # r13 parser raised on these four
        "2t": 2 * 1024**4,
        "1pb": 1024**5,
        "1.5g": int(1.5 * 1024**3),
        "-1": -1,                   # explicit disable stays ≤ 0
    }
    for raw, want in cases.items():
        assert _broadcast_threshold_bytes(_FakeSpark(raw)) == want, raw
    # unparseable → 0 (disabled), never an exception
    assert _broadcast_threshold_bytes(_FakeSpark("not-a-size")) == 0
    assert _broadcast_threshold_bytes(_FakeSpark(None)) == 0


def test_cc_probe_round_equals_full_unroll(spark):
    """r14 pin (VERDICT r13 item 4): probe_round must yield EXACTLY the
    full unroll's labels in both probe outcomes — (a) a near-clique
    graph converged by the probe round (shallow plan emitted), (b) a
    path graph NOT converged at the probe round (probe falls through to
    the full declared unroll)."""
    from cdc_example_spark.operators.graph import connected_components

    def run(edges, rounds, probe):
        df = spark.createDataFrame(edges, "src long, dst long")
        full = {
            (r.v, r.component)
            for r in connected_components(df, rounds=rounds).collect()
        }
        probed = {
            (r.v, r.component)
            for r in connected_components(
                df, rounds=rounds, probe_round=probe
            ).collect()
        }
        assert probed == full, (edges, rounds, probe)

    # (a) two triangles + an isolated edge: diameter 1, converged at
    # probe_round=3 -> shallow plan
    run([(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (20, 21)], 6, 3)
    # (b) 7-vertex path: rounds 3 probe sees changes -> full 6-round
    # unroll (which the path needs; shallow output would be WRONG here,
    # so equality proves the fall-through)
    run([(i, i + 1) for i in range(6)], 6, 3)
