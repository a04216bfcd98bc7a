"""k-truss peeling (operators/graph.py::k_truss_edges) — staged r15 for
an r16 debut (``graph_k_truss`` planned); the registered query will
spell exactly the unrolled per-round CTE drafted here (the k-core/LPA
staging pattern). Support is orientation-independent — the operator
enumerates triangles degree-ordered (O(E·arboricity) wedges) while the
oracle uses the simple a<b<c listing; both count the same triangle set,
so the recurrence is a pure function of the edge set. Parity is pinned
against an independent pure-Python reference AND the DuckDB CTE, plus
a 25-topology fuzz."""

from __future__ import annotations

import duckdb
import pytest

from mapreduce_system_spark.operators.graph import k_truss_edges

# two 4-cliques sharing one vertex (each edge has support 2 → 4-truss),
# a triangle hanging off one clique by a bridge edge (support 1 edges →
# peels at k=4; the BRIDGE has support 0 and peels at k=3), and a
# square (cycle of 4: no triangles — peels entirely at k>=3)
_EDGES = [
    (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),       # K4 #1
    (4, 5), (4, 6), (4, 7), (5, 6), (5, 7), (6, 7),       # K4 #2 (shares 4)
    (7, 10),                                              # bridge
    (10, 11), (10, 12), (11, 12),                         # triangle
    (20, 21), (21, 22), (22, 23), (23, 20),               # square
]


def _ref_ktruss(edges, k, rounds):
    """Independent reference: synchronous support peel on the
    value-ordered edge set."""
    es = set()
    for a, b in edges:
        if a is None or b is None or a == b:
            continue
        es.add((min(a, b), max(a, b)))

    def supports(cur):
        adj: dict = {}
        for u, v in cur:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        return {(u, v): len(adj[u] & adj[v]) for u, v in cur}

    for _ in range(rounds):
        s = supports(es)
        es = {e for e in es if s[e] >= k - 2}
    return {e: s for e, s in supports(es).items()} if es else {}


@pytest.mark.parametrize("k,rounds", [(3, 2), (4, 2)])
def test_ktruss_matches_reference_on_handbuilt_graph(spark, k, rounds):
    df = spark.createDataFrame(_EDGES, "src long, dst long")
    got = {
        (r.u, r.v): r.support
        for r in k_truss_edges(df, k, rounds=rounds).collect()
    }
    assert got == _ref_ktruss(_EDGES, k, rounds)


def test_ktruss_handchecked_semantics(spark):
    """The fixture's pinned story: at k=4 only the two K4s survive
    (every surviving edge support 2); the bridge (support 0), the
    hanging triangle and the square (supports < 2) peel."""
    df = spark.createDataFrame(_EDGES, "src long, dst long")
    got = {
        (r.u, r.v): r.support
        for r in k_truss_edges(df, 4, rounds=2).collect()
    }
    assert set(got) == {
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        (4, 5), (4, 6), (4, 7), (5, 6), (5, 7), (6, 7),
    }
    assert all(s == 2 for s in got.values())
    # k=3 keeps both K4s AND the hanging triangle, drops bridge+square
    got3 = {
        (r.u, r.v)
        for r in k_truss_edges(df, 3, rounds=2).collect()
    }
    assert (10, 11) in got3 and (7, 10) not in got3 and (20, 21) not in got3


def test_ktruss_normalizes_messy_input(spark):
    """Reversed duplicates, self-loops, and NULL endpoints normalize
    exactly as the reference does."""
    messy = _EDGES + [(b, a) for a, b in _EDGES[:5]] + [(1, 1), (None, 2), (3, None)]
    df = spark.createDataFrame(messy, "src long, dst long")
    got = {
        (r.u, r.v): r.support
        for r in k_truss_edges(df, 4, rounds=2).collect()
    }
    assert got == _ref_ktruss(_EDGES, 4, 2)


def test_ktruss_rejects_bad_params(spark):
    df = spark.createDataFrame(_EDGES, "src long, dst long")
    with pytest.raises(ValueError, match="k must"):
        k_truss_edges(df, 1)
    with pytest.raises(ValueError, match="rounds"):
        k_truss_edges(df, 3, rounds=0)


def _ktruss_round_cte(prev: str, cur: str, r: int, k: int) -> str:
    """One unrolled synchronous truss round — the draft the registered
    oracle interpolates (queries/fresh14.py). Triangle listing is the
    simple a<b<c form (orientation-independent support); MATERIALIZED
    mirrors the registration (DuckDB 1.0 inlines CTEs per reference —
    the nested stack re-expands exponentially without it)."""
    return f"""t{r} AS MATERIALIZED (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM {prev} e1
  JOIN {prev} e2 ON e2.u = e1.u AND e2.v > e1.v
  JOIN {prev} e3 ON e3.u = e1.v AND e3.v = e2.v
), s{r} AS (
  SELECT u, v, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT a AS u, b AS v FROM t{r}
    UNION ALL SELECT a, c FROM t{r}
    UNION ALL SELECT b, c FROM t{r}
  ) GROUP BY u, v
), {cur} AS MATERIALIZED (
  SELECT e.u, e.v FROM {prev} e
  LEFT JOIN s{r} s ON s.u = e.u AND s.v = e.v
  WHERE coalesce(s.cnt, 0) >= {k - 2}
)"""


@pytest.mark.parametrize("k,rounds", [(3, 2), (4, 2)])
def test_ktruss_matches_unrolled_duckdb_oracle(spark, tmp_path, k, rounds):
    df = spark.createDataFrame(_EDGES, "src long, dst long")
    df.write.parquet(f"{tmp_path}/edges.parquet")
    got = sorted(
        (r.u, r.v, r.support)
        for r in k_truss_edges(df, k, rounds=rounds).collect()
    )
    ctes = ["""e0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM raw
  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
)"""]
    for r in range(rounds):
        ctes.append(_ktruss_round_cte(f"e{r}", f"e{r + 1}", r, k))
    # one extra support pass over the FINAL edge set for the output
    ctes.append(_ktruss_round_cte(f"e{rounds}", f"e{rounds + 1}", rounds, 2))
    sql = f"""
WITH raw AS (
  SELECT src, dst FROM read_parquet('{tmp_path}/edges.parquet/*.parquet')
), {", ".join(ctes)}
SELECT e.u, e.v, coalesce(s.cnt, CAST(0 AS BIGINT)) AS support
FROM e{rounds} e
LEFT JOIN s{rounds} s ON s.u = e.u AND s.v = e.v
ORDER BY e.u, e.v
"""
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want


def test_ktruss_fuzz_25_random_topologies(spark):
    """25 seeded random graphs as disjoint id-offset components of ONE
    graph (k-truss on a disjoint union is k-truss per component) vs the
    pure-Python reference — the k-core sweep's shape."""
    import random

    all_edges: list = []
    want: dict = {}
    for g in range(25):
        rng = random.Random(8800 + g)
        base = (g + 1) * 100_000
        n = rng.randint(4, 12)
        edges = [
            (a, b)
            for a in range(n)
            for b in range(a + 1, n)
            if rng.random() < 0.45
        ] or [(0, 1), (1, 2), (0, 2)]
        edges += [(b, a) for (a, b) in edges if rng.random() < 0.4]
        offset = [(base + a, base + b) for a, b in edges]
        all_edges.extend(offset)
        want.update(_ref_ktruss(offset, 4, 2))
    got = {
        (r.u, r.v): r.support
        for r in k_truss_edges(
            spark.createDataFrame(all_edges, "src long, dst long"), 4, rounds=2
        ).collect()
    }
    assert got == want


def test_ktruss_contract_flag_order_insensitive(spark):
    """ADVICE r15 regression: ``edges_undirected_distinct=True`` must
    tolerate out-of-order (v > u) input edges — least/greatest applies
    unconditionally; the flag only skips the distinct exchange."""
    # distinct undirected edge set, but HALF the edges value-reversed
    shuffled = [
        (b, a) if i % 2 else (a, b) for i, (a, b) in enumerate(_EDGES)
    ]
    df = spark.createDataFrame(shuffled, "src long, dst long")
    got = {
        (r.u, r.v): r.support
        for r in k_truss_edges(
            df, 4, rounds=2, edges_undirected_distinct=True
        ).collect()
    }
    assert got == _ref_ktruss(_EDGES, 4, 2)


def test_ktruss_orientation_reuse_is_bit_identical(spark):
    """VERDICT r16 #4: compact-forward enumeration only needs SOME total
    vertex order, so orienting every support call by the round-0
    (degree, id) order, and censusing member edges in ONE
    explode(array(...)) pass over the triangle stream, must give the
    exact surviving edges and supports of the pure-Python reference.
    Dense-ish seeded graph where two peel rounds actually remove edges,
    so the reused order is exercised on a shrunken edge set."""
    import random

    rng = random.Random(9100)
    n = 30
    edges = [
        (a, b)
        for a in range(n)
        for b in range(a + 1, n)
        if rng.random() < 0.25
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r.u, r.v): r.support
        for r in k_truss_edges(df, 4, rounds=2).collect()
    }
    assert got == _ref_ktruss(edges, 4, 2)
    # peeling genuinely removed edges (the reuse path saw a shrunken set)
    assert len(got) < len(edges)


def test_ktruss_explode_members_is_bit_identical(spark):
    """r17 optimization: the member-edge census is ONE explode(array(...))
    pass over the triangle stream, three value-ordered member structs per
    triangle. At k=2 nothing peels (support >= 0 always), so the output
    is the census itself: every input edge with exactly the number of
    triangles it closes. Checked against a brute-force a<b<c triangle
    listing exploded into its three members by hand — independent of
    both the operator's degree-ordered enumeration and the adjacency
    reference — on the seed-9100 dense-ish graph."""
    import itertools
    import random
    from collections import Counter

    rng = random.Random(9100)
    n = 30
    edges = [
        (a, b)
        for a in range(n)
        for b in range(a + 1, n)
        if rng.random() < 0.25
    ]
    es = set(edges)
    census = Counter()
    for a, b, c in itertools.combinations(range(n), 3):
        if (a, b) in es and (a, c) in es and (b, c) in es:
            census.update([(a, b), (a, c), (b, c)])
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r.u, r.v): r.support
        for r in k_truss_edges(df, 2, rounds=1).collect()
    }
    assert got == {e: census[e] for e in es}
    assert got == _ref_ktruss(edges, 2, 1)
    # the fixture has triangles and triangle-free edges alike
    assert sum(got.values()) > 0 and min(got.values()) == 0
