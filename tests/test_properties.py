"""Property-based tests (hypothesis) — beyond the reference's test
strategy (SURVEY.md §5 notes it has no randomized testing).

Each property pits a distributed operator against an obviously-correct
pure-Python model on randomized inputs:

- treewalk (both strategies: path doubling on functional graphs,
  level-BFS on arbitrary DAGs/graphs) vs a Python BFS;
- the portable polynomial hash vs direct int arithmetic;
- MinHash-LSH candidate generation invariants (symmetry, bucket
  membership) on the bucket-local pair expansion.

Example counts are small because every example runs Spark jobs.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from duckdb_pst_spark.functions.portable import P_HASH, poly_hash
from duckdb_pst_spark.operators.recursive import treewalk

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _bfs(edges: dict[int, list[int]], start: int) -> set[int]:
    seen = {start}
    frontier = [start]
    while frontier:
        nxt = []
        for u in frontier:
            for v in edges.get(u, []):
                if v not in seen:
                    seen.add(v)
                    nxt.append(v)
        frontier = nxt
    return seen


def _run_treewalk(spark, edge_pairs, start, dedup_level):
    edges = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edge_pairs] or [(0, 0)], "src long, dst long"
    )
    if not edge_pairs:
        edges = edges.limit(0)
    frontier = spark.createDataFrame([(int(start),)], "key long")
    out = treewalk(
        frontier, edges, from_col="src", to_col="dst", dedup_level=dedup_level
    )
    rows = [r.key for r in out.collect()]
    assert len(rows) == len(set(rows)), "closure must be a set (no dup keys)"
    return set(rows)


@given(
    succ=st.lists(st.integers(min_value=0, max_value=11), min_size=1, max_size=12),
    start=st.integers(min_value=0, max_value=11),
)
@settings(**_SETTINGS)
def test_treewalk_doubling_matches_bfs_on_functional_graphs(spark, succ, start):
    """dedup_level=False (path doubling) on functional graphs — each node
    has exactly one successor; cycles and self-loops included (the PST
    root self-loop is the degenerate case)."""
    n = len(succ)
    start = start % n
    edge_pairs = [(i, succ[i] % n) for i in range(n)]
    model = _bfs({a: [b] for a, b in edge_pairs}, start)
    got = _run_treewalk(spark, edge_pairs, start, dedup_level=False)
    assert got == model


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9), st.integers(min_value=0, max_value=9)
        ),
        max_size=20,
    ),
    start=st.integers(min_value=0, max_value=9),
)
@settings(**_SETTINGS)
def test_treewalk_bfs_matches_model_on_arbitrary_graphs(spark, edges, start):
    """dedup_level=True (level BFS) on arbitrary digraphs — multi-parent,
    cyclic, disconnected, empty."""
    model: dict[int, list[int]] = {}
    for a, b in edges:
        model.setdefault(a, []).append(b)
    expect = _bfs(model, start)
    got = _run_treewalk(spark, edges, start, dedup_level=True)
    assert got == expect


@given(s=st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=40))
@settings(**_SETTINGS)
def test_poly_hash_matches_python_model(spark, s):
    """Spark-side poly_hash == direct Python integer arithmetic."""
    expect = 0
    for ch in s:
        expect = (expect * 31 + ord(ch)) % P_HASH
    got = spark.createDataFrame([(s,)], "t string").select(
        poly_hash(F.col("t")).alias("h")
    ).collect()[0].h
    assert got == expect


@given(
    ids=st.lists(st.integers(min_value=0, max_value=50), min_size=2, max_size=8, unique=True)
)
@settings(**_SETTINGS)
def test_bucket_pair_expansion_is_all_unordered_pairs(spark, ids):
    """The LSH bucket-local pair expression emits exactly the set of
    unordered pairs {a<b} of the bucket — the same pair set a bucket
    self-join with a.doc_id < b.doc_id would produce."""
    df = spark.createDataFrame([(ids,)], "ids array<long>")
    pairs_expr = F.expr(
        """
        flatten(transform(ids, (x, i) ->
          transform(slice(ids, i + 2, size(ids)), y ->
            struct(least(x, y) AS doc_a, greatest(x, y) AS doc_b))))
        """
    )
    got = {
        (r.p.doc_a, r.p.doc_b)
        for r in df.select(F.explode(pairs_expr).alias("p")).collect()
    }
    expect = {(min(a, b), max(a, b)) for i, a in enumerate(ids) for b in ids[i + 1:]}
    assert got == expect
    assert all(a < b for a, b in got)


@pytest.mark.parametrize("dedup_level", [False, True])
def test_treewalk_empty_edges(spark, dedup_level):
    got = _run_treewalk(spark, [], 5, dedup_level=dedup_level)
    assert got == {5}


# --------------------------------------------------- poly-hash kernel math
def _fold(s: str) -> int:
    """The portable poly-hash, written as the per-character fold."""
    h = 0
    for ch in s:
        h = (h * 31 + ord(ch)) % P_HASH
    return h


def _expected_spans(texts, n):
    """[(doc index, 1-based position, hash)] of every n-token span."""
    out = []
    for i, text in enumerate(texts):
        toks = [] if text is None else [t for t in text.split(" ") if t]
        out += [(i, j + 1, _fold(" ".join(toks[j : j + n]))) for j in range(len(toks) - n + 1)]
    return out


def _group(spans):
    """{doc index: [hash, ...]} in span order."""
    out: dict[int, list[int]] = {}
    for d, _pos, h in spans:
        out.setdefault(d, []).append(h)
    return out


def _check_span_hashes(hasher, texts):
    import numpy as np

    for n in (1, 3):
        kept, nsp, didx, pos, h = hasher.spans(texts, np.arange(len(texts)) + 100, n)
        got = [(int(kept[d]) - 100, int(p), int(v)) for d, p, v in zip(didx, pos, h)]
        assert got == _expected_spans(texts, n)
        assert nsp.tolist() == np.bincount(didx, minlength=len(kept)).tolist()


_TOKEN = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=1000), min_size=1, max_size=12
)
_DOC = st.one_of(
    st.none(),
    st.just(""),
    st.lists(_TOKEN, min_size=1, max_size=2).map(" ".join),
    # "" items become runs of spaces, also leading and trailing ones
    st.lists(st.one_of(_TOKEN, st.just("")), min_size=1, max_size=40).map(" ".join),
)


@given(texts=st.lists(_DOC, min_size=1, max_size=8))
@settings(max_examples=200, deadline=None)
def test_prefix_scan_shingle_hashes_match_direct_fold(texts):
    """The shared poly-hash engine and the two batch kernels built on it
    equal their definitions over the direct (acc*31 + ord) % P character
    fold the JVM/oracle twins compute — pure math, no Spark. Each
    example is a batch mixing NULL, empty, 1–2-token and longer
    documents (runs of spaces, non-ASCII codepoints), so span
    boundaries cross documents of every kind:

    - engine spans at n=1 (tokens) and n=3 (shingles);
    - MinHash bands: sig_k = min over distinct shingle hashes h of
      (a_k·h + b_k) mod P, band_j = (sig_2j·31 + sig_2j+1) mod P, one
      row per band for each document with ≥ 3 tokens;
    - SimHash: h1 = token hash, h2 = h1·2654435761 mod P; bit i of s
      is set when more tokens have bit i of (h1 bits 0–29, h2 bits
      30–59) set than clear; one row per document with ≥ 1 token."""
    import pandas as pd

    from duckdb_pst_spark.functions.polyhash_np import SpanHasher
    from duckdb_pst_spark.operators.dedup import (
        MINHASH_BANDS,
        _A,
        _B,
        _minhash_band_kernel,
        _simhash_prod_kernel,
    )

    _check_span_hashes(SpanHasher(), texts)
    pdf = pd.DataFrame({"doc_id": list(range(len(texts))), "text": texts})

    expect_bands = set()
    for d, hs in _group(_expected_spans(texts, 3)).items():
        sigs = [min((a * h + b) % P_HASH for h in set(hs)) for a, b in zip(_A, _B)]
        expect_bands |= {
            (d, j, (sigs[2 * j] * 31 + sigs[2 * j + 1]) % P_HASH) for j in range(MINHASH_BANDS)
        }
    out = pd.concat(list(_minhash_band_kernel(iter([pdf]))))
    got = [(int(r.doc_id), int(r.band_idx), int(r.band_val)) for r in out.itertuples()]
    assert len(got) == len(expect_bands) and set(got) == expect_bands

    expect_sim = {}
    for d, h1 in _group(_expected_spans(texts, 1)).items():
        h2 = [h * 2654435761 % P_HASH for h in h1]
        s = 0
        for bit in range(60):
            vote = sum(1 if (v >> (bit % 30)) & 1 else -1 for v in (h1 if bit < 30 else h2))
            s |= (vote > 0) << bit
        expect_sim[d] = s
    out = pd.concat(list(_simhash_prod_kernel(iter([pdf]))))
    assert {int(r.doc_id): int(r.s) for r in out.itertuples()} == expect_sim
    assert len(out) == len(expect_sim)


def test_poly_hash_power_table_grows_across_batches():
    """One hasher keeps its power tables across batches: a batch whose
    document is longer than any before it must grow them, and the
    hashes of both batches (and of the short batch again) stay exact."""
    from duckdb_pst_spark.functions.polyhash_np import SpanHasher

    hasher = SpanHasher()
    short = ["ab cd ef gh", None, "x"]
    _check_span_hashes(hasher, short)
    size = len(hasher.pw)
    long_doc = " ".join(f"t{i}" for i in range(size + 2000))  # several doublings
    _check_span_hashes(hasher, ["a b c", long_doc, "d e"])
    assert size < len(long_doc) < len(hasher.pw) == len(hasher.ipw)
    _check_span_hashes(hasher, short)


def _model_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find reference model: node -> component min."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _run_star(spark, edges: list[tuple[int, int]]) -> dict[int, int]:
    from duckdb_pst_spark.operators.dedup import star_components

    df = spark.createDataFrame(edges, "u long, v long")
    return {r.node: r.cluster_id for r in star_components(df).collect()}


def test_star_components_adversarial_shapes(spark):
    """Large-star/small-star CC on the shapes label propagation struggles
    with: a 64-node chain (diameter 63 — log-round contraction must
    still finish inside the round cap), a 100-leaf hub, two disjoint
    components, and a triangle+tail mix."""
    chain = [(i, i + 1) for i in range(63)]
    assert _run_star(spark, chain) == _model_components(chain)

    hub = [(50, leaf) for leaf in range(100, 200)]
    assert _run_star(spark, hub) == _model_components(hub)

    mixed = [(1, 2), (2, 3), (3, 1), (3, 4), (10, 11), (12, 11), (20, 21)]
    assert _run_star(spark, mixed) == _model_components(mixed)


@given(
    edges=st.lists(
        st.tuples(st.integers(min_value=0, max_value=30), st.integers(min_value=0, max_value=30)),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_star_components_match_union_find_model(spark, edges):
    """Alternating star CC ≡ union-find on arbitrary small graphs
    (self-loops dropped, duplicates collapsed, disconnected bits kept)."""
    real = [(a, b) for a, b in edges if a != b]
    if not real:
        return
    assert _run_star(spark, real) == _model_components(real)


# ---------------------------------------------------------------------------
# Overflow-free integer threshold rewrites (q_tpch_q11 / q_tpch_q22).
# The registered plans test `value > total div K` where the naive form
# `value * K > total` wraps int64 once value > 2^63/K. These properties
# pin the algebraic identity the rewrite relies on, and that DuckDB's
# `//` agrees with Python (and Spark's `div`) on the domains used.


@given(
    value=st.integers(min_value=0, max_value=2**63 - 1),
    total=st.integers(min_value=0, max_value=2**63 - 1),
    k=st.integers(min_value=1, max_value=10_000),
)
@settings(max_examples=500, deadline=None)
def test_div_threshold_identity_nonnegative(value, total, k):
    """value·K > total  ⇔  value > total // K for non-negative ints —
    the q_tpch_q11 fraction test (value_c and the total are sums of
    positive cents, so the non-negative domain is the real one)."""
    assert (value * k > total) == (value > total // k)


@given(
    a=st.integers(min_value=-(2**31), max_value=2**31),
    s=st.integers(min_value=1, max_value=2**63 - 1),
    n=st.integers(min_value=1, max_value=2**31),
)
@settings(max_examples=500, deadline=None)
def test_div_mean_identity_any_numerator(a, s, n):
    """a·n > s  ⇔  a > s // n for s, n > 0 and ANY integer a — the
    q_tpch_q22 above-mean test (balances can be negative; the pool
    sum and count are positive by construction)."""
    assert (a * n > s) == (a > s // n)


@given(
    s=st.integers(min_value=0, max_value=2**62),
    n=st.integers(min_value=1, max_value=2**31),
)
@settings(max_examples=50, deadline=None)
def test_duckdb_intdiv_matches_python_floor(s, n):
    """DuckDB BIGINT `//` equals Python's floor-div on the positive
    domain the rewrites use (Spark's `div` truncates toward zero,
    which is identical for non-negative operands — the engines only
    agree BECAUSE the rewrite keeps the numerator non-negative)."""
    import duckdb

    got = duckdb.sql(f"SELECT CAST({s} AS BIGINT) // CAST({n} AS BIGINT)").fetchone()[0]
    assert got == s // n


def test_ppm_rescale_decimal_safe_past_int64(spark):
    """q_tpch_q8/q_tpch_q14 regression: the share-ppm rescale must ride
    a DECIMAL(38) intermediate. The int64 form wraps once 1e6·sum
    passes 2^63 (~9.2e12 cents of group revenue — reachable at the
    corpus sizes the repo targets) while DuckDB's HUGEINT sum does
    not, silently diverging the engines."""
    df = spark.createDataFrame(
        [(5_000_000_000_000, 5_000_000_000_000)] * 2, "promo_c long, rev_c long"
    )
    # the int64 form is broken either way: ANSI raises ARITHMETIC_OVERFLOW,
    # non-ANSI silently wraps — both diverge from DuckDB's HUGEINT sum
    try:
        wrapped = df.agg(
            F.expr("CAST(1000000 * sum(promo_c) div sum(rev_c) AS BIGINT)").alias("p")
        ).collect()[0].p
        assert wrapped != 1_000_000, wrapped
    except Exception as exc:
        assert "overflow" in str(exc).lower() or "ARITHMETIC" in str(exc), exc
    safe = df.agg(
        F.expr(
            "CAST(CAST(sum(promo_c) AS DECIMAL(38,0)) * 1000000"
            " div sum(rev_c) AS BIGINT)"
        ).alias("p")
    ).collect()[0].p
    assert safe == 1_000_000, safe          # the true share: promo == total

    import duckdb

    got = duckdb.sql(
        "SELECT CAST(1000000 * SUM(promo_c) // SUM(rev_c) AS BIGINT) "
        "FROM (SELECT CAST(5000000000000 AS BIGINT) AS promo_c, "
        "CAST(5000000000000 AS BIGINT) AS rev_c UNION ALL "
        "SELECT 5000000000000, 5000000000000)"
    ).fetchone()[0]
    assert got == 1_000_000, got            # HUGEINT sum: DuckDB never wrapped
