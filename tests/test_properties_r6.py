"""Property-based laws for the round-6 operators: edit-distance join
completeness+soundness vs brute force, PageRank mass conservation."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@given(
    words=st.lists(
        st.text(alphabet="abc", min_size=0, max_size=6), min_size=2, max_size=10
    ),
    k=st.integers(1, 2),
)
@settings(**SETTINGS)
def test_edit_distance_join_equals_bruteforce(spark, words, k):
    """For ANY short-string corpus: the deletion-neighborhood join
    returns EXACTLY the pairs brute-force levenshtein admits —
    complete (pigeonhole) and sound (exact verification)."""
    from gedixr_spark.operators.dedup import edit_distance_pairs

    rows = [(i, w) for i, w in enumerate(words)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in edit_distance_pairs(df, max_dist=k).collect()
    }
    norm = lambda t: " ".join(t.lower().split())
    want = set()
    for i, (ia, ta) in enumerate(rows):
        for ib, tb in rows[i + 1:]:
            d = _lev(norm(ta), norm(tb))
            if d <= k:
                want.add((ia, ib, d))
    assert got == want


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pagerank_mass_conservation(spark, edges):
    """Any directed graph (self-loops, sinks, duplicates): ranks are
    positive and sum to 1 (teleport + dangling redistribution leak
    nothing)."""
    from gedixr_spark.operators.graph import pagerank

    df = spark.createDataFrame(edges, "src long, dst long")
    got = [r["rank"] for r in pagerank(df, n_iter=4).collect()]
    assert all(r > 0 for r in got)
    assert abs(sum(got) - 1.0) < 1e-9
