"""Hypothesis properties for the selection/graph/entropy family.

Spark-session property tests keep example counts small (each example is
a full local job); the invariants are the ones a formula test can't
sweep — arbitrary graphs and token distributions.
"""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

pytestmark = pytest.mark.usefixtures("spark")


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(
            lambda e: e[0] < e[1]
        ),
        min_size=1,
        max_size=20,
        unique=True,
    )
)
def test_pagerank_mass_conserved_and_positive(spark, edges):
    """On any undirected graph: ranks are positive and total ~= 1
    (undirected symmetrization leaves no dangling mass)."""
    from shopify_etl_spark.operators.graph import pagerank

    df = spark.createDataFrame(edges, "d1 long, d2 long")
    rows = pagerank(df).collect()
    n_nodes = len({v for e in edges for v in e})
    assert len(rows) == n_nodes
    assert all(r["pagerank"] > 0 for r in rows)
    assert sum(r["pagerank"] for r in rows) == pytest.approx(1.0, abs=1e-2)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=30),
        min_size=1,
        max_size=6,
    )
)
def test_entropy_bounds_and_ttr_range(spark, docs):
    """0 <= H <= log2(n_types); TTR in (0, 1]; H == 0 iff one type."""
    from shopify_etl_spark.operators.text import token_entropy

    df = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)],
        "doc_id long, text string",
    )
    for r in token_entropy(df).collect():
        types = r["n_types"]
        # +5e-5: the operator rounds to 4 decimals, so a uniform doc's
        # H can round just past log2(types) (e.g. 1.58496 -> 1.585)
        assert -5e-5 <= r["token_entropy"] <= np.log2(types) + 5e-5
        assert 0 < r["ttr"] <= 1.0
        if types == 1:
            assert r["token_entropy"] == 0.0


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["w1", "w2", "w3", "w4", "w5"]),
                 min_size=3, max_size=12),
        min_size=1,
        max_size=5,
    )
)
def test_novelty_bounds_and_first_doc_is_fully_novel(spark, docs):
    """novelty in [0,1]; the minimum doc_id always scores 1.0 (every
    shingle's first occurrence); n_novel sums to the distinct-shingle
    count of the corpus."""
    from shopify_etl_spark.operators.dedup import doc_novelty

    df = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)],
        "doc_id long, text string",
    )
    rows = doc_novelty(df).collect()
    if not rows:  # every doc shorter than the shingle width
        return
    by_id = {r["doc_id"]: r for r in rows}
    first = min(by_id)
    assert by_id[first]["novelty"] == 1.0
    assert all(0.0 <= r["novelty"] <= 1.0 for r in rows)
    all_shingles = set()
    for d in docs:
        all_shingles |= {tuple(d[i:i + 3]) for i in range(len(d) - 2)}
    assert sum(r["n_novel"] for r in rows) == len(all_shingles)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    tokens=st.lists(st.sampled_from("abcdef"), min_size=1, max_size=40),
    cut=st.integers(0, 40),
)
def test_mergeable_states_are_split_invariant(spark, tokens, cut):
    """The mergeability property: fitting per-batch and
    merging EQUALS fitting the whole history, for ANY split point —
    CMS grids (cellwise sum) and DSIR models (bucket-keyed sum)."""
    from pyspark.sql import functions as F

    from shopify_etl_spark.operators import sketches
    from shopify_etl_spark.operators.selection import dsir_fit, dsir_token_stream

    cut = min(cut, len(tokens))
    a, b = tokens[:cut], tokens[cut:]

    def tok_df(toks):
        return spark.createDataFrame([(t,) for t in toks] or [], "token string")

    whole = sketches.cms_build(tok_df(tokens), "token", width=32, depth=3)
    merged = sketches.cms_merge(
        sketches.cms_build(tok_df(a), "token", width=32, depth=3),
        sketches.cms_build(tok_df(b), "token", width=32, depth=3),
    )
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, merged.collect()))

    def doc_df(toks, base):
        rows = [(base + i, t, i % 2 == 0) for i, t in enumerate(toks)]
        return spark.createDataFrame(rows or [], "doc_id long, text string, tgt boolean")

    def fit(df):
        return dsir_fit(dsir_token_stream(df, F.col("tgt"), n_buckets=64))

    # DSIR model counts must be invariant to doc-id assignment (batch b
    # re-based at 1000 vs 0) for any split: the model sees only token
    # buckets and target flags, never ids
    def merge_fits(fa, fb):
        return (
            fa.unionByName(fb)
            .groupBy("f")
            .agg(F.sum("c_r").alias("c_r"), F.sum("c_t").alias("c_t"))
        )

    rebased = merge_fits(fit(doc_df(a, 0)), fit(doc_df(b, 1000)))
    in_place = merge_fits(fit(doc_df(a, 0)), fit(doc_df(b, 0)))
    assert sorted(map(tuple, rebased.collect())) == sorted(
        map(tuple, in_place.collect())
    )
