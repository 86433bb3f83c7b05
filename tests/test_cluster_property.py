"""Property test: connected_components vs the union-find oracle on
adversarial ids and edge lists, on both sides of the single-task gate
(default gate → one Arrow task; ``local_max_edges=0`` → star rounds with
hash-encoded string ids and the min-original-id restore)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from record_matcher_spark.operators.cluster import connected_components
from record_matcher_spark.oracle import oracle_union_find

ADVERSARIAL_IDS = [
    "",
    " ",
    "  \t  ",
    "a",
    "a\x00",
    "a\x00z",
    "\x00",
    "\u00e9",  # precomposed e-acute
    "e\u0301",  # e + combining acute
    "\u4e2d\u6587",
    "\U0001f600",
    "\U00010348x",
    "x" * 2000,
    "x" * 1999 + "\U0001f600",
]

STRING_IDS = st.one_of(
    st.sampled_from(ADVERSARIAL_IDS),
    # any text Spark can carry (lone surrogates are not valid UTF-8)
    st.text(st.characters(blacklist_categories=("Cs",)), max_size=4),
)
LONG_IDS = st.one_of(
    st.sampled_from([-(2**63), 2**63 - 1, 0, -1, 1]),
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
)


def _graphs(ids):
    """Edge lists with NULL endpoints, self-loops, and duplicate and
    reversed copies of earlier edges."""
    endpoint = st.one_of(st.none(), ids)
    base = st.lists(st.tuples(endpoint, endpoint), min_size=1, max_size=12)

    @st.composite
    def graph(draw):
        edges = draw(base)
        extra = draw(
            st.lists(
                st.tuples(
                    st.integers(0, len(edges) - 1),
                    st.sampled_from(["dup", "rev", "loop"]),
                ),
                max_size=6,
            )
        )
        for i, kind in extra:
            a, b = edges[i]
            edges.append(
                {"dup": (a, b), "rev": (b, a), "loop": (a, a)}[kind]
            )
        return edges

    return graph()


def _check(spark, edges, id_type):
    edf = spark.createDataFrame(edges, f"src {id_type}, dst {id_type}")
    kept = [(a, b) for a, b in edges if a is not None and b is not None]
    nodes = sorted({a for a, _ in kept} | {b for _, b in kept})
    exp = oracle_union_find(nodes, kept)
    for kw in ({}, {"local_max_edges": 0}):
        got = {
            r["node"]: r["component"]
            for r in connected_components(edf, "src", "dst", **kw).collect()
        }
        assert got == exp, kw


_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@pytest.mark.parametrize(
    "id_type,ids", [("string", STRING_IDS), ("long", LONG_IDS)]
)
def test_connected_components_matches_union_find(spark, id_type, ids):
    @_SETTINGS
    @given(edges=_graphs(ids))
    def run(edges):
        _check(spark, edges, id_type)

    run()
