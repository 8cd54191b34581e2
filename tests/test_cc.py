"""Connected components vs the union-find oracle on adversarial graph shapes
(FIXTURES.md §3): path, star, bridged cliques, self-loops, duplicate and
reversed edges, isolated vertices. Small edge sets take the driver-side
union-find; a test of the star loop forces it by lowering the bound."""

import os
import random

import pytest

from cs588_data_science_bug_duplicate_detector_spark.operators import cc
from cs588_data_science_bug_duplicate_detector_spark.operators.cc import (
    connected_components,
    union_find_oracle,
)

SHAPES = {
    "path": [(i, i + 1) for i in range(1, 12)],
    "star": [(1, i) for i in range(2, 15)],
    "reversed_star": [(i, 1) for i in range(2, 15)],
    "two_cliques_bridged": (
        [(i, j) for i in range(1, 6) for j in range(i + 1, 6)]
        + [(i, j) for i in range(10, 15) for j in range(i + 1, 15)]
        + [(5, 10)]
    ),
    "self_loops_and_dups": [(1, 1), (2, 3), (3, 2), (2, 3), (4, 4)],
    "two_paths": [(1, 2), (2, 3), (10, 11), (11, 12)],
    "long_path": [(i, i + 1) for i in range(1, 60)],
}


def _labels_from_spark(spark, edges, vertices):
    e = spark.createDataFrame(edges, "src long, dst long")
    v = spark.createDataFrame([(x,) for x in vertices], "id long")
    return {
        r["id"]: r["cluster_id"]
        for r in connected_components(e, vertices=v).collect()
    }


def _random_int64_multigraph(seed):
    """Duplicates, reversed edges and self-loops over negative, zero and
    extreme int64 ids."""
    rng = random.Random(seed)
    pool = [-(2**63), 2**63 - 1, -(2**63) + 1, 2**63 - 2, -1, 0, 1]
    pool += [rng.randint(-(2**63), 2**63 - 1) for _ in range(25)]
    pool += [rng.randint(-20, 20) for _ in range(15)]
    return [(rng.choice(pool), rng.choice(pool)) for _ in range(90)]


GRAPHS = {
    **SHAPES,
    "random_int64_multigraph": _random_int64_multigraph(7),
    "empty": [],
    "self_loops_only": [(3, 3), (9, 9), (3, 3)],
}


def _both_forms(spark, edges, vertices):
    """(dtypes, labels) with and without ``vertices``."""
    e = spark.createDataFrame(edges, "src long, dst long")
    v = spark.createDataFrame([(x,) for x in vertices], "id long")
    return [
        (labels.dtypes, {r["id"]: r["cluster_id"] for r in labels.collect()})
        for labels in (connected_components(e, vertices=v), connected_components(e))
    ]


@pytest.mark.parametrize("shape", sorted(GRAPHS))
def test_cc_matches_union_find(spark, monkeypatch, shape):
    """The driver-side union-find and the star loop (forced through the
    bound) give the oracle's labels, column names and types."""
    edges = GRAPHS[shape]
    vertices = sorted({x for e in edges for x in e} | {999})  # 999 isolated
    driver = _both_forms(spark, edges, vertices)
    monkeypatch.setattr(cc, "_LOCAL_MAX_EDGES", -1)
    assert _both_forms(spark, edges, vertices) == driver
    (types, got), (types_nv, got_nv) = driver
    assert types == types_nv == [("id", "bigint"), ("cluster_id", "bigint")]
    assert got == union_find_oracle(edges, vertices)
    assert got[999] == 999  # isolated vertex is its own singleton cluster
    # without vertices only endpoints of non-self-loop edges are labeled
    assert got_nv == union_find_oracle([(s, d) for s, d in edges if s != d])


def test_cc_min_member_convention(spark):
    got = _labels_from_spark(spark, [(7, 3), (3, 9)], [3, 7, 9])
    assert got == {3: 3, 7: 3, 9: 3}


def test_cc_unconverged_raises_instead_of_silent_partial_labels(spark, monkeypatch):
    """Exhausting the round bound before the edge set stabilizes must fail
    loudly: labels from a still-evolving edge set silently split true
    components across cluster ids and downstream canonical selection keeps
    multiple 'representatives' per cluster with no signal anything went
    wrong."""
    monkeypatch.setattr(cc, "_LOCAL_MAX_EDGES", -1)  # only the loop iterates
    chain = [(i, i + 1) for i in range(1, 9)]
    e = spark.createDataFrame(chain, "src long, dst long")
    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="did not converge"):
        m.setattr(cc, "_MAX_ROUNDS", 1)
        connected_components(e)
    # the same graph converges fine with the default budget
    got = _labels_from_spark(spark, chain, list(range(1, 10)))
    assert set(got.values()) == {1}


def test_cc_empty_edges(spark):
    e = spark.createDataFrame([], "src long, dst long")
    v = spark.createDataFrame([(1,), (2,)], "id long")
    got = {r["id"]: r["cluster_id"] for r in connected_components(e, vertices=v).collect()}
    assert got == {1: 1, 2: 2}


def test_driver_path_bound(spark, monkeypatch):
    """At the bound the driver labels the edges and no round runs; one
    distinct edge over it, the star loop runs and reports its rounds."""
    monkeypatch.setattr(cc, "_LOCAL_MAX_EDGES", 3)
    at_bound = [(1, 2), (2, 3), (3, 4), (1, 2), (5, 5)]  # 3 distinct non-loop edges
    over = at_bound + [(4, 5)]
    for edges, loops in ((at_bound, False), (over, True)):
        rounds = []
        e = spark.createDataFrame(edges, "src long, dst long")
        got = connected_components(e, on_iteration=lambda it, n: rounds.append(n))
        assert {r["id"]: r["cluster_id"] for r in got.collect()} == union_find_oracle(
            [(s, d) for s, d in edges if s != d]
        )
        assert bool(rounds) == loops


def _session_state(spark):
    return (
        spark.conf.get("spark.sql.shuffle.partitions"),
        spark.sparkContext._jsc.sc().getCheckpointDir().toString(),
    )


def test_reliable_loop_writes_round_files_and_no_session_state(spark, tmp_path, monkeypatch):
    """A reliable star loop keeps its rounds as parquet under the caller's
    dir, leaves only the last round (the one its labels read) once it
    finishes, and reads or writes no session setting on the way."""
    monkeypatch.setattr(cc, "_LOCAL_MAX_EDGES", -1)
    edges = SHAPES["long_path"] + SHAPES["two_cliques_bridged"]
    e = spark.createDataFrame(edges, "src long, dst long")
    with pytest.raises(ValueError, match="checkpoint_dir"):
        connected_components(e, reliable=True)
    before = _session_state(spark)
    rounds = []
    ckpt = str(tmp_path / "ckpt")
    got = connected_components(
        e, reliable=True, checkpoint_dir=ckpt, on_iteration=lambda it, n: rounds.append(n)
    )
    assert _session_state(spark) == before
    assert os.listdir(ckpt) == [f"r{len(rounds)}"]
    assert {r["id"]: r["cluster_id"] for r in got.collect()} == union_find_oracle(edges)


# --- property-based: random graphs vs the union-find oracle ----------------

try:
    from hypothesis import given, settings, strategies as st

    _edge = st.tuples(st.integers(0, 40), st.integers(0, 40))

    @given(edges=st.lists(_edge, min_size=0, max_size=120))
    @settings(max_examples=10, deadline=None)
    def test_cc_matches_union_find_random(spark_global, edges):
        """Any random multigraph (self-loops, duplicates, reversed edges
        included by construction) must label identically to union-find."""
        vertices = sorted({x for e in edges for x in e} | {777})
        if not edges:
            edges = [(777, 777)]
        got = _labels_from_spark(spark_global, edges, vertices or [777])
        oracle = union_find_oracle(edges, vertices or [777])
        assert got == oracle

    import pytest as _pytest

    @_pytest.fixture(scope="module")
    def spark_global(spark):
        # hypothesis re-enters the test many times; reuse the session fixture
        return spark

except ImportError:  # pragma: no cover - hypothesis is in the toolchain
    pass
