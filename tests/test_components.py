"""Connected components vs a union-find oracle (SURVEY.md §7 stage 4)."""

from __future__ import annotations

import random

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from osm_wikidata_spark.operators.components import connected_components


def _union_find(edges: list[tuple]) -> dict:
    parent: dict = {}

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
    # canonicalise: min element of each set
    return {x: find(x) for x in parent}


def _check(spark, edges: list[tuple], id_type: str = "string") -> None:
    df = spark.createDataFrame(edges, f"left_id {id_type}, right_id {id_type}")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    # self-loop-only nodes are not in the output
    want = _union_find([(a, b) for a, b in edges if a != b])
    assert got == want


def test_chain(spark):
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(20)]
    _check(spark, edges)


def test_star_and_islands(spark):
    edges = [("hub", f"leaf{i}") for i in range(10)]
    edges += [("iso1", "iso2"), ("x1", "x2"), ("x2", "x3")]
    _check(spark, edges)


def test_random_graphs(spark):
    rng = random.Random(42)
    nodes = [f"v{i:03d}" for i in range(60)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes))
        for _ in range(70)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges)


_CHAIN = [(i, i + 1) for i in range(40)]
_DUPS = [(1, 2), (2, 1), (1, 2), (3, 4), (4, 3), (2, 5), (5, 2)]


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    id_type=st.sampled_from(["bigint", "string"]),
    edges=st.lists(st.tuples(st.integers(0, 30), st.integers(0, 30)), max_size=40),
)
@example(id_type="bigint", edges=[])
@example(id_type="string", edges=[])
@example(id_type="bigint", edges=[(1, 1), (2, 2)])
@example(id_type="string", edges=[(1, 1), (2, 2)])
@example(id_type="bigint", edges=_DUPS)
@example(id_type="string", edges=_DUPS)
@example(id_type="bigint", edges=_CHAIN)
@example(id_type="string", edges=_CHAIN)
def test_differential_over_id_types(spark, id_type, edges):
    """Labels equal union-find's over long and string ids, including empty
    input, self-loop-only input, duplicates in both orientations and a
    41-node chain that needs several rounds."""
    if id_type == "string":
        # zero-padded so string order matches numeric order
        edges = [(f"n{a:03d}", f"n{b:03d}") for a, b in edges]
    _check(spark, edges, id_type)


def test_non_convergence_raises(spark):
    """Running out of rounds before a star forest must not return split
    components (a silent recall loss)."""
    edges = [(i, i + 1) for i in range(19)]
    df = spark.createDataFrame(edges, "left_id bigint, right_id bigint")
    with pytest.raises(RuntimeError, match="star forest"):
        connected_components(df, max_iterations=1).collect()


def test_job_count_disjoint_triangles(spark):
    """Job-ledger pin: one round reaches the star forest, its aggregate
    decides that and carries the labels, and reading them is one more
    job."""
    from tests.conftest import count_jobs

    edges = [
        e
        for k in range(100)
        for e in ((3 * k, 3 * k + 1), (3 * k + 1, 3 * k + 2), (3 * k, 3 * k + 2))
    ]
    df = spark.createDataFrame(edges, "left_id bigint, right_id bigint")
    assert count_jobs(spark, lambda: connected_components(df).collect()) == 7


def test_lazy_input_computed_once(spark):
    """Large-star reads its input twice; the input checkpoint keeps a lazy
    upstream (pair generation, scoring UDFs) from running twice."""
    sc = spark.sparkContext
    calls = sc.accumulator(0)

    def tap(x):
        calls.add(1)
        return x

    # nondeterministic, so the self-loop filter is not pushed below it
    # (a pushed-down copy would evaluate it a second time)
    tapped = F.udf(tap, "bigint").asNondeterministic()
    edges = [(i, i + 1) for i in range(0, 60, 2)]
    df = spark.createDataFrame(edges, "a bigint, b bigint").select(
        tapped("a").alias("left_id"), F.col("b").alias("right_id")
    )
    connected_components(df).collect()
    assert calls.value == len(edges)


def test_self_loops_and_duplicates(spark):
    edges = [("a", "a"), ("a", "b"), ("b", "a"), ("a", "b"), ("c", "c")]
    df = spark.createDataFrame(edges, "left_id string, right_id string")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    # pure self-loop nodes vanish (singletons are the pipeline's concern)
    assert got == {"a": "a", "b": "a"}


def test_incremental_equals_batch(spark):
    """Folding edge batches through incremental_components reproduces the
    full-recompute labels exactly at every step."""
    from osm_wikidata_spark.operators.components import incremental_components

    rng = random.Random(7)
    nodes = [f"v{i:03d}" for i in range(50)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(60)]
    edges = [(a, b) for a, b in edges if a != b]
    batches = [edges[0:20], edges[20:21], edges[21:45], edges[45:]]

    assignments = spark.createDataFrame([], "node string, component string")
    seen: list[tuple[str, str]] = []
    for batch in batches:
        if not batch:
            continue
        seen += batch
        bdf = spark.createDataFrame(batch, "left_id string, right_id string")
        assignments = incremental_components(assignments, bdf).localCheckpoint()
        got = {r["node"]: r["component"] for r in assignments.collect()}
        full = spark.createDataFrame(seen, "left_id string, right_id string")
        want = {
            r["node"]: r["component"] for r in connected_components(full).collect()
        }
        assert got == want


def test_incremental_merges_two_old_components(spark):
    """A single new edge joining two established components relabels every
    member of the losing component — and nothing else."""
    from osm_wikidata_spark.operators.components import incremental_components

    first = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q")],
        "left_id string, right_id string",
    )
    assignments = connected_components(first)
    bridge = spark.createDataFrame([("c", "x")], "left_id string, right_id string")
    got = {
        r["node"]: r["component"]
        for r in incremental_components(assignments, bridge).collect()
    }
    assert got == {
        "a": "a", "b": "a", "c": "a", "x": "a", "y": "a", "p": "p", "q": "p"
    }


def test_components_at_thresholds_ladder(spark):
    from pyspark.sql import functions as F

    from osm_wikidata_spark.operators.components import components_at_thresholds

    # chain a-b-c with weights 0.9, 0.5; d isolated via a weak 0.1 edge
    edges = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.5), (3, 4, 0.1)],
        "left_id bigint, right_id bigint, weight double",
    )
    out = components_at_thresholds(edges, [0.95, 0.5, 0.05])
    by_t = {}
    for r in out.collect():
        by_t.setdefault(r["threshold"], {})[r["node"]] = r["component"]
    # fixed node universe at every threshold
    assert all(set(m) == {1, 2, 3, 4} for m in by_t.values())
    # 0.95: nothing survives → all singletons
    assert by_t[0.95] == {1: 1, 2: 2, 3: 3, 4: 4}
    # 0.5: {1,2,3} merge, 4 singleton
    assert by_t[0.5] == {1: 1, 2: 1, 3: 1, 4: 4}
    # 0.05: everything merges
    assert by_t[0.05] == {1: 1, 2: 1, 3: 1, 4: 1}
    # monotone refinement: clusters only merge as the threshold drops
    for hi, lo in ((0.95, 0.5), (0.5, 0.05)):
        for a in (1, 2, 3, 4):
            for b in (1, 2, 3, 4):
                if by_t[hi][a] == by_t[hi][b]:
                    assert by_t[lo][a] == by_t[lo][b]


def test_components_at_thresholds_rejects_empty(spark):
    import pytest as _pytest

    from osm_wikidata_spark.operators.components import components_at_thresholds

    edges = spark.createDataFrame([(1, 2, 0.5)], "left_id long, right_id long, weight double")
    with _pytest.raises(ValueError):
        components_at_thresholds(edges, [])


def test_checkpoint_off_on_converged_star_forest(spark):
    """checkpoint=False is documented as safe ONLY for ~1-round graphs
    (the uncut star passes grow the plan exponentially per round): pin
    it on its safe shape — an already-canonical star forest, where it
    must equal the checkpointed result.  Multi-round graphs under
    checkpoint=False are a documented planning hazard, not a supported
    path (components.py docstring)."""
    edges = [("a0", f"a{i}") for i in range(1, 6)] + [
        ("b0", f"b{i}") for i in range(1, 4)
    ]
    df = spark.createDataFrame(edges, "left_id string, right_id string")
    on = {r["node"]: r["component"] for r in connected_components(df).collect()}
    off = {
        r["node"]: r["component"]
        for r in connected_components(df, checkpoint=False).collect()
    }
    assert on == off and on == _union_find(edges)
