"""Large-star/small-star connected components: must agree with the
min-label propagation anchor on arbitrary graphs, and converge in
O(log n) rounds on chain topologies where propagation needs diameter
rounds."""

from __future__ import annotations

import random

import pytest

from savio_training_dask_2019_spark.operators import (
    connected_components,
    connected_components_star,
)


def _cc_map(df):
    return {r["id"]: r["cluster_id"] for r in df.collect()}


def _edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_star_matches_propagation_on_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(3):
        n, m = 60, 45
        pairs = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        e = _edges_df(spark, pairs)
        star = _cc_map(connected_components_star(e))
        prop = _cc_map(connected_components(e, max_iter=60))
        assert star == prop, f"trial {trial}"


def test_star_collapses_long_chain_within_log_rounds(spark):
    """A 300-node chain has diameter 299: min-label propagation cannot
    finish inside its default 20-round budget (labels move one hop per
    round — the documented weakness), while the star variant collapses it
    to a single component well inside max_iter=30 ~ O(log n)."""
    chain = [(i, i + 1) for i in range(300)]
    star = _cc_map(connected_components_star(_edges_df(spark, chain)))
    assert set(star.values()) == {0}
    assert len(star) == 301


def test_star_handles_multiple_components_and_duplicates(spark):
    pairs = [(1, 2), (2, 1), (2, 3), (10, 11), (12, 12), (20, 21), (21, 22), (22, 20)]
    star = _cc_map(connected_components_star(_edges_df(spark, pairs)))
    assert star[1] == star[2] == star[3] == 1
    assert star[10] == star[11] == 10
    assert star[20] == star[21] == star[22] == 20
    # self-loop-only node 12 still appears, as its own component
    assert star[12] == 12


def test_propagation_past_its_round_cap_raises(spark):
    """A 60-node chain needs 59 propagation rounds; the default
    ``max_iter=20`` stops short of the fixpoint, where the labels are still
    wrong, so the call raises and names the cap instead of returning
    them."""
    chain = [(i, i + 1) for i in range(59)]
    with pytest.raises(ValueError, match="round cap of 20"):
        connected_components(_edges_df(spark, chain))


def test_iterative_rounds_release_checkpoint_blocks(spark):
    """Dataset.unpersist() is a no-op on localCheckpoint-ed frames, so the
    loops free superseded rounds through the RDD registry — after a
    multi-round run, at most the FINAL round's checkpoint (plus nothing
    per intermediate round) may remain registered; a run that raises at
    its round cap leaves nothing registered."""
    sc = spark.sparkContext
    chain = [(i, i + 1) for i in range(300)]  # forces many star rounds

    def registered():
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    before = registered()
    out = connected_components_star(_edges_df(spark, chain))
    out.count()  # materialize through the final checkpoint
    leaked = registered() - before
    # the final round's checkpoint legitimately backs the returned
    # frame; anything beyond that is a leaked intermediate round
    assert len(leaked) <= 1, sorted(leaked)

    before = registered()
    with pytest.raises(ValueError, match="round cap of 8"):
        connected_components(_edges_df(spark, chain), max_iter=8)
    assert registered() - before == set()
