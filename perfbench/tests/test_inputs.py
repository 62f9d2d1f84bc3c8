"""The benchmark's inputs are a pure function of the seed."""

import pandas as pd
import pytest

from perfbench import checks, inputs

DF = {f"t{i}": d for i, d in enumerate([1000, 990, 700, 300, 120, 40, 9, 5, 3, 2, 2, 1])}


def test_same_seed_same_queries_slices_and_dml_keys():
    for seed in (0, 7, 123456):
        assert inputs.query_stream(seed, DF, 1000, 50) == inputs.query_stream(seed, DF, 1000, 50)
        assert inputs.chunk_slice(seed, 8, "s") == inputs.chunk_slice(seed, 8, "s")
        a, b = inputs.DmlScript(seed, 500), inputs.DmlScript(seed, 500)
        for _ in range(9):
            x, y = a.next_op(), b.next_op()
            assert x["kind"] == y["kind"] and x["keys"] == y["keys"]
            if "rows" in x:
                pd.testing.assert_frame_equal(x["rows"], y["rows"])
        pd.testing.assert_frame_equal(inputs.orders_table(seed, 50), inputs.orders_table(seed, 50))


def test_other_seed_other_inputs():
    assert inputs.query_stream(1, DF, 1000, 50) != inputs.query_stream(2, DF, 1000, 50)
    assert inputs.chunk_slice(1, 8, "s") != inputs.chunk_slice(3, 8, "s")
    assert inputs.DmlScript(1, 500).next_op()["keys"] != inputs.DmlScript(2, 500).next_op()["keys"]
    assert not inputs.orders_table(1, 50).equals(inputs.orders_table(2, 50))


def test_query_shapes_draw_from_their_strata():
    strata = inputs.df_strata(DF, 1000)
    assert strata["head"] == ["t0", "t1", "t2"] and "t11" not in sum(strata.values(), [])
    qs = inputs.query_stream(5, DF, 1000, 2 * len(inputs.QUERY_SHAPES))
    for i, q in enumerate(qs):
        shape = inputs.QUERY_SHAPES[i % len(inputs.QUERY_SHAPES)]
        terms = q.split()
        assert len(terms) == len(shape)
        assert all(t in strata[s] for t, s in zip(terms, shape))


def test_chunk_slice_is_a_run_inside_the_pool():
    for seed in range(20):
        s = inputs.chunk_slice(seed, 24, "x")
        assert s == list(range(s[0], s[0] + 24)) and 0 <= s[0] <= inputs.POOL_CHUNKS - 24
    with pytest.raises(ValueError):
        inputs.chunk_slice(0, inputs.POOL_CHUNKS + 1, "x")


def test_dml_script_keeps_the_table_size_and_replays():
    table = inputs.orders_table(3, 300)
    script, replay = inputs.DmlScript(3, 300, keys_per_op=7), checks.DmlReplay(table, "o_orderkey")
    sums = {replay.checksum(inputs.ORDERS_COLUMNS)}
    for i in range(12):
        op = script.next_op()
        assert replay.apply(op) == len(op["keys"])
        n, s = replay.checksum(inputs.ORDERS_COLUMNS)
        assert n == (293 if op["kind"] == "delete" else 300)
        assert sorted(replay.t["o_orderkey"]) == sorted(script.keys)
        sums.add((n, s))
    assert len(sums) == 13  # every op changed the table
