"""Self-tests of the benchmark's own arithmetic, generators and checks.
No JVM is started. Run: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import datagen  # noqa: E402
from measure import (  # noqa: E402
    Tracer,
    Verifier,
    failed_ratio,
    self_times,
    union_length,
    write_amplification,
)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps span 1
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # runs past its parent
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10 - 5 - 1)  # children cover [1,6] and [9,10]
    assert got[1] == pytest.approx(3 - 1)
    assert got[2] == pytest.approx(3)
    assert got[3] == pytest.approx(1)
    assert got[4] == pytest.approx(3)


def test_tracer_records_parents_and_ops_only_when_enabled():
    tr = Tracer(enabled=False)
    with tr.span("op"):
        pass
    assert tr.spans == []
    tr.enabled = True
    for _ in range(2):
        with tr.span("op"):
            with tr.span("operators.build"):
                pass
            with tr.span("operators.exec_fetch"):
                pass
    ops = [s for s in tr.spans if s["name"] == "op"]
    assert [s["parent"] for s in ops] == [None, None]
    for s in tr.spans:
        if s["name"] != "op":
            assert tr.spans[s["parent"]]["name"] == "op"
            assert s["op"] == s["parent"]
    totals = tr.layer_totals()
    assert totals["operators.build"][0] == 2
    calls, own = totals["op"]
    ops_total = sum(s["end"] - s["start"] for s in ops)
    assert calls == 2 and 0 <= own <= ops_total


def test_ratios():
    assert failed_ratio(0, 5) == 0
    assert failed_ratio(1, 4) == 0.25
    with pytest.raises(ValueError):
        failed_ratio(0, 0)
    assert write_amplification(3000, 1000) == 3
    with pytest.raises(ValueError):
        write_amplification(10, 0)


def test_verifier_counts_a_corrupted_result_as_a_failure():
    from scripts.check_parity import canon_frame

    good = pd.DataFrame({"year": [1995, 1996], "avg": [10.5, 11.25]})
    v = Verifier(lambda key: canon_frame(good))
    assert v.check("q", good)  # first result: compared with the oracle
    assert v.check("q", good.copy())  # identical frame: no canon_frame needed
    assert v.check("q", good.iloc[::-1])  # later result: compared with the verified one
    corrupted = good.copy()
    corrupted.loc[0, "avg"] = 10.6
    assert not v.check("q", corrupted)
    assert v.mismatches == ["q"]
    assert not v.check("r", corrupted)  # a first result that misses the oracle


def test_request_counts_mismatch_and_exception_as_failed():
    import workloads

    good = pd.DataFrame({"x": [1]})
    run = workloads.Run(None, "", "", 0, 1.0, False, None, Tracer(enabled=False))
    run.verifier = Verifier(lambda key: (["x"], ["1"]))

    def boom():
        raise RuntimeError("operator failed")

    run.request(lambda: [run.check("k", good)])
    run.request(lambda: [run.check("k", pd.DataFrame({"x": [2]}))])
    run.request(boom)
    run.request(lambda: [run.check("k", good)], timed=False)
    assert (run.attempted, run.failed) == (4, 2)
    assert len(run.latency_ms[False]) == 2
    run.end_round(0)  # a round is the sum of its timed requests
    assert run.round_ms == [pytest.approx(sum(run.latency_ms[False]))]


def _files(tmp_path, seed):
    out = {}
    for name, table in {
        "orders": datagen.orders(seed, 0.002),
        "events": datagen.events(seed, 0.002),
        "update": datagen.orders_update_batch(seed, 3, 3000, 0.05, 300),
    }.items():
        path = tmp_path / f"{seed}-{name}.parquet"
        datagen.write(table, str(path))
        out[name] = path.read_bytes()
    return out


def test_generators_are_deterministic_per_seed(tmp_path):
    first, again, other = _files(tmp_path / "a", 7), _files(tmp_path / "b", 7), _files(tmp_path / "c", 8)
    assert first == again
    assert all(first[k] != other[k] for k in first)


def test_update_batch_has_changed_new_and_duplicate_keys():
    n_keys = 3000
    keys = datagen.orders_update_batch(5, 0, n_keys, 0.05, 300).column("o_orderkey").to_numpy()
    assert (keys < n_keys).sum() == 150 + 15  # changed keys plus in-batch duplicates
    assert sorted(keys[keys >= n_keys]) == list(range(n_keys, n_keys + 30))
    assert len(keys) - len(set(keys)) == 15


def test_zipf_round_composition():
    import workloads

    mix = workloads.zipf_round(("a", "b", "c", "d"), top=6)
    assert [mix.count(k) for k in "abcd"] == [6, 3, 2, 2]


def test_lww_recomputation_matches_python_reference(tmp_path):
    """The DuckDB state the ingest check compares against follows the rule
    io.upsert_by_key documents, here restated in plain Python."""
    import workloads

    base = datagen.orders(1, 0.0005)
    batch = datagen.orders_update_batch(1, 0, base.num_rows, 0.2, 75)
    path = str(tmp_path / "batch.parquet")
    datagen.write(batch, path)
    con = duckdb.connect()
    con.register("base", base)
    con.execute("CREATE TABLE expected AS SELECT * FROM base")
    workloads._apply_lww(con, path)
    got = con.execute("SELECT * FROM expected ORDER BY o_orderkey").fetchdf()

    payload = [c for c in batch.column_names if c != "o_orderkey"]
    state = {r["o_orderkey"]: r for r in base.to_pylist()}
    winners: dict[int, dict] = {}
    for r in batch.to_pylist():
        k = r["o_orderkey"]
        if k not in winners or [r[c] for c in payload] > [winners[k][c] for c in payload]:
            winners[k] = r
    state.update(winners)
    want = pd.DataFrame([state[k] for k in sorted(state)])
    assert len(got) == len(want)
    for c in batch.column_names:
        assert list(got[c]) == list(want[c]), c
    assert pq.read_table(path).num_rows == batch.num_rows
