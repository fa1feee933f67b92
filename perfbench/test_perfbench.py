"""Self-tests for the benchmark (no Spark session needed).

Run from the repository root:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [p for p in (ROOT, HERE) if p not in sys.path]

import numpy as np  # noqa: E402

import gen  # noqa: E402
import harness  # noqa: E402
import spans  # noqa: E402


def _rng(seed: int) -> np.random.Generator:
    return np.random.default_rng(seed)


def _corpus_digest(seed: int) -> tuple[str, list]:
    docs, emb, queries, truth = gen.corpus(_rng(seed), 300, 200, 4, 5)
    digest = gen.table_digest({"d": docs, "e": emb, "q": queries})
    return digest, truth.near_pairs


def _lead_digest(seed: int) -> str:
    tables = gen.lead_tables(_rng(seed), 50)
    return gen.table_digest(
        {
            f"{t.name}_{kind}": tbl
            for t in tables
            for kind, tbl in (("src", t.base), ("cdc", t.changes))
            if tbl is not None
        }
    )


def test_same_seed_same_inputs_other_seed_other_inputs():
    tpch = [gen.table_digest(gen.tpch_tables(_rng(s), 0.001)) for s in (7, 7, 8)]
    assert tpch[0] == tpch[1] != tpch[2]
    corpus = [_corpus_digest(s) for s in (7, 7, 8)]
    assert corpus[0] == corpus[1] and corpus[0][0] != corpus[2][0]
    leads = [_lead_digest(s) for s in (7, 7, 8)]
    assert leads[0] == leads[1] != leads[2]


def test_corpus_truth_is_consistent():
    docs, _, _, truth = gen.corpus(_rng(3), 400, 100, 2, 5)
    assert docs.num_rows == truth.n_docs
    assert truth.gopher_pass > truth.exact_survivors > truth.near_dup_survivors
    assert all(a < b for a, b in truth.near_pairs)
    assert len({x for pair in truth.near_pairs for x in pair}) == 2 * len(truth.near_pairs)


def test_lead_change_set_truth_is_disjoint():
    for t in gen.lead_tables(_rng(5), 200):
        if t.changes is None:
            continue
        groups = [t.updated, t.inserted, t.deleted, t.stale]
        assert sum(len(g) for g in groups) == len(set().union(*groups))
        base = set(t.base.column(t.key).to_pylist())
        assert t.updated | t.deleted | t.stale <= base
        assert not t.inserted & base


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_and_units_match_benchmark_json():
    bj = _bench_json()
    assert {m["name"]: m["unit"] for m in bj["end_to_end"]} == harness.END_TO_END
    assert {m["name"]: m["unit"] for m in bj["per_layer"]} == harness.PER_LAYER
    import workloads

    assert sorted(w["name"] for w in bj["workloads"]) == sorted(workloads.WORKLOADS)


class _FakeCatalog:
    def clearCache(self) -> None:
        pass


class _FakeSpark:
    catalog = _FakeCatalog()


class _FakeWorkload(harness.Workload):
    name = "fake"

    def warmup(self, spark) -> None:
        pass

    def run_pass(self, p: harness.Pass) -> None:
        p.op("a", lambda: sum(range(1000)))
        with p.layer_span("plans.build"):
            p.op("b", lambda: sum(range(2000)))


class _FakeProbe:
    def __init__(self, spark) -> None:
        pass

    def begin(self, name: str) -> str:
        return name

    def end(self, group: str, wall) -> dict:
        return dict.fromkeys(spans.SPARK_FIELDS, 1.0)


def test_every_printed_metric_is_declared(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(harness, "StageProbe", _FakeProbe)
    bj = _bench_json()
    for trace, declared in ((False, bj["end_to_end"]), (True, bj["per_layer"])):
        w = _FakeWorkload(str(tmp_path), str(tmp_path), 1)
        result, detail = harness.run(
            w, _FakeSpark, lambda s: None, 0.01, trace,
            str(tmp_path / "trace.json"),
        )
        harness.emit(result, detail)
        last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert set(last) == {"correct", "attempted", "failed", "metrics"}
        assert last["correct"] is True and last["attempted"] >= 1
        assert set(last["metrics"]) == {m["name"] for m in declared}
        for m in declared:
            assert last["metrics"][m["name"]]["unit"] == m["unit"]
    assert os.path.exists(tmp_path / "trace.json")


def test_span_self_time_is_duration_minus_children_cover():
    t = spans.Tracer(True)
    # parent [0, 10]; children [1, 4] and [3, 6] overlap, [8, 12] runs
    # past the parent's end: they cover 5 + 2 = 7 of the parent
    t.spans = [
        spans.Span(0, "parent", 0.0, 10.0, None, 1),
        spans.Span(1, "c1", 1.0, 4.0, 0, 1),
        spans.Span(2, "c2", 3.0, 6.0, 0, 1),
        spans.Span(3, "c3", 8.0, 12.0, 0, 1),
        spans.Span(4, "grandchild", 1.5, 2.0, 1, 1),
    ]
    assert t.self_time(t.spans[0]) == 3.0
    assert t.self_time(t.spans[1]) == 2.5
    assert t.self_time(t.spans[2]) == 3.0


def test_recorded_spans_nest_and_share_operation_ids():
    t = spans.Tracer(True)
    with t.span("op1", op=True):
        with t.span("layer"):
            pass
    with t.span("op2", op=True):
        pass
    op1, layer, op2 = t.spans
    assert layer.parent == op1.id and layer.op == op1.op != op2.op
    assert t.self_time(op1) == op1.duration - layer.duration
    off = spans.Tracer(False)
    with off.span("x", op=True):
        pass
    assert off.spans == []


class _StealMeter:
    """External load readings: the first pass is contended."""

    readings = [0.9, 0.1]

    def start(self) -> None:
        pass

    def stop(self) -> tuple[float, float]:
        return self.readings.pop(0), 1.0


def test_contended_pass_is_run_again(tmp_path, monkeypatch):
    monkeypatch.setattr(harness, "ExtMeter", _StealMeter)
    starts = []

    def start():
        starts.append(1)
        return _FakeSpark()

    w = _FakeWorkload(str(tmp_path), str(tmp_path), 1)
    result, detail = harness.run(w, start, lambda s: None, 0.0, False, "")
    assert [p["ext_cores"] for p in detail["contended_passes"]] == [0.9]
    assert [p["ext_cores"] for p in detail["passes"]] == [0.1]
    # one set-up per pass
    assert len(starts) == len(detail["setups"]) == 2
    assert result["attempted"] == 4 and result["failed"] == 0


def test_oracle_compare_ignores_row_order_and_catches_values():
    import duckdb
    import pyarrow as pa

    import workloads

    sql = "SELECT * FROM (VALUES (1, 0.1::DOUBLE + 0.2::DOUBLE, 'a'), (2, NULL, 'b')) t(k, x, s)"
    with duckdb.connect() as con:
        same = pa.table({"s": ["b", "a"], "k": [2, 1], "x": [None, 0.3]})
        assert workloads.compare_to_oracle(con, sql, same) is None
        off = pa.table({"s": ["b", "a"], "k": [2, 1], "x": [None, 0.31]})
        assert workloads.compare_to_oracle(con, sql, off) == "values differ in 1/2 rows"
        assert workloads.compare_to_oracle(con, sql, off.slice(1)) == "rowcount 1 vs 2"
        assert workloads.compare_to_oracle(con, sql, off.drop(["x"])).startswith("columns")
