"""Smoke-size self-test of the benchmark.

    python3 -m pytest perfbench/ -q

Each workload runs end to end at a few hundred events per segment, traced,
and must print exactly the metric names and units ``BENCHMARK.json``
declares.  The oracle gate must reject a table with one row's ``text``
altered.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import gate, metrics, run, workloads

HERE = os.path.dirname(os.path.abspath(__file__))


def _declared(section: str) -> dict[str, str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = workloads.plain_session(str(tmp_path_factory.mktemp("spark-local")))
    yield s
    run.stop_spark(s)


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_workload_prints_every_metric(spark, tmp_path, workload):
    result = run.run(workload, seed=3, seconds=16, trace=True,
                     work=str(tmp_path), smoke=True, spark=spark)
    result.pop("tracer")
    for trace, section in ((False, "end_to_end"), (True, "per_layer")):
        line = json.loads(run.summary_line(result, trace))
        assert line["correct"] is True
        assert line["failed"] == 0 and line["attempted"] >= 1
        got = {k: v["unit"] for k, v in line["metrics"].items()}
        assert got == _declared(section)
        assert all(isinstance(v["value"], (int, float))
                   for v in line["metrics"].values())
    table = metrics.format_table(result["spans"], result["layer"])
    assert "engine.apply_batch" in table and "stream.add_batch" in table


def test_gate_rejects_corrupted_table(spark, tmp_path):
    from event_driven_etl_msc_research_spark.datagen import generate_change_stream
    from event_driven_etl_msc_research_spark.streaming.engine import CDCEngine

    spec = workloads.stream_spec("tail_10k", seed=5, seconds=16, smoke=True)
    wal, oracle_path = str(tmp_path / "wal"), str(tmp_path / "oracle.parquet")
    generate_change_stream(wal, spec)
    oracle = gate.oracle_frame(spec)
    gate.save_oracle(oracle, oracle_path)
    engine = CDCEngine(spark, str(tmp_path / "t"), **workloads.DEPLOYED)
    engine.replay(wal, str(tmp_path / "cp"), max_files_per_trigger=1)
    assert gate.check_snapshot(spark, engine.table, oracle_path) == len(oracle)

    row = oracle.iloc[len(oracle) // 2]
    engine.table.update_where(
        f"conv_id = '{row.conv_id}' AND turn_idx = {row.turn_idx}",
        {"text": "'corrupted'"}, epoch_id=0,
    )
    with pytest.raises(gate.GateMismatch):
        gate.check_snapshot(spark, engine.table, oracle_path)
    point = engine.table.read(where={"conv_id": (row.conv_id, row.conv_id)})
    with pytest.raises(gate.GateMismatch):
        gate.check_answers(
            [("point", row.conv_id, gate.normalise("point", point))], oracle)
