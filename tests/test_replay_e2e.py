"""Golden end-to-end replay: deterministic CDC stream → engine → oracle
(SURVEY.md §5.2).  The per-row invariant is per-turn text equality under
stable (conv_id, turn_idx) ordering (BASELINE.json input_hint)."""

from __future__ import annotations

import os

from conftest import assert_pdf_equal

from event_driven_etl_msc_research_spark import CDCEngine
from event_driven_etl_msc_research_spark.datagen import (
    ChangeStreamSpec,
    generate_change_stream,
)
from event_driven_etl_msc_research_spark.oracle import oracle_final_state
from event_driven_etl_msc_research_spark.schemas import CHANGE_EVENT_SCHEMA_EVOLVED

COLS = ["conv_id", "turn_idx", "role", "text", "tool", "tool_meta", "ts"]


def test_golden_replay_matches_oracle(spark, tmp_root):
    spec = ChangeStreamSpec(
        n_events=10_000,
        n_convs=200,
        segment_size=1_000,
        seed=42,
        dup_segments=(1, 4),  # whole-segment duplicate deliveries
    )
    gen = generate_change_stream(os.path.join(tmp_root, "log"), spec)
    assert len(gen.segment_paths) == 12  # 10 segments + 2 duplicates

    eng = CDCEngine(
        spark,
        os.path.join(tmp_root, "table"),
        change_schema=CHANGE_EVENT_SCHEMA_EVOLVED,
        n_buckets=8,
    )
    eng.replay(
        os.path.join(tmp_root, "log"),
        os.path.join(tmp_root, "cp"),
        max_files_per_trigger=3,
    )
    got = eng.read_table().orderBy("conv_id", "turn_idx").toPandas()
    exp = oracle_final_state(spec)
    assert_pdf_equal(got, exp, COLS)

    # replaying the ENTIRE log again as a fresh batch epoch is a no-op on
    # state (max-version idempotence, not just epoch-id dedup)
    r = eng.apply_batch_once(os.path.join(tmp_root, "log"), epoch_id=10_001)
    assert r["status"] == "Success"
    got2 = eng.read_table().orderBy("conv_id", "turn_idx").toPandas()
    assert_pdf_equal(got2, exp, COLS)


def test_lineage_and_metrics_recorded(spark, tmp_root):
    spec = ChangeStreamSpec(n_events=2_000, n_convs=50, segment_size=500, seed=1)
    generate_change_stream(os.path.join(tmp_root, "log"), spec)
    eng = CDCEngine(
        spark,
        os.path.join(tmp_root, "table"),
        change_schema=CHANGE_EVENT_SCHEMA_EVOLVED,
        n_buckets=4,
    )
    eng.replay(
        os.path.join(tmp_root, "log"),
        os.path.join(tmp_root, "cp"),
        max_files_per_trigger=2,
    )
    lin = eng.lineage.lineage().toPandas()
    assert (lin["status"] == "Success").all()
    assert lin["epoch_id"].nunique() >= 3  # 5 segments / 2 per trigger
    rep = eng.metrics_report().toPandas()
    assert rep.loc[rep["stage"] == "merge", "n_epochs"].iloc[0] >= 3
    # chunk-registry rows: per-(epoch, bucket) counts, all positive
    reg = eng.lineage.chunk_registry().toPandas()
    assert (reg["n_records"] > 0).all()
    assert set(reg["stage"]) == {"merge"}


def test_progress_listener_records_engine_metrics(spark, tmp_root):
    """SURVEY §2 S15/A4: Spark's StreamingQueryListener feeds per-batch
    source/trigger metrics (input rows, rates, durations) into the lineage
    log alongside the engine's own merge rows."""
    import json

    log_dir = os.path.join(tmp_root, "wal")
    spec = ChangeStreamSpec(
        n_events=2_000, n_convs=30, segment_size=500, seed=9, dup_segments=()
    )
    generate_change_stream(log_dir, spec)
    eng = CDCEngine(
        spark, os.path.join(tmp_root, "table"),
        change_schema=CHANGE_EVENT_SCHEMA_EVOLVED, n_buckets=4,
    )
    eng.replay(log_dir, os.path.join(tmp_root, "cp"), max_files_per_trigger=2)

    lin = eng.lineage.lineage().toPandas()
    prog = lin[lin["stage"] == "progress"]
    assert len(prog) >= 2  # one row per micro-batch
    total_input = 0
    for d in prog["detail"]:
        payload = json.loads(d)
        assert {"numInputRows", "durationMs"} <= set(payload)
        total_input += int(payload["numInputRows"])
    assert total_input == spec.n_events


def test_progress_duration_is_trigger_wall_time(spark, tmp_root):
    """A ``progress`` row's duration is the trigger's own wall time
    (``triggerExecution``), which already contains every other
    ``durationMs`` phase.  Summed over the triggers it therefore cannot
    exceed the replay's wall time."""
    import json
    import time

    import pytest

    log_dir = os.path.join(tmp_root, "wal")
    spec = ChangeStreamSpec(
        n_events=2_000, n_convs=30, segment_size=500, seed=9, dup_segments=()
    )
    generate_change_stream(log_dir, spec)
    eng = CDCEngine(
        spark, os.path.join(tmp_root, "table"),
        change_schema=CHANGE_EVENT_SCHEMA_EVOLVED, n_buckets=4,
    )
    t0 = time.monotonic()
    eng.replay(log_dir, os.path.join(tmp_root, "cp"), max_files_per_trigger=2)
    wall = time.monotonic() - t0

    lin = eng.lineage.lineage().toPandas()
    prog = lin[lin["stage"] == "progress"]
    assert len(prog) >= 2
    for d, got in zip(prog["detail"], prog["duration_s"]):
        want = json.loads(d)["durationMs"]["triggerExecution"] / 1000.0
        assert got == pytest.approx(want)
    assert prog["duration_s"].sum() <= wall


def test_parquet_wal_replay_matches_oracle(spark, tmp_root):
    """The changelog source's parquet segment format (the realistic WAL
    encoding at scale — columnar segments instead of JSONL) replays to the
    identical final state."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    spec = ChangeStreamSpec(
        n_events=4_000, n_convs=50, segment_size=1_000, seed=13, dup_segments=()
    )
    json_dir = os.path.join(tmp_root, "wal_json")
    gen = generate_change_stream(json_dir, spec)
    pq_dir = os.path.join(tmp_root, "wal_pq")
    os.makedirs(pq_dir)
    for p in gen.segment_paths:
        pdf = pd.read_json(p, lines=True, convert_dates=["ts"])
        pdf["ts"] = pd.to_datetime(pdf["ts"], utc=True)
        cols = ["op", "lsn", "ts", "conv_id", "turn_idx", "role", "text",
                "tool", "tool_meta"]
        for c in cols:
            if c not in pdf.columns:
                pdf[c] = None
        # exact physical types of the change schema: us-precision UTC
        # timestamps (pandas' ns default lands as TIMESTAMP(NANOS), which
        # Spark's TimestampType rejects) and int32 turn_idx
        arrow_schema = pa.schema(
            [
                pa.field("op", pa.string()),
                pa.field("lsn", pa.int64()),
                pa.field("ts", pa.timestamp("us", tz="UTC")),
                pa.field("conv_id", pa.string()),
                pa.field("turn_idx", pa.int32()),
                pa.field("role", pa.string()),
                pa.field("text", pa.string()),
                pa.field("tool", pa.string()),
                pa.field("tool_meta", pa.string()),
            ]
        )
        table = pa.Table.from_pandas(
            pdf[cols], preserve_index=False
        ).cast(arrow_schema)
        pq.write_table(
            table,
            os.path.join(pq_dir, os.path.basename(p).replace(".jsonl", ".parquet")),
        )

    eng = CDCEngine(
        spark, os.path.join(tmp_root, "table_pq"),
        change_schema=CHANGE_EVENT_SCHEMA_EVOLVED, n_buckets=8,
    )
    eng.replay(pq_dir, os.path.join(tmp_root, "cp_pq"), fmt="parquet",
               max_files_per_trigger=2)
    got = eng.read_table().orderBy("conv_id", "turn_idx").toPandas()
    assert_pdf_equal(got, oracle_final_state(spec), COLS)
