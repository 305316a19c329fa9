"""Output gates: the engine's answers against the in-memory oracle.

Every comparison runs on ``(conv_id, turn_idx, role, text, tool, ts)`` with
``ts`` as integer epoch seconds, so the result does not depend on the
session time zone.  A mismatch raises :class:`GateMismatch`.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

COLS = ["conv_id", "turn_idx", "role", "text", "tool"]


class GateMismatch(AssertionError):
    pass


def oracle_frame(spec) -> pd.DataFrame:
    """``oracle.oracle_final_state(spec)`` on the compared columns, sorted."""
    from event_driven_etl_msc_research_spark.oracle import oracle_final_state

    o = oracle_final_state(spec)
    out = o[COLS].copy()
    out["turn_idx"] = out["turn_idx"].astype("int64")
    out["ts"] = (o["ts"] - pd.Timestamp(0, tz="UTC")) // pd.Timedelta(seconds=1)
    return out.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def save_oracle(frame: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), path)


def load_oracle(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def _rows(df) -> list[tuple]:
    """Collect a table DataFrame as sorted comparable tuples."""
    from pyspark.sql import functions as F

    rows = df.select(*COLS, F.col("ts").cast("long").alias("ts")).collect()
    return sorted(tuple(r) for r in rows)


def _expect(frame: pd.DataFrame) -> list[tuple]:
    return sorted(
        (r.conv_id, int(r.turn_idx), r.role, r.text,
         None if pd.isna(r.tool) else r.tool, int(r.ts))
        for r in frame.itertuples(index=False)
    )


def _fingerprint(df):
    """Row count and two independent sums of per-row hashes: equal
    fingerprints mean equal row multisets (up to a double 64/32-bit hash
    collision), at the cost of one aggregation per side."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in COLS + ["ts"]]
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
        F.sum(F.hash(*cols).cast("decimal(38,0)")),
    ).collect()[0]
    return tuple(row)


def check_snapshot(spark, table, oracle_path: str) -> int:
    """The table's snapshot equals the oracle row for row.  Returns the
    number of rows compared."""
    from pyspark.sql import functions as F

    got = table.read().select(*COLS, F.col("ts").cast("long").alias("ts"))
    exp = spark.read.parquet(oracle_path).select(
        *[F.col(c).cast(t).alias(c) for c, t in zip(
            COLS + ["ts"], ["string", "int", "string", "string", "string",
                            "long"])]
    )
    fg, fe = _fingerprint(got), _fingerprint(exp)
    if fg != fe:
        extra = got.exceptAll(exp).limit(3).collect()
        missing = exp.exceptAll(got).limit(3).collect()
        raise GateMismatch(
            f"snapshot differs from oracle ({fg[0]} rows vs {fe[0]}): "
            f"unexpected rows {extra}, missing rows {missing}"
        )
    return fe[0]


def to_epoch_s(v) -> int | None:
    """A ``min_max`` bound as epoch seconds (naive values are UTC)."""
    if v is None:
        return None
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        return int(v.timestamp())
    return int(pd.Timestamp(v).timestamp())


def expected(op: str, arg, oracle: pd.DataFrame):
    """The pandas answer to one read operation."""
    if op == "point":
        return _expect(oracle[oracle["conv_id"] == arg])
    if op == "window":
        lo, hi = arg
        return _expect(oracle[(oracle["ts"] >= lo) & (oracle["ts"] <= hi)])
    if op == "count":
        return len(oracle)
    if op == "min_max":
        return (int(oracle["ts"].min()), int(oracle["ts"].max()))
    return None  # scan: forced read, no answer


def normalise(op: str, answer):
    if op in ("point", "window"):
        return _rows(answer)
    if op == "min_max":
        return tuple(to_epoch_s(v) for v in answer)
    return answer


def check_answers(answers: list[tuple], oracle: pd.DataFrame) -> int:
    """``answers``: ``(op, arg, normalised_answer)`` per operation."""
    for op, arg, got in answers:
        exp = expected(op, arg, oracle)
        if exp is not None and got != exp:
            shown = got if not isinstance(got, list) else f"{len(got)} rows"
            raise GateMismatch(
                f"{op}({arg!r}) answered {shown}, oracle says "
                f"{exp if not isinstance(exp, list) else f'{len(exp)} rows'}"
            )
    return len(answers)
