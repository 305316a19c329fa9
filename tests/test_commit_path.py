"""The commit path every ManifestTable verb shares.

Pins the lost-race outcome of the verbs that give up instead of rebasing
(the DDL verbs and ``rebucket``: a concurrent merge wins, the verb returns
Skipped and the head is the winner's), and the table config that rides
every commit: ``properties``, ``retention_ts`` and ``cloned_from`` survive
each verb, while ``retdel_dropped`` lives only on its own retention commit.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from event_driven_etl_msc_research_spark.schemas import TRANSCRIPT_SCHEMA
from event_driven_etl_msc_research_spark.sinks.manifest import ManifestTable
from event_driven_etl_msc_research_spark.sinks.storage import LocalFSStorage

BATCH_COLS = ["op", "lsn", "ts", "conv_id", "turn_idx", "role", "text", "tool"]
BATCH_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
    ]
)
SCHEMA_N = T.StructType(
    TRANSCRIPT_SCHEMA.fields + [T.StructField("n", T.IntegerType(), True)]
)


def _batch(spark, rows):
    pdf = pd.DataFrame(rows, columns=BATCH_COLS)
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s", utc=True)
    return spark.createDataFrame(pdf, BATCH_SCHEMA)


def _rows(n, lsn0=0, ts0=100, key="c"):
    return [
        ("U", lsn0 + i, ts0 + i, f"{key}{i % 4}", i // 4, "user", f"t{i}", "x")
        for i in range(n)
    ]


class _HookedStorage(LocalFSStorage):
    """Runs ``hook`` once, right before the first manifest-version PUT —
    a concurrent writer committing that version first."""

    def __init__(self, root, hook):
        super().__init__(root)
        self.hook = hook

    def put_if_absent(self, key, data):
        if self.hook is not None and key.startswith("_manifest/v"):
            hook, self.hook = self.hook, None
            hook()
        return super().put_if_absent(key, data)


def _once(fn):
    fired = {"done": False}

    def hook(_m):
        if not fired["done"]:
            fired["done"] = True
            fn()

    return hook


DDL_VERBS = {
    "set_stats_cols": lambda t: t.set_stats_cols(["ts", "conv_id", "role"]),
    "set_properties": lambda t: t.set_properties({"owner": "ops"}),
    "set_bloom_filter_cols": lambda t: t.set_bloom_filter_cols(["conv_id"]),
    "add_constraint": lambda t: t.add_constraint("nn", "text IS NOT NULL"),
    "drop_constraint": lambda t: t.drop_constraint("pos"),
    "add_column": lambda t: t.add_column("score", "double"),
    "widen_column": lambda t: t.widen_column("n", "bigint"),
    "rename_column": lambda t: t.rename_column("tool", "tool_name"),
    "drop_column": lambda t: t.drop_column("tool"),
    "rebucket": lambda t: t.rebucket(3),
}


@pytest.mark.parametrize("verb", sorted(DDL_VERBS))
def test_verb_losing_to_a_merge_skips(spark, tmp_root, verb):
    root = os.path.join(tmp_root, "t")
    ManifestTable.create(
        spark, root, SCHEMA_N, n_buckets=2,
        constraints={"pos": "turn_idx >= 0"},
    ).merge(_batch(spark, _rows(8)), 0, mode="delta")
    winner = ManifestTable(spark, root)

    def race():
        winner.merge(_batch(spark, _rows(4, lsn0=50, ts0=900, key="w")), 1,
                     mode="delta")

    loser = ManifestTable(spark, root, storage=_HookedStorage(root, race))
    res = DDL_VERBS[verb](loser)
    assert res["status"] == "Skipped", res
    assert "concurrent writer" in res["reason"]
    head = winner.manifest()
    assert head["epoch_id"] == "batch:1"
    assert res["version"] == head["version"]
    assert len(winner.read().collect()) == 12


def _stage_copies(root, rels, tag):
    """Copy committed delta files into a fresh staging dir: durable but
    uncommitted output of an external writer."""
    staged, rows = {}, {}
    for i, rel in enumerate(sorted(rels)):
        b = int(rel.split("_pb=")[1].split("/")[0])
        new_rel = f"data/s{tag}-{i:x}/_pb={b}/part-0.parquet"
        dst = os.path.join(root, new_rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(os.path.join(root, rel), dst)
        staged.setdefault(b, []).append(new_rel)
        rows[str(b)] = rows.get(str(b), 0) + pq.ParquetFile(dst).metadata.num_rows
    return staged, rows


def _delta_rels(t):
    return {p for ps in (t.manifest().get("delta_files") or {}).values()
            for p in ps}


def test_every_commit_carries_table_config(spark, tmp_root):
    src = ManifestTable.create(
        spark, os.path.join(tmp_root, "src"), TRANSCRIPT_SCHEMA, n_buckets=2
    )
    src.merge(_batch(spark, _rows(16)), 0)
    src.merge(_batch(spark, _rows(8, lsn0=100, ts0=5000, key="d")), 1)
    t = src.clone(os.path.join(tmp_root, "fork"))
    cloned_from = t.manifest()["cloned_from"]
    # localize and ts-cluster so retention can drop whole old files
    t.compact(min_delta_files=0, sort_by=["ts"], max_rows_per_file=2)
    t.set_properties({"owner": "ops"})
    cut = dt.datetime.fromtimestamp(1000, tz=dt.timezone.utc)
    res = t.retention_delete(cut, epoch_id=1)
    assert res["dropped_files"] > 0
    retdel_v = next(
        v for v in range(t.current_version() + 1)
        if t.manifest(v)["epoch_id"] == "retdel:1"
    )
    assert t.manifest(retdel_v)["retdel_dropped"]
    wm = t.manifest()["retention_ts"]
    props = {"owner": "ops"}
    seen: list[str] = []

    def check(what):
        head = t.manifest()
        assert head.get("properties") == props, what
        assert head.get("retention_ts") == wm, what
        assert head.get("cloned_from") == cloned_from, what
        assert "retdel_dropped" not in head, what
        assert "retdel_rows" not in head, what
        seen.append(what)

    check("retention_delete")
    t.merge(_batch(spark, _rows(4, lsn0=200, ts0=6000)), 2, mode="delta")
    check("merge delta")
    t.merge(_batch(spark, _rows(4, lsn0=300, ts0=6100)), 3)
    check("merge cow")
    other = ManifestTable(spark, t.root)
    st = t.merge(
        _batch(spark, _rows(4, lsn0=400, ts0=6200)), 4, mode="delta",
        before_publish=_once(lambda: other.merge(
            _batch(spark, _rows(4, lsn0=500, ts0=6300, key="o")), 5,
            mode="delta",
        )),
    )
    assert st["status"] == "Success"
    assert t.manifest(st["version"] - 1)["epoch_id"] == "batch:5"
    check("rebased merge")
    staged, rows = _stage_copies(t.root, _delta_rels(t), "ext")
    st = ManifestTable(None, t.root).commit_delta_files(
        staged, rows, {}, 6, t.schema(), epoch_scope="ext"
    )
    assert st["status"] == "Success"
    check("commit_delta_files")
    assert t.compact()["status"] == "Success"
    check("compact")
    assert t.rebucket(3)["status"] == "Success"
    check("rebucket")

    def set_tier():
        props["tier"] = "gold"
        return t.set_properties({"tier": "gold"})

    for verb in (
        lambda: t.set_stats_cols(["ts", "conv_id", "role"]),
        set_tier,
        lambda: t.set_bloom_filter_cols(["conv_id"]),
        lambda: t.add_constraint("nn", "turn_idx >= 0"),
        lambda: t.drop_constraint("nn"),
        lambda: t.add_column("score", "double"),
        lambda: t.widen_column("score", "double"),  # unchanged: Skipped
        lambda: t.add_column("k", "int"),
        lambda: t.widen_column("k", "bigint"),
        lambda: t.rename_column("tool", "tool_name"),
        lambda: t.drop_column("score"),
    ):
        verb()
        check("ddl")
    assert t.rollback_to(version=0)["status"] == "Success"
    check("rollback_to")
    b = t.create_branch("audit")
    b.merge(_batch(spark, _rows(4, lsn0=600, ts0=7000, key="b")), 7,
            mode="delta")
    assert t.fast_forward("audit")["status"] == "Success"
    check("fast_forward")
    assert len(seen) == 20

