"""Manifest-plane commit/read traffic: inline vs content-addressed segments.

Synthesizes a large table state through the TableStorage verbs (no Spark —
this measures the metadata plane only) and replays an identical commit
sequence twice: once with inline manifests (every commit re-serializes the
FULL per-bucket file listing + stats) and once with segmented manifests
(``write.manifest.segment-min-files=0``).  Each commit touches ``k`` random
buckets, exactly the shape of a delta-mode binlog tail, and is built and
published by the table's own commit path (``ManifestTable._transact``).
Measured per variant:

* publish bytes/objects actually uploaded per commit (put_if_absent that
  finds the key present uploads nothing — that is the content-address win);
* head-read GET bytes for a COLD handle (fresh process) and a WARM handle
  (the streaming tailer re-reading the head each epoch: its segment cache
  re-fetches only what the last commit changed).

On a real object store every byte here is a wire byte and every object a
billable request; local wall-clock flatters the inline path (no RTTs), so
the byte/object ratios are the transferable result.

Usage: python tools/segment_bench.py [n_buckets] [files_per_bucket] [commits]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from event_driven_etl_msc_research_spark.schemas import TRANSCRIPT_SCHEMA  # noqa: E402
from event_driven_etl_msc_research_spark.sinks.manifest import (  # noqa: E402
    ManifestTable,
)
from event_driven_etl_msc_research_spark.sinks.storage import (  # noqa: E402
    LocalFSStorage,
)


class CountingStorage:
    """TableStorage wrapper that meters uploaded/downloaded bytes."""

    def __init__(self, inner):
        self.inner = inner
        self.reset()

    def reset(self):
        self.put_bytes = 0
        self.puts = 0
        self.put_skipped = 0
        self.get_bytes = 0
        self.gets = 0

    def put_if_absent(self, key, data):
        ok = self.inner.put_if_absent(key, data)
        if ok:
            self.put_bytes += len(data)
            self.puts += 1
        else:
            self.put_skipped += 1
        return ok

    def get(self, key):
        data = self.inner.get(key)
        self.get_bytes += len(data)
        self.gets += 1
        return data

    def __getattr__(self, name):
        return getattr(self.inner, name)


def synth_state(n_buckets: int, files_per_bucket: int):
    """files/delta_files/file_stats of realistic path + stats width."""
    files, stats = {}, {}
    for b in range(n_buckets):
        ps = [
            f"data/v{1:012d}_e{1}/_bucket={b}/part-{i:05d}-"
            f"{random.getrandbits(64):016x}.zstd.parquet"
            for i in range(files_per_bucket)
        ]
        files[str(b)] = ps
        for p in ps:
            stats[p] = {
                "ts": [1_700_000_000_000_000, 1_700_009_999_999_999, 0],
                "conv_id": [f"conv{b:04d}", f"conv{b + 1:04d}", 0],
                "::rows": [8192],
            }
    return files, stats


def run_variant(name: str, props: dict | None, n_buckets: int,
                files_per_bucket: int, commits: int, touch: int) -> dict:
    random.seed(42)
    root = tempfile.mkdtemp(prefix=f"segbench_{name}_")
    try:
        st = CountingStorage(LocalFSStorage(root))
        t = ManifestTable.create(
            None, root, TRANSCRIPT_SCHEMA, n_buckets=n_buckets,
            storage=st, properties=props,
        )
        files, stats = synth_state(n_buckets, files_per_bucket)
        t._transact(lambda m: t._next(m, "seed", files=files, file_stats=stats))
        st.reset()

        def replace_files(m, c):
            """Commit ``c``: one file rewritten in each of ``touch`` random
            buckets, built and published by the engine's commit path."""
            files, stats = dict(m["files"]), dict(m["file_stats"])
            for b in random.sample(range(n_buckets), touch):
                ps = list(files[str(b)])
                old = ps[random.randrange(len(ps))]
                new = old.replace("part-", f"pt{c:04d}-")
                ps[ps.index(old)] = new
                files[str(b)] = ps
                stats[new] = stats.pop(old)
            return t._next(m, f"e{c}", files=files, file_stats=stats)

        t0 = time.perf_counter()
        for c in range(commits):
            t._transact(lambda m: replace_files(m, c))
        commit_s = time.perf_counter() - t0
        publish = {
            "bytes_per_commit": round(st.put_bytes / commits),
            "objects_per_commit": round(st.puts / commits, 2),
            "reused_objects_per_commit": round(st.put_skipped / commits, 2),
            "wall_ms_per_commit": round(commit_s / commits * 1000, 3),
        }

        # cold head read: a fresh handle (new process) assembles the head
        cold = CountingStorage(LocalFSStorage(root))
        ManifestTable(None, root, storage=cold).manifest()
        # warm tailer: ONE long-lived handle re-reads the head after each
        # of 10 more commits (its segment cache absorbs unchanged segments)
        warm_store = CountingStorage(LocalFSStorage(root))
        tail = ManifestTable(None, root, storage=warm_store)
        tail.manifest()  # prime the cache
        warm_store.reset()
        writer = ManifestTable(None, root, storage=LocalFSStorage(root))
        for c in range(10):
            b = str(random.randrange(n_buckets))
            extra = f"data/w{c}/_bucket={b}/part-00000-extra.zstd.parquet"
            writer._transact(lambda m: writer._next(
                m, f"w{c}", files={**m["files"], b: m["files"][b] + [extra]}
            ))
            tail.manifest()
        return {
            "publish": publish,
            "cold_head_read": {
                "get_bytes": cold.get_bytes, "gets": cold.gets,
            },
            "warm_tail_read": {
                "get_bytes_per_epoch": round(warm_store.get_bytes / 10),
                "gets_per_epoch": round(warm_store.gets / 10, 1),
            },
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    n_buckets = int(sys.argv[1]) if len(sys.argv) > 1 else 64
    fpb = int(sys.argv[2]) if len(sys.argv) > 2 else 256
    commits = int(sys.argv[3]) if len(sys.argv) > 3 else 50
    touch = 2  # delta-tail shape: a few hot buckets per epoch
    # segmentation is ON by default above 512 file entries, so "inline"
    # must push the threshold out of reach to measure the old format
    inline = run_variant(
        "inline",
        {"write.manifest.segment-min-files": str(2**62)},
        n_buckets, fpb, commits, touch,
    )
    seg = run_variant(
        "segmented",
        {"write.manifest.segment-min-files": "0",
         "write.manifest.segments": "16"},
        n_buckets, fpb, commits, touch,
    )
    print(json.dumps({
        "metric": "manifest_commit_read_traffic",
        "n_files": n_buckets * fpb,
        "n_buckets": n_buckets,
        "commits": commits,
        "touched_buckets_per_commit": touch,
        "inline": inline,
        "segmented": seg,
        "publish_bytes_reduction": round(
            inline["publish"]["bytes_per_commit"]
            / max(seg["publish"]["bytes_per_commit"], 1), 1
        ),
        "warm_read_bytes_reduction": round(
            inline["warm_tail_read"]["get_bytes_per_epoch"]
            / max(seg["warm_tail_read"]["get_bytes_per_epoch"], 1), 1
        ),
    }))


if __name__ == "__main__":
    main()
