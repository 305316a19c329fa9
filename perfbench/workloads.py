"""The benchmark's workloads, driving ``CDCEngine`` as ``tools/run_replay.py``
deploys it.

Engine: ``merge_mode="delta"``, ``compact_every=8``, ``n_buckets=64``, every
other parameter at its default.  Session: a plain ``SparkSession`` with only
deployment settings (master, driver memory, local dirs, console progress
off) -- not ``session.get_spark``, whose AQE and parquet tuning the deployed
entry point never applies.

Each workload is a closed loop.  Ingest is ``Trigger.AvailableNow`` with
``maxFilesPerTrigger=1`` over a backlog of generated segment files (a
consumer catching up); reads are issued by one client, the next only after
the previous one returned.  Inputs come from ``datagen.ChangeStreamSpec`` and
the seed alone; the engine sees only the segment files.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import random
import statistics
import threading
import time
import traceback
from dataclasses import dataclass, field

from . import gate

DEPLOYED = dict(merge_mode="delta", compact_every=8, n_buckets=64)
DRIVER_MEMORY = "1g"
WORKLOADS = ("tail_10k", "read_mix")


@dataclass(frozen=True)
class Shape:
    """How a workload's generated change log is cut and replayed."""

    segment_size: int      # events per segment file
    segments: int          # distinct segments (segment 1 is delivered twice)
    warm_files: int        # files replayed while a table is set up
    files_per_epoch: int = 1
    read_s: float = 0.0    # read_mix: length of the timed read loop


# set-ups per pass: a table is set up this many times and the median set-up
# is reported; the timed region continues on the last table
SETUPS = 3


def shape(workload: str, seconds: float, smoke: bool = False) -> Shape:
    """Sizes, scaled so the timed region lasts about ``seconds`` on a
    4-vCPU host (a warm 10k-event epoch ~1.8 s, a compaction epoch ~7 s,
    a read round ~4 s)."""
    if smoke:
        return {
            "tail_10k": Shape(500, 8, 1),
            "read_mix": Shape(500, 3, 2, files_per_epoch=2, read_s=1.0),
        }[workload]
    if workload == "tail_10k":
        # one file per set-up, then ``seconds / 2.5`` timed epochs: at 20 s,
        # 8 epochs, one of them (the table's 8th) a compaction epoch.  The
        # log has one file more than segments (the duplicate).
        timed = max(5, round(seconds / 2.5))
        return Shape(10_000, timed, 1)
    if workload == "read_mix":
        return Shape(10_000, 3, 2, files_per_epoch=2, read_s=seconds)
    raise ValueError(f"unknown workload {workload!r}")


def stream_spec(workload: str, seed: int, seconds: float, smoke: bool = False):
    from event_driven_etl_msc_research_spark.datagen import ChangeStreamSpec

    sh = shape(workload, seconds, smoke)
    n = sh.segment_size * sh.segments
    return ChangeStreamSpec(
        n_events=n,
        n_convs=max(200, n // 50),
        segment_size=sh.segment_size,
        text_pad=200,
        seed=seed,
        dup_segments=(1,),
    )


def input_worker(kind: str, workload: str, seed: str, seconds: str,
                 smoke: str, out: str) -> None:
    """Body of an input worker process (arguments as strings, from its
    command line): ``generate`` writes the segment files to ``out``,
    ``oracle`` folds the stream into the oracle's final state at ``out``."""
    spec = stream_spec(workload, int(seed), float(seconds), smoke == "1")
    if kind == "generate":
        from event_driven_etl_msc_research_spark.datagen import (
            generate_change_stream,
        )

        generate_change_stream(out, spec)
    elif kind == "oracle":
        gate.save_oracle(gate.oracle_frame(spec), out)
    else:
        raise ValueError(f"unknown input worker {kind!r}")


def plain_session(local_dir: str):
    """The deployed session: deployment settings only."""
    from pyspark.sql import SparkSession

    os.makedirs(local_dir, exist_ok=True)
    spark = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{len(os.sched_getaffinity(0))}]")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.local.dir", local_dir)
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={local_dir} -XX:-UsePerfData")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


class ProcSampler:
    """Over a region: the peak of driver-plus-JVM VmRSS, sampled from /proc
    while running, and the CPU seconds the two processes used."""

    def __init__(self, pids: list[int], every_s: float = 0.1):
        self.pids, self.every_s = pids, every_s
        self.peak_kb = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _cpu(self) -> float:
        """utime + stime of the processes, in seconds."""
        ticks = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
        return ticks / os.sysconf("SC_CLK_TCK")

    def _run(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb,
                               sum(self._rss_kb(p) for p in self.pids))
            self._stop.wait(self.every_s)

    def __enter__(self):
        self.cpu_s = -self._cpu()
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self.cpu_s += self._cpu()
        self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in self.pids))


def quantile(values: list[float], q: float) -> float:
    """Inclusive-method quantile (q in (0, 1)) of a small sample."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[
        round(q * 100) - 1
    ]


def tree_bytes(root: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return size, n


def count_lines(path: str) -> int:
    with open(path, "rb") as f:
        return sum(1 for _ in f)


@dataclass
class Reads:
    """Answers and costs of rounds of read operations."""

    attempted: int = 0
    failed: int = 0
    latency: dict[str, list[float]] = field(default_factory=dict)
    rounds: list[float] = field(default_factory=list)  # seconds per round
    jobs: list[int] = field(default_factory=list)
    answers: list[tuple] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)


@dataclass
class Pass:
    """What one pass over a workload measured."""

    setup_s: list[float] = field(default_factory=list)  # per table set-up
    timed_wall_s: float = 0.0
    units: int = 0                 # events ingested / read ops in the timed region
    latencies: list[float] = field(default_factory=list)
    compact_s: list[float] = field(default_factory=list)
    peak_rss_mb: float = 0.0
    cpu_s: float = 0.0             # driver + JVM CPU over the timed region
    events_delivered: int = 0
    table_bytes: int = 0
    table_files: int = 0
    setup_done: float = 0.0        # time.time() when the timed region began
    progress: list[dict] = field(default_factory=list)
    n_setup_progress: int = 0      # progress rows of the set-up
    run_ids: list[str] = field(default_factory=list)
    reads: Reads = field(default_factory=Reads)   # timed reads or gate reads
    attempted: int = 0
    failed: int = 0
    checked_rows: int = 0
    gate_error: str | None = None
    gate_s: float = 0.0
    marks: dict[str, float] = field(default_factory=dict)  # time.time()
    version_before: int = 0
    version_after: int = 0
    data_files: int = 0
    delta_files: int = 0
    meta_bytes: int = 0


class Runner:
    """Runs one workload pass against fresh tables in ``work``."""

    def __init__(self, spark, workload: str, seed: int, seconds: float,
                 work: str, stream_dir: str, oracle_path: str,
                 wait_oracle, smoke: bool = False):
        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.work = work
        self.stream_dir = stream_dir
        self.oracle_path = oracle_path
        self.wait_oracle = wait_oracle
        self.shape = shape(workload, seconds, smoke)
        self.files = sorted(
            f for f in os.listdir(stream_dir) if f.endswith(".jsonl")
        )
        self.pids = [os.getpid(), jvm_pid(spark)]
        self.tracer = None

    # ---- ingest ----

    def _deliver(self, wal: str, names: list[str]) -> int:
        """Make segment files visible to the change-log source (hard links
        keep the generator's strictly increasing mtimes)."""
        os.makedirs(wal, exist_ok=True)
        n = 0
        for name in names:
            os.link(os.path.join(self.stream_dir, name), os.path.join(wal, name))
            n += count_lines(os.path.join(self.stream_dir, name))
        return n

    def _replay(self, engine, wal: str, ckpt: str, p: Pass,
                files_per_epoch: int = 1) -> float:
        t = time.monotonic()
        q = engine.replay(wal, ckpt, max_files_per_trigger=files_per_epoch)
        wall = time.monotonic() - t
        p.run_ids.append(str(q.runId))
        p.progress.extend(progress_rows(q))
        return wall

    def _set_up(self, tag: str, tracer=None):
        """A fresh deployed engine whose table holds its first epoch: one
        segment (``tail_10k``) or two (``read_mix``)."""
        from event_driven_etl_msc_research_spark.streaming.engine import CDCEngine

        from .tracing import instrument

        p = Pass()
        sh = self.shape
        engine = CDCEngine(self.spark, os.path.join(self.work, f"table-{tag}"),
                           **DEPLOYED)
        if tracer is not None:
            instrument(tracer, engine)
        p.version_before = engine.table.current_version() or 0
        wal = os.path.join(self.work, f"wal-{tag}")
        ckpt = os.path.join(self.work, f"ckpt-{tag}")
        p.events_delivered += self._deliver(wal, self.files[: sh.warm_files])
        self._replay(engine, wal, ckpt, p, sh.files_per_epoch)
        return engine, wal, ckpt, p

    # ---- read operations ----

    def _read_round(self, rng: random.Random) -> list[tuple]:
        """One of each read operation, in a seed-drawn order with
        seed-drawn arguments: a point lookup of one conversation, a ts
        window of 1% of the ts range, a forced full scan, count, min_max.
        The round is a fixed unit of work, not a model of read traffic."""
        lo_all, hi_all = self.ts_range
        width = max(1, (hi_all - lo_all) // 100)
        lo = rng.randint(lo_all, max(lo_all, hi_all - width))
        plan = [("point", rng.choice(self.convs)), ("window", (lo, lo + width)),
                ("scan", None), ("count", None), ("min_max", None)]
        rng.shuffle(plan)
        return plan

    def _read(self, table, op: str, arg):
        if op == "point":
            return gate.normalise(op, table.read(where={"conv_id": (arg, arg)}))
        if op == "window":
            lo, hi = (dt.datetime.fromtimestamp(x, dt.timezone.utc) for x in arg)
            return gate.normalise(op, table.read(where={"ts": (lo, hi)}))
        if op == "count":
            return table.count()
        if op == "min_max":
            return gate.normalise(op, table.min_max("ts"))
        if op == "scan":
            table.read().write.mode("overwrite").format("noop").save()
            return None
        raise ValueError(op)

    def _read_rounds(self, table, rng, group: str,
                     budget_s: float = 0.0) -> Reads:
        """Issue read rounds one operation at a time, each under its own
        Spark job group; start another round while one is expected to fit
        in ``budget_s`` (at least one round)."""
        sc = self.spark.sparkContext
        r = Reads()
        t0 = time.monotonic()
        while True:
            t_round = time.monotonic()
            for op, arg in self._read_round(rng):
                gid = f"{group}-{op}-{r.attempted}"
                sc.setJobGroup(gid, gid)
                r.attempted += 1
                t = time.monotonic()
                try:
                    with self._op_span(op, gid):
                        ans = self._read(table, op, arg)
                except Exception:  # a failed read is counted, not fatal
                    r.failed += 1
                    r.errors.append(traceback.format_exc())
                    continue
                r.latency.setdefault(op, []).append(time.monotonic() - t)
                r.jobs.append(len(sc.statusTracker().getJobIdsForGroup(gid)))
                r.answers.append((op, arg, ans))
            now = time.monotonic()
            r.rounds.append(now - t_round)
            if now + (now - t_round) > t0 + budget_s:
                break
        sc.setJobGroup("perfbench", "perfbench")
        return r

    def _op_span(self, op: str, gid: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(f"read.{op}", trace_id=gid)

    @staticmethod
    def _count_files(engine, p: Pass) -> None:
        m = engine.table.manifest()
        p.data_files = sum(len(v) for v in m["files"].values())
        p.delta_files = sum(
            len(v) for v in (m.get("delta_files") or {}).values())

    # ---- the pass ----

    def run(self, tag: str, tracer=None, setups: int = SETUPS) -> Pass:
        """One pass.  The table is set up ``setups`` times, each on a fresh
        table, and the timed region continues on the last one.  A traced
        pass (``tracer`` given) of ``tail_10k`` also checks one read round,
        so that every layer shows up in its table."""
        start = time.time()
        setup_s = []
        for i in range(setups):
            t = time.monotonic()
            last = i == setups - 1
            engine, wal, ckpt, p = self._set_up(
                f"{tag}{i}", tracer if last else None)
            setup_s.append(time.monotonic() - t)
        p.setup_s = setup_s
        p.marks["start"] = start
        p.marks["tables_set_up"] = time.time()
        self.tracer = tracer
        self.wait_oracle()
        oracle = gate.load_oracle(self.oracle_path)
        self.convs = sorted(oracle["conv_id"].unique())
        self.ts_range = int(oracle["ts"].min()), int(oracle["ts"].max())
        rng = random.Random(self.seed)
        answers = []
        sh = self.shape

        if self.workload == "tail_10k":
            p.n_setup_progress = len(p.progress)
            p.units = self._deliver(wal, self.files[sh.warm_files:])
            p.events_delivered += p.units
            p.setup_done = time.time()
            with ProcSampler(self.pids) as proc:
                p.timed_wall_s = self._replay(engine, wal, ckpt, p)
                p.marks["timed_done"] = time.time()
            timed = [r for r in p.progress[p.n_setup_progress:] if r["ran"]]
            p.latencies = [r["durationMs"]["triggerExecution"] / 1000
                           for r in timed]
            p.attempted += len(timed)
            # the engine's own compaction, timed by the engine
            p.compact_s = lineage_durations(
                engine, "compact", {r["batchId"] for r in timed})
            self._count_files(engine, p)
            if tracer is not None:
                p.reads = self._read_rounds(engine.table, rng, "gate")
        else:  # read_mix
            # fold the first epoch into base files, then ingest the rest, so
            # base files and live delta files coexist; one untimed round
            # warms the read paths, its answers checked with the timed ones
            engine.table.compact()
            p.events_delivered += self._deliver(
                wal, self.files[sh.warm_files:])
            self._replay(engine, wal, ckpt, p, sh.files_per_epoch)
            p.n_setup_progress = len(p.progress)
            warm = self._read_rounds(engine.table, rng, "warm")
            answers, p.attempted = warm.answers, warm.attempted
            p.failed = warm.failed
            p.setup_done = time.time()
            with ProcSampler(self.pids) as proc:
                t = time.monotonic()
                p.reads = self._read_rounds(engine.table, rng, "read",
                                            sh.read_s)
                p.timed_wall_s = time.monotonic() - t
                p.marks["timed_done"] = time.time()
                self._count_files(engine, p)  # as the reads saw them
                p.attempted += 1
                t = time.monotonic()
                engine.table.compact()
                p.compact_s.append(time.monotonic() - t)
            p.latencies = p.reads.rounds
            p.units = p.reads.attempted
        p.attempted += p.reads.attempted
        p.failed += p.reads.failed
        p.peak_rss_mb = proc.peak_kb / 1024
        p.cpu_s = proc.cpu_s
        p.version_after = engine.table.current_version()
        # outside the timed region: every answer, then the final snapshot
        t = time.monotonic()
        try:
            p.checked_rows = gate.check_answers(
                answers + p.reads.answers, oracle)
            p.checked_rows += gate.check_snapshot(
                self.spark, engine.table, self.oracle_path)
        except gate.GateMismatch as e:
            p.gate_error = str(e)
        p.gate_s = time.monotonic() - t
        p.marks["gate_done"] = time.time()
        p.table_bytes, p.table_files = tree_bytes(engine.table.root)
        p.meta_bytes = sum(
            tree_bytes(os.path.join(engine.table.root, d))[0]
            for d in os.listdir(engine.table.root) if d.startswith("_manifest")
        )
        self.tracer = None
        return p


def progress_rows(q) -> list[dict]:
    """Per-trigger numbers from ``StreamingQueryProgress`` (not from the
    lineage ``progress`` rows, which sum triggerExecution with its own
    sub-phases)."""
    out = []
    for pr in q.recentProgress:
        ts = dt.datetime.strptime(pr.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
        out.append({
            "batchId": pr.batchId,
            "start": ts.replace(tzinfo=dt.timezone.utc).timestamp(),
            "numInputRows": pr.numInputRows,
            "durationMs": {k: int(v) for k, v in (pr.durationMs or {}).items()},
            "ran": "addBatch" in (pr.durationMs or {}),
        })
    return out


def lineage_durations(engine, stage: str, epochs: set) -> list[float]:
    """``duration_s`` of the engine's own lineage rows for ``stage``,
    read with pyarrow (no Spark job)."""
    import pyarrow.parquet as pq

    d = engine.lineage.lineage_dir
    if not os.path.isdir(d):
        return []
    t = pq.read_table(d, columns=["epoch_id", "stage", "status", "duration_s"])
    return [
        r["duration_s"] for r in t.to_pylist()
        if r["stage"] == stage and r["status"] == "Success"
        and r["epoch_id"] in epochs
    ]
