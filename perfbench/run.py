"""CDC benchmark: one workload per invocation, checked against the oracle.

    python3 perfbench/run.py --workload tail_10k --seed 1 --seconds 20 --trace 0

Run from the repository root.  ``--trace 0`` measures the end-to-end metrics;
``--trace 1`` additionally runs a second, instrumented pass on a fresh table
and reports the per-layer metrics, the span table and the tracing overhead.
The last line of standard output is one JSON object; the full detail and the
span dump go to ``perfbench/results/``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.time()  # set-up time counts from interpreter start-up

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["tail_10k", "read_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        # even when stop() failed (say, a signal broke a py4j call)
        if gw is not None:
            _stop_gateway(gw)
            SparkContext._gateway = None
            SparkContext._jvm = None


def _stop_gateway(gw) -> None:
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool,
        work: str, smoke: bool = False, spark=None) -> dict:
    """Run one workload; returns the result record (metrics + detail).
    Starts (and stops) its own session unless ``spark`` is given."""
    from perfbench import metrics, workloads
    from perfbench.tracing import Tracer

    os.makedirs(work, exist_ok=True)
    stream_dir = os.path.join(work, "stream")
    oracle_path = os.path.join(work, "oracle.parquet")
    spec = workloads.stream_spec(workload, seed, seconds, smoke)
    # inputs are made in worker processes while the session starts
    gen = _input_worker("generate", workload, seed, seconds, smoke, stream_dir)
    orc = _input_worker("oracle", workload, seed, seconds, smoke, oracle_path)
    workers = [gen, orc]

    def join(w):
        if w.wait() != 0:
            raise RuntimeError(f"input worker {w.args[4]} exited with "
                               f"{w.returncode}")

    own = spark is None
    try:
        if own:
            spark = workloads.plain_session(os.path.join(work, "spark-local"))
        session_s = time.time() - T_START
        join(gen)
        print(f"perfbench: inputs at {time.time() - T_START:.2f} s",
              file=sys.stderr)
        runner = workloads.Runner(spark, workload, seed, seconds, work,
                                  stream_dir, oracle_path, lambda: join(orc),
                                  smoke)
        untraced = runner.run("a")
        # everything done once (interpreter and session start, inputs,
        # oracle; on read_mix the compaction, second epoch and warm read
        # round) plus the median table set-up
        setup_s = (untraced.setup_done - T_START - sum(untraced.setup_s)
                   + statistics.median(untraced.setup_s))
        result = {
            "workload": workload, "seed": seed, "seconds": seconds,
            "trace": int(trace), "spec": vars(spec) | {"dup_segments": list(
                spec.dup_segments)},
            "session_s": session_s,
            "e2e": metrics.end_to_end(untraced, setup_s),
            "timed": metrics.timed_region(untraced),
            "passes": {"untraced": _detail(untraced)},
            "attempted": untraced.attempted,
            "failed": untraced.failed,
            "gate_errors": [untraced.gate_error] if untraced.gate_error else [],
        }
        if trace:
            tracer = Tracer()
            traced = runner.run("b", tracer, setups=1)
            layer, spans = metrics.per_layer(tracer, traced, untraced, spark)
            result["layer"] = layer
            result["spans"] = spans
            result["passes"]["traced"] = _detail(traced)
            result["attempted"] += traced.attempted
            result["failed"] += traced.failed
            if traced.gate_error:
                result["gate_errors"].append(traced.gate_error)
            result["tracer"] = tracer
        return result
    finally:
        if own and spark is not None:
            stop_spark(spark)
            print(f"perfbench: stopped at {time.time() - T_START:.2f} s",
                  file=sys.stderr)
        for w in workers:
            if w.poll() is None:
                w.terminate()
            w.wait()


def _input_worker(kind, workload, seed, seconds, smoke, out):
    """Start ``workloads.input_worker`` in a plain child interpreter (not
    ``multiprocessing``, whose resource tracker outlives the run)."""
    code = ("import sys; sys.path.insert(0, sys.argv[1]); "
            "from perfbench.workloads import input_worker; "
            "input_worker(*sys.argv[2:])")
    return subprocess.Popen([sys.executable, "-c", code, ROOT, kind, workload,
                             str(seed), repr(float(seconds)),
                             str(int(smoke)), out])


def become_subreaper() -> None:
    """Have orphaned descendants (say, a JVM worker whose parent died)
    re-parented to this process, so that ``reap_children`` sees them."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == me:
                out.append(int(d))
    return out


def reap_children(grace_s: float = 10.0) -> None:
    """Stop every process still a child of this one and wait for it to
    end: SIGTERM, then SIGKILL after ``grace_s``.  Descendants orphaned on
    the way are re-parented here (``become_subreaper``) and reaped too."""
    deadline = time.monotonic() + grace_s
    while kids := _children():
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break


def _detail(p) -> dict:
    return {
        "setup_s": p.setup_s,
        "timed_wall_s": p.timed_wall_s,
        "cpu_s": p.cpu_s,
        "units": p.units,
        "latencies_s": p.latencies,
        "compact_s": p.compact_s,
        "events_delivered": p.events_delivered,
        "table_bytes": p.table_bytes,
        "table_files": p.table_files,
        "progress": p.progress,
        "read_latency_s": p.reads.latency,
        "read_rounds_s": p.reads.rounds,
        "read_jobs": p.reads.jobs,
        "read_errors": p.reads.errors,
        "checked_rows": p.checked_rows,
        "gate_s": p.gate_s,
        "gate_error": p.gate_error,
        "marks_s": {k: v - T_START for k, v in p.marks.items()},
    }


def summary_line(result: dict, trace: bool) -> str:
    ms = result["layer"] if trace else result["e2e"]
    return json.dumps({
        "correct": not result["gate_errors"] and result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in ms.items()},
    }, separators=(",", ":"))


def main(argv=None) -> int:
    args = _args(argv)
    become_subreaper()
    # a SIGTERM unwinds through the finally blocks that stop the session
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _main(args)
    finally:
        reap_children()


def _main(args) -> int:
    sys.path.insert(0, ROOT)
    try:
        import event_driven_etl_msc_research_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    from perfbench.metrics import format_table

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    out = os.path.join(HERE, "results")
    os.makedirs(out, exist_ok=True)
    # PySpark's gateway launch and the worker processes use tempfile: keep
    # every temporary file inside the run's working directory
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace),
                     work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    tracer = result.pop("tracer", None)
    if tracer is not None:
        tracer.dump(os.path.join(out, f"{tag}.spans.json"))
        print(format_table(result["spans"], result["layer"]))
    with open(os.path.join(out, f"{tag}.json"), "w") as f:
        json.dump(result, f, indent=1, default=str)
    for err in result["gate_errors"]:
        print(f"oracle gate failed: {err}", file=sys.stderr)
    print(summary_line(result, bool(args.trace)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
