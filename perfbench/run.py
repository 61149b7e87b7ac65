"""Repository benchmark: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload replay_trickle_serve --seed 1 \
        --seconds 5 --trace 0

Run from the repository root. Set-up (session start, staging the
generated change stream as parquet, pre-load and warm-up) is timed as
``setup_s``. Then the workload's closed loop runs for ``--seconds``,
rounded up to whole maintenance cycles. Then every result the loop
observed is checked against the DuckDB oracle. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it is the full report, including window
quality (steal share and a pure-CPU control) and percentile sample
counts.

``--trace 1`` then runs as many cycles again with the package's layer
entry points wrapped from outside (perfbench/trace.py); the difference
between the two halves is the tracing overhead. Spans are written to
``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
STATE = os.path.join(REPO, ".perfbench")


def percentiles(xs: list[float]) -> dict:
    """Median plus the tail: the highest percentile with at least ten
    samples beyond it (never below the median)."""
    xs = sorted(xs)
    n = len(xs)
    if not n:  # the first step failed; the run reports correct: false
        return {"p50": 0.0, "tail": 0.0, "tail_pct": 50, "n": 0}
    q = max(50, int(100 * (1 - 10 / n)))

    def at(p: float) -> float:
        # linear interpolation between closest ranks
        pos = (n - 1) * p / 100
        lo = int(pos)
        hi = min(lo + 1, n - 1)
        return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)

    return {"p50": at(50), "tail": at(q), "tail_pct": q, "n": n}


def _select(xs: list[float], flags: list[bool], want: bool) -> list[float]:
    return [x for x, f in zip(xs, flags) if f == want]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "picsure_dictionary_etl_spark")):
        print(f"perfbench: package not found under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from perfbench import host, session
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    session.ensure_archive()
    work = os.path.join(STATE, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, work, host, session, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def loop(wl, tracer, traced: bool, seconds: float = 0.0, cycles: int | None = None) -> int:
    """The closed loop: steps until ``seconds`` have passed (or until
    ``cycles`` maintenance cycles ran), always ending on a cycle
    boundary. A step that raises counts as a failed operation and ends
    the loop. Returns the number of steps run."""
    tracer.enabled = traced
    step, t0 = 0, time.perf_counter()

    def more() -> bool:
        if step % wl.cycle:
            return True
        if cycles is not None:
            return step < cycles * wl.cycle
        return time.perf_counter() - t0 < seconds

    try:
        while wl.has_next() and more():
            wl.step(traced)
            step += 1
    except Exception:
        traceback.print_exc()
        wl.attempted += 1
        wl.failed += 1
    finally:
        tracer.enabled = False
    return step


def run(args, work: str, host, session, workload_cls) -> int:
    env = session.host_env(work)
    window = {"cpu_control_iter_per_s": host.cpu_control(REPO, 0.5)}

    from perfbench.trace import Tracer

    t_setup = time.perf_counter()
    spark, jvm_pid = session.start(f"perfbench-{args.workload}", env)
    tracer = Tracer(spark)
    try:
        wl = workload_cls(
            spark, os.path.join(work, "data"), args.seed, tracer,
            lambda: host.spark_cpu_s(jvm_pid),
        )
        t_session = time.perf_counter()
        wl.stage()
        t_stage = time.perf_counter()
        wl.prepare()
        setup = {
            "session_s": t_session - t_setup,
            "stage_s": t_stage - t_session,
            "prepare_s": time.perf_counter() - t_stage,
        }
        setup_s = time.perf_counter() - t_setup

        # untraced: the end-to-end numbers
        steal0, total0 = host.cpu_ticks()
        cpu0 = host.spark_cpu_s(jvm_pid)
        t0 = time.perf_counter()
        steps = loop(wl, tracer, False, seconds=args.seconds)
        timed = {
            "steps": steps,
            "timed_s": time.perf_counter() - t0,
            "cpu_s": host.spark_cpu_s(jvm_pid) - cpu0,
            "events": wl.samples.events,
            "last_version": wl.version(),
        }
        steal1, total1 = host.cpu_ticks()
        rss_mb = host.peak_rss_mb(jvm_pid)
        if args.trace:
            # as many cycles again, traced; the difference between the
            # two halves is the tracing overhead
            tracer.install()
            try:
                loop(wl, tracer, True, cycles=max(1, steps // wl.cycle))
            finally:
                tracer.uninstall()

        final_rows = wl.verify()
        table = LakeTableView(wl.runner.table)
        e2e = end_to_end(
            wl.samples, timed, setup_s, rss_mb,
            table.bytes_added(wl.first_version, timed["last_version"]),
            table.live_bytes(), len(final_rows),
        )
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "host": env,
            "window": {
                **window,
                "steal_share": (steal1 - steal0) / max(1, total1 - total0),
            },
            "setup": setup,
            "phases": wl.phases,
            "checks_failed": wl.checks,
            "end_to_end": e2e,
        }
        metrics = e2e["metrics"]
        if args.trace:
            from perfbench.layers import per_layer

            tracer.harvest(getattr(wl, "stream_groups", None))
            tracer.write(os.path.join(STATE, "traces", f"{args.workload}-{args.seed}.jsonl"))
            metrics, coverage_ok = per_layer(tracer, wl, table)
            report["per_layer"] = metrics
            wl.count("layer_coverage", not coverage_ok)
        report_line = json.dumps(report, default=str)
    finally:
        session.stop(spark)

    print("perfbench-report " + report_line)
    print(
        json.dumps(
            {
                "correct": wl.failed == 0,
                "attempted": wl.attempted,
                "failed": wl.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


class LakeTableView:
    """Metadata-only reads of the workload's table after the run."""

    def __init__(self, table):
        from picsure_dictionary_etl_spark.lake.table import LakeTable

        self.t = LakeTable(None, table.root)
        self.head = self.t.current()

    def bytes_added(self, since: int, until: int) -> int:
        """Bytes of every file the versions in ``(since, until]`` added,
        compaction rewrites included."""
        total, prev = 0, self.t.snapshot(since)
        for v in range(since + 1, until + 1):
            snap = self.t.snapshot(v)
            old = set(prev.all_files())
            total += sum(
                snap.file_sizes.get(f, 0) for f in snap.all_files() if f not in old
            )
            prev = snap
        return total

    def live_bytes(self) -> int:
        return sum(self.head.file_sizes.get(f, 0) for f in self.head.all_files())


def end_to_end(s, timed, setup_s, rss_mb, bytes_added, live_bytes, live_rows):
    """The contract's end-to-end metrics, plus the wall-clock figures.

    Wall latencies on a shared 4-vCPU host move with hypervisor steal
    (runs with 0.2% and 18% steal differed by 60% in batch latency), so
    the per-operation metrics are CPU seconds of the Spark process
    tree; the wall figures are reported beside them."""
    untraced = {
        k: _select(getattr(s, k), getattr(s, f"{k.split('_')[0]}_traced"), False)
        for k in ("batch_s", "batch_cpu_s", "read_s", "read_cpu_s")
    }
    pct = {k: percentiles(v) for k, v in untraced.items()}
    events = max(1, timed["events"])
    values = {
        "setup_s": (setup_s, "s"),
        "batch_cpu_s.p50": (pct["batch_cpu_s"]["p50"], "s"),
        "batch_cpu_s.tail": (pct["batch_cpu_s"]["tail"], "s"),
        "read_cpu_s.p50": (pct["read_cpu_s"]["p50"], "s"),
        "read_cpu_s.tail": (pct["read_cpu_s"]["tail"], "s"),
        "cpu_s_per_mevent": (timed["cpu_s"] / (events / 1e6), "s/Mevent"),
        "write_bytes_per_event": (bytes_added / events, "bytes/event"),
        "table_bytes_per_live_row": (live_bytes / max(1, live_rows), "bytes/row"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    return {
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
        "wall": {
            "ingest_events_per_s": events / timed["timed_s"],
            "batch_latency_s": pct["batch_s"],
            "read_latency_s": pct["read_s"],
        },
        "cpu": {"batch_cpu_s": pct["batch_cpu_s"], "read_cpu_s": pct["read_cpu_s"]},
        **timed,
    }


if __name__ == "__main__":
    sys.exit(main())
