"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload convert --seed 1 --seconds 8 --trace 0

Runs from the root of a checkout.  Builds the seeded inputs (cached under
``perfbench/.cache``), starts a ``local[4]`` session, runs the workload's
set-up and warm-up, then times ``--seconds`` worth of the workload's
rounds (a fixed count per workload), checks every output and prints a
run record followed, as the last line of standard output, by one JSON
object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (``setup_s``,
``bulk_cpu_s``, ``small_cpu_s``).  ``--trace 1``
alternates untraced rounds with rounds run under the layer spans, and
reports the per-layer metrics of the traced rounds plus the tracing
overhead (traced minus untraced) of the timed metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
E2E_UNITS = {"setup_s": "s", "bulk_cpu_s": "s", "small_cpu_s": "s"}
_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and all its descendants (the
    JVM, the PySpark daemon and its Python workers), read from /proc.
    Each process also brings its reaped children's CPU (cutime +
    cstime), so a worker that exits between two reads keeps counting
    through its parent and the total never drops."""
    stats = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    parts = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(p)] = (int(parts[1]), sum(int(x) for x in parts[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _t) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root] if root in stats else []
    while todo:
        pid = todo.pop()
        total += stats[pid][1]
        todo.extend(children.get(pid, []))
    return total / _TICK


def self_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class RssPeak:
    """Peak of (this process's RSS + the JVM's RSS), sampled from /proc while
    active: psutil is not available, and VmHWM would include set-up."""

    def __init__(self, pids: list[int], interval: float = 0.02):
        self.pids, self.interval = pids, interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_rss_mb(p) for p in self.pids))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


class Run:
    """One benchmark run: its session, inputs, op records and counters."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 inputs: str, expect: dict, work: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.inputs, self.expect, self.work = inputs, expect, work
        self.spark = None
        self.tracer = None
        self.store = None
        self.phase = "setup"
        self.ops: list[dict] = []
        self.rounds: dict[str, dict[str, list[float]]] = {}
        self.layer: dict[str, float] = {}
        self.figures: dict[str, list[float]] = {}
        self.check_s = 0.0
        self.jvm_pid = 0
        self._n = 0

    def op(self, name: str, family: str, fn, check=None):
        """Run one op under its own job group; time it; then, untimed,
        check its result.  Returns (seconds, result); a raise or a
        failed check is recorded as a failed op, never skipped."""
        sc = self.spark.sparkContext
        self._n += 1
        group = f"bench:{self.workload}:{name}#{self._n}"
        sc.setJobGroup(group, name, False)
        if self.tracer is not None:
            self.tracer.op = group
        err, result = None, None
        # this process's own CPU is read inside the two /proc scans, so
        # neither scan is charged to the op
        c0 = tree_cpu_s(self.jvm_pid)
        s0 = self_cpu_s()
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception as exc:  # an op failure is data, not a crash
            err = f"{type(exc).__name__}: {exc}"[:400]
            traceback.print_exc(file=sys.stderr)
        dt = time.perf_counter() - t0
        s1 = self_cpu_s()
        cpu = tree_cpu_s(self.jvm_pid) - c0 + s1 - s0
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        if self.store is not None:
            for k, v in self.store.group_totals(group).items():
                self.layer[k] = self.layer.get(k, 0.0) + v
        if err is None and check is not None:
            k0 = time.perf_counter()
            try:
                err = check(result)
            except Exception as exc:
                err = f"check raised {type(exc).__name__}: {exc}"[:400]
                traceback.print_exc(file=sys.stderr)
            self.check_s += time.perf_counter() - k0
        self.ops.append({"op": name, "family": family, "phase": self.phase,
                         "s": dt, "cpu_s": cpu, "error": err})
        return dt, result

    def round_sum(self, family: str, since: int) -> float:
        """Close one round of ``family``: sum the wall and CPU seconds of
        its ops recorded since index ``since``; returns the wall sum."""
        ops = [o for o in self.ops[since:] if o["family"] == family]
        r = self.rounds.setdefault(self.phase, {}).setdefault(
            family, {"s": [], "cpu_s": []})
        r["s"].append(sum(o["s"] for o in ops))
        r["cpu_s"].append(sum(o["cpu_s"] for o in ops))
        return r["s"][-1]

    def figure(self, name: str, value: float) -> None:
        """A workload-specific figure for the run record (untraced only)."""
        if self.phase == "plain":
            self.figures.setdefault(name, []).append(value)

    def count(self, key: str, value: float) -> None:
        """A per-layer counter the benchmark measures itself (traced only)."""
        if self.phase == "traced":
            self.layer[key] = self.layer.get(key, 0.0) + value

    def sink_bytes(self, bytes_in: int, out: str) -> None:
        if self.phase != "traced":
            return
        files = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs
                 if f.endswith((".csv", ".parquet")) and not f.startswith(".")]
        self.count("sinks.bytes_in", bytes_in)
        self.count("sinks.bytes_out", sum(os.path.getsize(f) for f in files))
        self.count("sinks.files_out", len(files))

    def gate_split(self, gate: str, family: str, build: float, exec_: float) -> None:
        fam = {"bulk": "llm", "small": "rel"}[family]
        for part, x in (("build", build), ("exec", exec_)):
            self.count(f"gate.{fam}.{part}_s", x)
            self.count(f"gate.{gate}.{part}_s", x)


def _session(work: str):
    """A local[4] session whose scratch, warehouse and temp dirs all live
    under ``work`` (a run reads and writes only inside its checkout)."""
    for d in ("spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # sf0.01-sized inputs: a 2g ceiling keeps the JVM modest on a shared
    # host.  Only the ceiling is set (no -Xms), but the collector still
    # grows the heap toward it, so the run record's peak_rss_mb follows
    # this setting as much as the work and is not a gated metric.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # every JVM spark-submit starts would otherwise keep perf data in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData"
    ).strip()
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")
    from streaming_parquet_spark.session import get_spark

    return get_spark(
        app_name="perfbench", master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )


def _stop(spark) -> None:
    """Stop the session and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            except Exception:
                pass
            if proc is not None:
                try:
                    proc.stdin.close()
                except Exception:
                    pass
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()


def _median(xs: list[float]) -> float:
    return statistics.median(xs)


def _phase_metrics(run: Run, phase: str) -> dict[str, float]:
    """Per-family medians over the phase's rounds, wall and CPU."""
    out = {}
    for fam, r in run.rounds.get(phase, {}).items():
        out[f"{fam}_s"] = _median(r["s"])
        out[f"{fam}_cpu_s"] = _median(r["cpu_s"])
    return out


def _measure(run: Run, wl, phase: str, pids: list[int], rounds: int) -> float:
    """Run ``rounds`` rounds; returns the peak RSS over them."""
    run.phase = phase
    with RssPeak(pids) as rss:
        for _ in range(rounds):
            wl.round(run)
    return rss.peak


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["convert", "gates"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import gen
    import workloads
    from stats import latency_summary

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inputs, expect = gen.cached(args.workload, args.seed)
    marks = {"generate": time.perf_counter()}
    run = Run(args.workload, args.seed, args.seconds, inputs, expect, work)
    wl = workloads.WORKLOADS[args.workload]()
    spark = None
    try:
        # ---- set-up: session start to the first timed op, minus checks
        import bench
        from spans import SparkStore, Tracer

        t_setup = time.perf_counter()
        spark = run.spark = _session(work)
        run.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        t_started = time.perf_counter()
        wl.setup(run)
        setup_s = time.perf_counter() - t_setup - run.check_s
        marks["setup"] = time.perf_counter()
        pids = [os.getpid(), run.jvm_pid]

        # A fixed round count (from --seconds and the workload's nominal
        # round length), not a deadline: every run does the same work at
        # the same point of the JVM's warm-up, whatever the host's speed.
        n_rounds = max(1, round(args.seconds / wl.round_s))
        if not args.trace:
            peak_rss = _measure(run, wl, "plain", pids, n_rounds)
            marks["measure"] = time.perf_counter()
            e2e = {"setup_s": setup_s, **_phase_metrics(run, "plain")}
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        else:
            # untraced and traced rounds alternate, order flipped every
            # round (at least two), so both sample the same stretch of the
            # JVM's warm-up and their difference is the tracing overhead
            import layers

            tracer = run.tracer = Tracer(spark)
            store = SparkStore(spark)
            peak_rss = 0.0
            for i in range(max(2, n_rounds)):
                for phase in ("plain", "traced")[:: 1 if i % 2 == 0 else -1]:
                    traced = phase == "traced"
                    if traced:
                        tracer.install()
                        run.store = store
                    try:
                        peak = _measure(run, wl, phase, pids, 1)
                    finally:
                        if traced:
                            tracer.uninstall()
                            run.store = None
                    if not traced:
                        peak_rss = max(peak_rss, peak)
            marks["measure"] = time.perf_counter()
            plain = _phase_metrics(run, "plain")
            traced = _phase_metrics(run, "traced")
            metrics = layers.per_layer(
                run, tracer,
                session={"start_s": t_started - t_setup,
                         "warm_s": setup_s - (t_started - t_setup)},
                overhead={k: traced[k] - plain[k] for k in plain},
            )
        marks["finish"] = time.perf_counter()
        host = {"ref_md5_mb_s": bench._host_ref_mb_s(),
                "io_mb_s": bench._host_io_mb_s(work)}
        marks["host"] = time.perf_counter()
    finally:
        if spark is not None:
            _stop(spark)
            marks["stop"] = time.perf_counter()
        if run.tracer is not None:
            run.tracer.write(os.path.join(
                HERE, ".out", f"spans-{args.workload}-s{args.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    failed = [o for o in run.ops if o["error"]]
    record = {
        "workload": args.workload, "seed": args.seed, "cores": CORES,
        # peak RSS of this process + the JVM over the untraced rounds,
        # beside the JVM's heap ceiling, which it follows as much as the work
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "peak_rss_mb": peak_rss,
        "seconds": args.seconds, "trace": args.trace,
        "warmup_passes": wl.warmup_passes,
        "samples": {ph: {f: len(v["s"]) for f, v in fam.items()}
                    for ph, fam in run.rounds.items()},
        # every round's family sums, wall and CPU
        "rounds": run.rounds,
        "host": host,
        # wall clock of each stage of this process, for run-time budgeting
        "wall_s": {k: v - T0 for k, v in marks.items()},
        "figures": {k: _median(v) for k, v in run.figures.items()},
        "op_latency": {
            fam: latency_summary([o["s"] for o in run.ops
                                  if o["phase"] == "plain" and o["family"] == fam])
            for fam in ("bulk", "small")
        },
        "ops_failed_frac": len(failed) / max(1, len(run.ops)),
        "failures": [(o["op"], o["phase"], o["error"]) for o in failed],
    }
    os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
    with open(os.path.join(HERE, ".out",
                           f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({**record, "ops": run.ops}, f, indent=1)
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(run.ops),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
