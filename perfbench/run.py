"""Connector-sync benchmark: one seeded workload, one closed-loop client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The run generates the workload's inputs
from ``--seed`` under ``.perfbench_work/`` (removed on exit), computes
the expected outputs with DuckDB, times a cold session launch, runs
untimed warm-up operations and then a fixed number of operations back to
back, as many as take about ``--seconds`` seconds. Each operation's wall
time and the CPU time the program spends on it are measured, and its
output is checked. The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
``end_to_end`` metrics of BENCHMARK.json with ``--trace 0``, and with
``--trace 1`` its ``per_layer`` metrics, from a traced run made after
the measured window (see WORKLOADS.md). The line before it carries the
details: every sample, the failure reasons, and the per-layer spans.

Exits 2 without a result when the package is not in the working
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "amazon_personalize_connectors_spark"
RSS_POLL_S = 0.2
CLOCK_TICKS = os.sysconf("SC_CLK_TCK")

# The span fields reported for one whole operation as ``job.<name>``.
SPAN_FIELDS = {
    "spark_jobs": "jobs", "stages": "stages", "tasks": "tasks",
    "exec_run_s": "exec_run_s", "exec_cpu_s": "exec_cpu_s",
    "shuffle_write_bytes": "shuffle_write_bytes", "input_bytes": "input_bytes",
    "output_bytes": "output_bytes", "spill_bytes": "spill_bytes", "driver_s": "driver_s",
}


def percentile_summary(samples: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(samples)
    ordered = sorted(samples)
    if n < 11:
        return {"percentile": None, "value": ordered[-1] if ordered else None, "count": n}
    pct = 100.0 * (1 - 10 / n)
    return {"percentile": pct, "value": ordered[int(n * (1 - 10 / n)) - 1], "count": n}


def _proc_tree() -> dict[int, list[int]]:
    """Children of every process, by parent pid, from /proc."""
    tree: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        tree.setdefault(ppid, []).append(int(entry))
    return tree


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _program_processes() -> tuple[list[int], list[int]]:
    """The driver JVMs this process started, and the Python workers under
    them. A child the JVM forks to exec a shell command is left out: until
    the exec it shares the JVM's pages, and it reads as the JVM."""
    tree = _proc_tree()
    jvms = [pid for pid in tree.get(os.getpid(), []) if _comm(pid) == "java"]
    workers, stack = [], [c for pid in jvms for c in tree.get(pid, [])]
    while stack:
        pid = stack.pop()
        if _comm(pid).startswith("python"):
            workers.append(pid)
        stack.extend(tree.get(pid, []))
    return jvms, workers


def _ticks(path: str) -> int:
    """utime + stime + cutime + cstime of one /proc stat file."""
    try:
        with open(path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0  # ended since the scan; a reaped worker is in its parent's
    return sum(int(x) for x in fields[11:15])


def program_cpu_s() -> float:
    """CPU seconds used so far by the program: this process's main thread
    (the PySpark driver side), the driver JVM, and its Python workers,
    with the workers they have reaped. Time the host steals from the
    machine is not in it."""
    jvms, workers = _program_processes()
    ticks = sum(_ticks(f"/proc/{pid}/stat") for pid in jvms + workers)
    return time.thread_time() + ticks / CLOCK_TICKS


class RssSampler:
    """Peak summed RSS of the driver JVM and the Python workers under it,
    polled from /proc."""

    def __init__(self):
        self.peak_kb = self.peak_jvm_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

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

    def sample(self) -> None:
        jvms, workers = _program_processes()
        jvm = sum(self._rss_kb(pid) for pid in jvms)
        total = jvm + sum(self._rss_kb(pid) for pid in workers)
        if total > self.peak_kb:
            self.peak_kb, self.peak_jvm_kb = total, jvm

    def _run(self) -> None:
        while not self._stop.wait(RSS_POLL_S):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)


def start_receiver(work: str, manifest) -> tuple[subprocess.Popen, str]:
    poison = os.path.join(work, "poison.txt")
    with open(poison, "w") as f:
        f.write("\n".join(manifest.poison_ids) + "\n")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "receiver.py"), "--seed", str(manifest.seed),
         "--poison", poison],
        stdout=subprocess.PIPE, text=True,
    )
    port = int(proc.stdout.readline())
    return proc, f"http://127.0.0.1:{port}/users/track"


def flatten(layers: dict) -> tuple[dict, float]:
    """Per-layer values from the traced run, and the summed wall time of
    its staged spans. A Span (or a list of them, one per connector)
    becomes ``<layer>.s`` plus its stage metrics; numbers pass through."""
    from capture import Span

    out, staged = {}, 0.0
    for key, value in layers.items():
        spans = value if isinstance(value, list) else [value]
        if not isinstance(spans[0], Span):
            out[key] = value
            continue
        wall = sum(s.wall_s for s in spans)
        staged += wall
        out[f"{key}.s"] = wall
        for field in ("shuffle_write_bytes", "input_bytes"):
            out[f"{key}.{field}"] = sum(getattr(s, field) for s in spans)
        out[f"{key}.task_skew"] = max(s.task_skew for s in spans)
    return out, staged


def run(args, work: str) -> tuple[dict, dict]:
    import session
    import workloads
    from capture import StatusCapture

    phases, t_phase = {}, time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    manifest = gen.generate(args.workload, os.path.join(work, "input"), args.seed)
    phase("generate_s")
    receiver = None
    rss = RssSampler()
    spark = None
    try:
        if args.workload == "braze_delivery":
            receiver, url = start_receiver(work, manifest)
        else:
            url = None
        rss.start()
        spark, setup_s = session.launch(work)
        phase("launch_s")
        wl = workloads.make(args.workload, spark, manifest, work, url)
        phase("expect_s")

        times, cpu, cold, written, dlq, problems = [], [], [], [], [], []
        attempted = failed = 0

        def one_op(k: int, timed: bool) -> None:
            nonlocal attempted, failed
            attempted += 1
            try:
                wl.before_op(k)
                c0, t0 = program_cpu_s(), time.perf_counter()
                result = wl.op(k)
                dt, dc = time.perf_counter() - t0, program_cpu_s() - c0
                if timed:
                    dlq.append(wl.dlq_records(result))
                else:
                    cold.append({"run_s": dt, "cpu_s": dc})
                bad = wl.check(k, result)
            except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                bad = [f"{type(exc).__name__}: {exc}"]
            if bad:
                failed += 1
                problems.append({"op": k, "problems": bad})
            elif timed:
                times.append(dt)
                cpu.append(dc)
                written.append(wl.written(k))

        for k in range(-wl.warmup_ops + 1, 1):  # warm-up: JIT, caches, Python workers
            one_op(k, timed=False)
        phase("warmup_s")
        # The window is a fixed number of operations that take about
        # --seconds. Operation times keep falling over the first few
        # operations while the JIT warms up, so a window cut by the clock
        # would move the median along that curve with the machine's speed.
        n_ops = max(1, round(args.seconds / wl.nominal_s))
        for k in range(1, n_ops + 1):
            one_op(k, timed=True)
        k = n_ops + 1
        rss.sample()
        rss.stop()
        phase("window_s")

        run_s = statistics.median(times) if times else float("nan")
        cpu_s = statistics.median(cpu) if cpu else float("nan")
        details = {
            "workload": args.workload, "seed": args.seed, "cores": session.cores(),
            "run_s": run_s,
            "run_s_samples": times,
            "run_s_tail": percentile_summary(times),
            "cpu_s_samples": cpu,
            "cpu_s_tail": percentile_summary(cpu),
            "warmup_samples": cold,
            "failed_ops_frac": failed / attempted,
            # records sent to the DLQ by the timed operations / records they attempted
            "dlq_frac": (sum(dlq) / (len(dlq) * manifest.input_records)
                         if dlq else float("nan")),
            "input_records": manifest.input_records, "input_bytes": manifest.input_bytes,
            "problems": problems, "phases": phases,
            "peak_rss_mb": rss.peak_kb / 1024.0,
            "peak_rss_jvm_mb": rss.peak_jvm_kb / 1024.0,
        }
        metrics = {
            "setup_s": setup_s,
            "cpu_s": cpu_s,
            "records_per_cpu_s": manifest.input_records / cpu_s,
            "ok_ops_frac": (attempted - failed) / attempted,
            "accepted_frac": 1 - details["dlq_frac"],
            "bytes_written_per_input_byte": (
                statistics.median(written) / manifest.input_bytes if written else float("nan")
            ),
        }

        if args.trace:
            attempted += 1
            try:
                cap = StatusCapture(spark)
                wl.before_op(k)
                with cap.span("job") as job:
                    result = wl.op(k)
                bad = wl.check(k, result)
                layers, staged = flatten(wl.traced(cap))
                layers["tracing_overhead_s"] = staged - run_s
                # of the measured window
                layers["job.run_s"] = run_s
                layers["peak_rss_mb"] = details["peak_rss_mb"]
                for field, attr in SPAN_FIELDS.items():
                    layers[f"job.{field}"] = getattr(job, attr)
            except Exception as exc:  # noqa: BLE001 — reported as a failed op
                bad, layers = [f"{type(exc).__name__}: {exc}"], {}
            if bad:
                failed += 1
                problems.append({"op": k, "traced": True, "problems": bad})
            details["layers"] = metrics = layers
            phase("trace_s")
        return details, {"attempted": attempted, "failed": failed, "metrics": metrics}
    finally:
        rss.stop()
        if spark is not None:
            session.stop(spark)
        if receiver is not None:
            receiver.terminate()
            receiver.wait(timeout=30)


def main() -> int:
    parser = argparse.ArgumentParser(description="connector-sync benchmark")
    parser.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package in {root}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(1, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        details, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there

    def value(name: str):
        if args.trace:  # a layer the workload does not pass through did no work
            return result["metrics"].get(name, 0)
        return result["metrics"][name]

    print(json.dumps(details, default=str))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": value(m["name"]), "unit": m["unit"]}
                    for m in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
