"""Benchmark entry point.

    python3 perfbench/run.py --workload <table_io|ann_lifecycle|ingest_dedup>
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S

One run is one single-process, closed-loop client on ``local[4]``: set up
(session, seeded inputs, untimed warm-up calls of every op), then run the
workload's rounds until ``--seconds`` have passed, then the closing ops.
Every op's answer is checked against the generator. The last stdout line
is the result JSON; the lines before it are the human-readable record
(see perfbench/README.md for every metric and its mapping).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` switches on
Spark's event log and the layer span recorders and reports the per-layer
metrics instead. ``--workload all`` runs each workload in its own process
and prints every record.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import datetime  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
ONE_SHOT = ("ann_build", "ann_check", "ingest_build")  # once per run
WORKLOAD_NAMES = ("table_io", "ann_lifecycle", "ingest_dedup")
CORES = 4
OVERHEAD_PAIRS = 3  # untraced/traced read pairs behind trace.overhead_ratio


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    v = sorted(values)
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def tail(values) -> tuple[float, float] | None:
    """(percentile, value) for the highest percentile with at least ten
    samples above it, or None when there are too few samples."""
    n = len(values)
    if n < 11:
        return None
    q = 100.0 * (n - 10) / n
    q = int(q)  # whole percentiles, rounded down so >= 10 samples lie above
    return float(q), percentile(values, q)


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of ``root`` and every live descendant
    (the JVM and its Python workers), reaped children included."""
    children: dict[int, list[int]] = defaultdict(list)
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # fields after "(comm)": state, ppid, ..., utime, stime, cutime, cstime
        fields = stat[stat.rindex(")") + 2:].split()
        children[int(fields[1])].append(int(name))
        ticks[int(name)] = sum(int(x) for x in fields[11:15])
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total / CLK_TCK


# The JVM's JIT compiler threads (their names as /proc shows them). Their
# CPU is warm-up, not the op's work, so op CPU leaves it out. The JVM is
# started with a fixed set of them (-XX:-UseDynamicNumberOfCompilerThreads):
# a compiler thread that exited would take its CPU count with it.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_cpu_s(jvm: int) -> float:
    """CPU seconds the JVM's JIT compiler threads have used."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if stat[stat.index("(") + 1:stat.rindex(")")] in JIT_THREADS:
            fields = stat[stat.rindex(")") + 2:].split()
            total += int(fields[11]) + int(fields[12])
    return total / CLK_TCK


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return cpu[7], sum(cpu)


def source_digest() -> str:
    """Content digest of the library and the benchmark (the checkout the
    benchmark runs in is not a git repository)."""
    h = hashlib.sha256()
    for top in ("hive_io_experimental_spark", "perfbench"):
        for root, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def head() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except OSError:
        return "src:" + source_digest()
    if out.returncode == 0:
        return out.stdout.strip()
    return "src:" + source_digest()


class Bench:
    """Runs one workload: times ops, checks answers, collects metrics."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work_dir = os.path.join(ROOT, ".perfbench_tmp", f"{workload}-{os.getpid()}")
        self.data_dir = os.path.join(self.work_dir, "data")
        self.log_dir = os.path.join(self.work_dir, "eventlog")
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.cpu: dict[str, list[float]] = defaultdict(list)
        self.jit: dict[str, list[float]] = defaultdict(list)
        self.failed_cpu: dict[str, list[float]] = defaultdict(list)
        self.jobs: dict[str, list[int]] = defaultdict(list)
        self.facts: dict[str, list[dict]] = defaultdict(list)
        self.layer: dict[str, float] = {}
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.tracer = None
        self._tracker_jobs: list[int] = []
        self._setup_ops_s = 0.0

    # -- session -------------------------------------------------------------

    def start_session(self) -> None:
        for d in (self.data_dir, os.path.join(self.work_dir, "local")):
            os.makedirs(d, exist_ok=True)
        tmp = os.path.join(self.work_dir, "local")
        os.environ["TMPDIR"] = tmp
        import tempfile

        tempfile.tempdir = tmp
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "spark-warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads"),
        }
        if self.trace:
            os.makedirs(self.log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.log_dir,
                # uncompressed, so it reads line by line with no codec
                # (the default zstd is not available to every Python)
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
        sys.path.insert(0, ROOT)
        from hive_io_experimental_spark.session import get_spark

        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}", master=f"local[{CORES}]",
            extra_conf=conf,
        )
        sc = self.spark.sparkContext
        self._tracker = sc.statusTracker()
        self._bus = sc._jsc.sc().listenerBus()
        self._jvm_pid = sc._gateway.proc.pid if sc._gateway.proc else None
        if self.trace:
            from perfbench.trace import Tracer

            self.tracer = Tracer(sc._jsc.sc())
            self.tracer.install()

    def cpu_now(self) -> tuple[float, float]:
        """(CPU seconds of this process tree less JIT compilation, JIT
        compilation CPU seconds) so far."""
        jit = jit_cpu_s(self._jvm_pid)
        return tree_cpu_s(os.getpid()) - jit, jit

    def _last_job_id(self) -> int:
        # the status store is fed by the asynchronous listener bus: drain
        # it first so every job the op submitted is visible
        self._bus.waitUntilEmpty()
        return max(self._tracker.getJobIdsForGroup(None) or [-1])

    # -- ops -----------------------------------------------------------------

    def op(self, name: str, run, check, warm: bool) -> float | None:
        """Time ``run()``, then ``check`` its result; returns the wall time,
        or None when the op raised or gave a wrong answer."""
        j0 = self._last_job_id()
        if self.tracer:
            self.tracer.begin_op(name, warm)
        c0 = self.cpu_now()
        e0 = time.time()
        t0 = time.perf_counter()
        error = None
        try:
            result = run()
        except Exception:
            error = traceback.format_exc(limit=3)
        wall = time.perf_counter() - t0
        e1 = time.time()
        c1 = self.cpu_now()
        cpu, jit = c1[0] - c0[0], c1[1] - c0[1]
        if self.tracer:
            self.tracer.end_op(wall, e0, e1)
        j1 = self._last_job_id()
        if self.tracer and not warm:
            self._tracker_jobs.append(j1 - j0)
        facts = None
        if error is None:
            try:
                facts = check(result)
            except Exception as exc:  # WrongAnswer or a malformed result
                error = f"{type(exc).__name__}: {exc}"
        self.attempted += 1
        if error is not None:
            self.failed += 1
            if not warm:
                self.failed_cpu[name].append(cpu)
            self.failures.append(f"{name}: {error.strip().splitlines()[-1]}")
            return None
        if warm:
            return wall
        self.samples[name].append(wall)
        self.cpu[name].append(cpu)
        self.jit[name].append(jit)
        self.jobs[name].append(j1 - j0)
        if facts:
            self.facts[name].append(facts)
        if not self._loop_started:
            self._setup_ops_s += wall
        return wall

    def time_left(self) -> bool:
        return time.perf_counter() < self.deadline

    # -- run -----------------------------------------------------------------

    def run(self) -> dict:
        from perfbench.workloads import WORKLOADS

        self._loop_started = False
        self.phases = {"imports_s": time.perf_counter() - PROCESS_T0}
        t = time.perf_counter()
        self.start_session()
        self.phases["session_s"] = time.perf_counter() - t
        wl = WORKLOADS[self.workload]()
        wl.setup(self)
        t_loop = time.perf_counter()
        self.phases["workload_setup_s"] = t_loop - t - self.phases["session_s"]
        self.setup_s = t_loop - PROCESS_T0 - self._setup_ops_s
        self._loop_started = True
        rounds = 0
        self.deadline = t_loop + self.seconds
        st0 = steal_ticks()
        # a run whose ops got much faster may use up its generated inputs
        # before the deadline; it then ends early with what it measured
        while self.time_left() and wl.has_inputs():
            wl.step(self)
            rounds += 1
        self.loop_s = time.perf_counter() - t_loop
        st1 = steal_ticks()
        self.loop_steal = (st1[0] - st0[0]) / max(1, st1[1] - st0[1])
        self.rounds = rounds
        if self.tracer:
            self.overhead_pass(wl)
        t = time.perf_counter()
        wl.finish(self)
        self.phases["finish_s"] = time.perf_counter() - t
        self.layer["session.peak_rss_mb"] = self._peak_rss_mb()
        return self.results()

    def overhead_pass(self, wl) -> None:
        """Untraced/traced pairs of the workload's read op in this process:
        the untraced call runs with the spans and the event log switched
        off, the traced one with both on."""
        self.overhead = {"untraced": [], "traced": []}
        wl.read_again(self)  # the first call on the re-read input is slower
        for _ in range(OVERHEAD_PAIRS):
            self.tracer.pause()
            try:
                untraced = wl.read_again(self)
            finally:
                self.tracer.resume()
            traced = wl.read_again(self)
            if untraced is not None and traced is not None:
                self.overhead["untraced"].append(untraced)
                self.overhead["traced"].append(traced)

    def _peak_rss_mb(self) -> float:
        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        if self._jvm_pid:
            with open(f"/proc/{self._jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        return kb / 1024.0

    def close(self) -> None:
        """Stop the session, then the JVM it launched, and wait for it."""
        if self.tracer:
            self.tracer.uninstall()
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        spark.stop()
        if gateway is None or gateway.proc is None:
            return
        gateway.shutdown()
        # the JVM exits when its stdin closes
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()

    # -- metrics -------------------------------------------------------------

    @staticmethod
    def slot_samples(slot: str, by_op: dict) -> list[float]:
        from perfbench.workloads import OP_SLOT

        return [s for op, v in by_op.items() if OP_SLOT[op] == slot for s in v]

    def end_to_end(self) -> dict:
        """Set-up wall time, and per slot the median CPU seconds of its
        timed ops (see perfbench/README.md for why CPU, not wall time)."""
        from perfbench.workloads import SLOTS

        def p50(slot):
            # a slot whose every op failed still reports what those
            # attempts cost; the result's correct/failed say they failed
            v = self.slot_samples(slot, self.cpu) or self.slot_samples(slot, self.failed_cpu)
            if not v:
                raise RuntimeError(f"no timed {slot} op in the run")
            return statistics.median(v)

        out = {"setup_s": (self.setup_s, "s")}
        for slot in SLOTS:
            out[f"{slot}_cpu_s"] = (p50(slot), "cpu-s")
        return out

    def named_metrics(self) -> dict:
        """The workload's metrics under their own names (the record)."""
        from perfbench import gen

        s, cpu = dict(self.samples), dict(self.cpu)
        if self.workload == "ingest_dedup":
            for d in (s, cpu):
                d["ingest_tick"] = [a + b + c for a, b, c in zip(
                    d.get("ingest_exact", []), d.get("ingest_neardups", []),
                    d.get("ingest_append", []))]
        out = {"setup_s": (self.setup_s, "s"),
               "op_fail_ratio": (self.failed / max(1, self.attempted), "ratio")}
        for op, v in s.items():
            if not v:
                continue
            out[f"{op}_s" if op in ONE_SHOT else f"{op}_p50_s"] = (statistics.median(v), "s")
            out[f"{op}_cpu_s" if op in ONE_SHOT else f"{op}_cpu_p50_s"] = (
                statistics.median(cpu[op]), "cpu-s")
            t = tail(v)
            if t:
                out[f"{op}_tail_s"] = (t[1], f"s@p{t[0]:g}/n={len(v)}")
        if s.get("scan"):
            out["scan_mb_per_s"] = (statistics.median(
                f["mb"] / w for f, w in zip(self.facts["scan"], s["scan"])), "MB/s")
        if s.get("bulk_write"):
            out["bulk_write_rows_per_s"] = (
                gen.BULK_ROWS / statistics.median(s["bulk_write"]), "rows/s")
        if s.get("ingest_tick"):
            out["ingest_docs_per_s"] = (
                gen.DOC_BATCH * len(s["ingest_tick"]) / sum(s["ingest_tick"]), "docs/s")
        for k, v in self.layer.items():
            if k.startswith("ingest."):
                out[k] = (v, "ratio")
        return out

    def job_steadiness(self) -> dict:
        """Each op's StatusTracker job count must repeat exactly."""
        return {"violations": {op: sorted(set(v)) for op, v in self.jobs.items()
                               if len(set(v)) > 1}}

    def traced_metrics(self, rec: dict) -> dict:
        """Per-slot Spark and layer counters (means per timed call), the
        storage and quality ratios, and the trace self-checks."""
        from perfbench import trace as tr
        from perfbench.workloads import OP_SLOT, SLOTS

        ops = [o for o in self.tracer.ops if not o["warm"]]
        spark_c = tr.attribute_jobs(ops, tr.read_event_log(self.log_dir))
        layer_c = self.tracer.layer_counters()
        per_op: dict[str, list[dict]] = defaultdict(list)
        mismatches = []
        for o, tracker_jobs in zip(ops, self._tracker_jobs):
            r = dict(spark_c[o["index"]], **layer_c[o["index"]], wall_s=o["wall_s"])
            per_op[o["op"]].append(r)
            if r["jobs"] != tracker_jobs:
                mismatches.append((o["op"], tracker_jobs, r["jobs"]))
        out = {}
        for slot in SLOTS:
            recs = [r for op, rs in per_op.items() if OP_SLOT[op] == slot for r in rs]
            if not recs:
                raise RuntimeError(f"no traced {slot} op")

            def mean(key):
                return statistics.fmean(r[key] for r in recs)

            out[f"{slot}.wall_s"] = (mean("wall_s"), "s")
            out[f"{slot}.jobs"] = (mean("jobs"), "count")
            out[f"{slot}.stages"] = (mean("stages"), "count")
            out[f"{slot}.driver_gap_s"] = (mean("driver_gap_s"), "s")
            out[f"{slot}.task_s"] = (mean("task_s"), "s")
            out[f"{slot}.input_mb"] = (mean("input_b") / 2**20, "MB")
            out[f"{slot}.shuffle_mb"] = (mean("shuffle_b") / 2**20, "MB")
            for key, unit in tr.LAYER_UNITS.items():
                out[f"{slot}.{key}"] = (mean(key), unit)
        if not self.overhead["traced"]:
            raise RuntimeError("every overhead pair failed")
        out["trace.overhead_ratio"] = (statistics.median(self.overhead["traced"])
                                       / statistics.median(self.overhead["untraced"]), "ratio")
        out["trace.job_count_mismatches"] = (float(len(mismatches)), "count")
        if self.workload == "table_io":
            # rows the pruned scans returned per row their tasks read
            rows = sum(f["rows"] for f in self.facts["pruned_scan"])
            read = sum(r["input_rows"] for r in per_op["pruned_scan"])
            self.layer["quality.useful_ratio"] = rows / max(1, read)
        for key, unit in LAYER_EXTRA_UNITS.items():
            out[key] = (self.layer[key], unit)
        rec["per_op"] = {
            op: dict({k: statistics.fmean(r[k] for r in rs) for k in rs[0]}, calls=len(rs))
            for op, rs in per_op.items()
        }
        rec["trace_checks"] = {"job_count_mismatches": mismatches[:20],
                               "overhead_pairs_s": self.overhead}
        rec["job_counts_match"] = not mismatches
        return out

    def results(self) -> dict:
        return {
            "workload": self.workload, "seed": self.seed, "head": head(),
            "generated_at": datetime.datetime.now(datetime.timezone.utc).isoformat(
                timespec="seconds"),
            "nproc": os.cpu_count(), "master": f"local[{CORES}]",
            "seconds": self.seconds, "loop_s": round(self.loop_s, 3),
            "rounds": self.rounds, "trace": int(self.trace),
            "attempted": self.attempted, "failed": self.failed,
            "failures": self.failures[:20],
            "samples": {k: len(v) for k, v in self.samples.items()},
            "walls": {k: [round(x, 4) for x in v] for k, v in self.samples.items()},
            "cpu": {k: [round(x, 3) for x in v] for k, v in self.cpu.items()},
            "jit": {k: [round(x, 3) for x in v] for k, v in self.jit.items()},
            "loop_steal_share": self.loop_steal,
            "jobs_per_op": {k: sorted(set(v)) for k, v in self.jobs.items()},
            "layer": dict(self.layer),
            "phases": {k: round(v, 3) for k, v in self.phases.items()},
        }


LAYER_EXTRA_UNITS = {
    "storage.bytes_per_user_byte": "ratio", "storage.mb_per_commit": "MB",
    "quality.useful_ratio": "ratio", "session.peak_rss_mb": "MB",
}


def run_one(args) -> int:
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        try:
            rec = bench.run()
        finally:
            # stopping the session also flushes the event log
            bench.close()
        steady = bench.job_steadiness()
        rec["job_steadiness"] = steady
        metrics = bench.traced_metrics(rec) if bench.trace else bench.end_to_end()
    finally:
        shutil.rmtree(bench.work_dir, ignore_errors=True)
    rec["named"] = {k: [v, u] for k, (v, u) in bench.named_metrics().items()}
    correct = (bench.failed == 0 and not steady["violations"]
               and rec.get("job_counts_match", True))
    os.makedirs(OUT_DIR, exist_ok=True)
    stem = f"{args.workload}.seed{args.seed}.trace{int(args.trace)}"
    if bench.tracer:
        bench.tracer.dump(os.path.join(OUT_DIR, stem + ".spans.json"))
    rec["metrics"] = {k: [v, u] for k, (v, u) in metrics.items()}
    with open(os.path.join(OUT_DIR, stem + ".json"), "w") as f:
        json.dump(rec, f, indent=1, default=str)
    print_record(rec)
    print(json.dumps({
        "correct": bool(correct),
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def print_record(rec: dict) -> None:
    print(f"# perfbench {rec['workload']} seed={rec['seed']} head={rec['head']} "
          f"generated_at={rec['generated_at']} nproc={rec['nproc']} "
          f"trace={rec['trace']} rounds={rec['rounds']} loop_s={rec['loop_s']}")
    for k, (v, u) in rec["named"].items():
        print(f"{rec['workload']}.{k} = {v:.6g} {u}")
    print(f"{rec['workload']}.phases = {json.dumps(rec['phases'])}")
    print(f"{rec['workload']}.samples = {json.dumps(rec['samples'])}")
    print(f"{rec['workload']}.jobs_per_op = {json.dumps(rec['jobs_per_op'])}")
    if rec["failures"]:
        print(f"{rec['workload']}.failures = {json.dumps(rec['failures'])}")
    print("record " + json.dumps(rec, default=str))


def run_all(args) -> int:
    """Every workload in its own process; print each one's record."""
    status = 0
    for wl in WORKLOAD_NAMES:
        for trace in (0, 1) if args.trace else (0,):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            proc = subprocess.run(cmd, capture_output=True, text=True)
            print("\n".join(line for line in proc.stdout.splitlines()
                            if not line.startswith("record ")), flush=True)
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-4000:])
                status = proc.returncode
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
