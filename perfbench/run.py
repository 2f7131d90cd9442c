"""Benchmark entry point.

    python3 perfbench/run.py --workload gen_count --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout.  One process runs one workload:
set-up (seeded inputs, Spark session, one untimed warm pass), then timed
operations for --seconds, then output checks.  The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}.  With --trace 0
the metrics are the end-to-end ones; with --trace 1 the run enables the Spark
event log, labels each call with setJobDescription, times public-function
prefixes, and reports the per-layer metrics instead.  The line before it,
prefixed "detail ", carries everything else the run measured (per-layer self
times of the workload's own modules, the host spin, the settings used).

All scratch files live under .perfbench_run/ in the checkout and are removed
when the run ends; traced runs keep their profile (spans and folded event
log) in .perfbench_run/profiles/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "liatrio_otel_collector_spark"
# The session's own default (12g) is sized for a larger host than the 4-core,
# 15 GB one this benchmark is sized for; override with SPARK_DRIVER_MEMORY.
DEFAULT_DRIVER_MEMORY = "2g"
TINY_SCALE = 0.05


def process_start_time() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


PF_FORKNOEXEC = 0x40  # /proc/<pid>/stat flags: forked and not yet exec'd


def proc_table() -> dict[int, tuple[str, int, int]]:
    """pid -> (comm, ppid, flags) of every process, from /proc/<pid>/stat."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
            fields = stat[stat.rindex(")") + 2:].split()
            out[int(entry)] = (stat[stat.index("(") + 1:stat.rindex(")")],
                               int(fields[1]), int(fields[6]))
        except (OSError, ValueError, IndexError):
            continue
    return out


def descendants(pid: int, table=None) -> list[int]:
    table = proc_table() if table is None else table
    children: dict[int, list[int]] = {}
    for p, (_, ppid, _) in table.items():
        children.setdefault(ppid, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds(pids) -> float:
    """User + system CPU time of `pids` and of their children that have
    ended, from /proc/<pid>/stat.  The kernel leaves time stolen by other
    guests on the host out of it."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, ValueError, IndexError):
            pass
    return total / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU time of this process, the Spark JVM and its Python workers."""
    return cpu_seconds([os.getpid(), *descendants(os.getpid())])


def rss_bytes(pids) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            pass
    return total


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the Spark
    JVM and its Python workers), sampled from /proc every 200 ms.  `at_peak`
    splits the peak sample into this process, the JVM and the Python
    workers."""

    def __init__(self) -> None:
        self.peak = 0
        self.at_peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            table = proc_table()
            others = descendants(me, table)
            jvm = [p for p in others if table[p][0] == "java" and table[table[p][1]][0] != "java"]
            # a child the JVM is spawning shares or copies the JVM's memory
            # until it execs; counting it would add the JVM a second time
            workers = [p for p in others if p not in jvm and not (
                table[table[p][1]][0] == "java" and table[p][2] & PF_FORKNOEXEC)]
            parts = {"main": rss_bytes([me]), "jvm": rss_bytes(jvm),
                     "python_workers": rss_bytes(workers)}
            total = sum(parts.values())
            if total > self.peak:
                self.peak = total
                self.at_peak = {**parts, "n_python_workers": len(workers)}
            self._stop.wait(0.2)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class Span:
    __slots__ = ("id", "name", "parent", "start", "end")

    def __init__(self, sid, name, parent, start):
        self.id, self.name, self.parent, self.start, self.end = sid, name, parent, start, None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans (name, start, end, parent).  When `label_jobs` is set,
    the innermost open span's path is the Spark job description, so the
    event log can be folded per span."""

    def __init__(self, spark, label_jobs: bool) -> None:
        self.spark = spark
        self.label_jobs = label_jobs
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self.t0 = time.perf_counter()

    def path(self) -> str | None:
        return "/".join(s.name for s in self._open) or None

    @contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), name, self._open[-1].id if self._open else None,
                 time.perf_counter() - self.t0)
        self.spans.append(s)
        self._open.append(s)
        if self.label_jobs:
            self.spark.sparkContext.setJobDescription(self.path())
        try:
            yield s
        finally:
            s.end = time.perf_counter() - self.t0
            self._open.pop()
            if self.label_jobs:
                self.spark.sparkContext.setJobDescription(self.path())

    def dump(self) -> list[dict]:
        return [{"id": s.id, "name": s.name, "parent": s.parent, "start": s.start,
                 "end": s.end} for s in self.spans]


class Context:
    def __init__(self, args, scratch: str) -> None:
        self.seed = args.seed
        self.corrupt = args.corrupt_expected
        self.tiny = args.tiny
        self.scratch = scratch
        self.spark = None
        self.tracer = None

    def scaled(self, n: int) -> int:
        return max(int(n * TINY_SCALE), 1000) if self.tiny else n

    @staticmethod
    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spin_ms() -> float:
    """A fixed single-core Python loop: a host-speed reading taken before and
    after the run, to tell a slow host from a slow program."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x += i * i
    return (time.perf_counter() - t0) * 1e3


# The reference loop: REF_LOOP iterations of a fixed single-thread loop take
# REF_LOOP_CPU_S of CPU time on the reference core.
REF_LOOP, REF_LOOP_CPU_S = 1_000_000, 0.05


def ref_loop_cpu_s() -> float:
    """CPU time of the reference loop on this host now, least of three.
    The host's per-core speed moves with the load of the other guests
    sharing its cores (the loop took 50-100 ms within one hour), and the
    program's CPU time moves with it."""
    best = float("inf")
    for _ in range(3):
        t0 = time.thread_time()
        x = 0
        for i in range(REF_LOOP):
            x += i * i
        best = min(best, time.thread_time() - t0)
    return best


def cpu_ticks() -> list[int]:
    """The host's cpu line from /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_ratio(before: list[int], after: list[int]) -> float:
    """The share of the host's CPU time taken by other guests (steal)
    between two `cpu_ticks` readings."""
    d = [a - b for a, b in zip(after, before)]
    return d[7] / max(sum(d[:8]), 1)


def stop_spark(spark) -> None:
    """Stop the session (if one started), the gateway JVM and every process
    left under this one, and wait until each has ended."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = descendants(os.getpid())
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while left and time.time() < deadline:
            for p in left:
                try:
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            left = [p for p in left if os.path.exists(f"/proc/{p}")
                    and not _zombie(p)]
            time.sleep(0.05)
        if not left:
            break


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="shrink every input (self-check)")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="make one expected value wrong (self-check)")
    args = ap.parse_args()
    t_proc = process_start_time()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ in {ROOT}; run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))  # what `nproc` prints
    cpus = min(int(os.environ.get("SPARK_GRAFT_CPUS", nproc)), nproc)
    base = os.path.join(ROOT, ".perfbench_run")
    scratch = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY", DEFAULT_DRIVER_MEMORY),
        "SPARK_GRAFT_LOCAL_DIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_SCRATCH": tmp,
        "TMPDIR": tmp,
        # every JVM the session starts keeps its temp files in the checkout
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
    })
    import tempfile

    tempfile.tempdir = tmp
    try:
        result = measure(args, WORKLOADS[args.workload](), Context(args, scratch), t_proc,
                         nproc, cpus, base)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print("detail " + json.dumps(result.pop("detail"), default=float))
    print(json.dumps(result), flush=True)
    return 0


def measure(args, workload, ctx, t_proc, nproc, cpus, base) -> dict:
    """Set up, warm, time, check and (traced) profile one workload; returns
    the result object, with the extra readings under "detail"."""
    from workloads import dir_bytes

    scratch = ctx.scratch
    spark = None
    try:
        t0 = time.perf_counter()
        spin_before = spin_ms()
        ref_before = ref_loop_cpu_s()
        workload.setup(ctx)
        # the spin and the seeded inputs are the benchmark's own work, not
        # the program's set-up
        own_s = time.perf_counter() - t0
        inputs_s = own_s - spin_before / 1e3
        from liatrio_otel_collector_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        }
        evlog = os.path.join(scratch, "eventlog")
        if args.trace:
            os.makedirs(evlog)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{evlog}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        spark = ctx.spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        session_start_s = time.perf_counter() - t0
        ctx.tracer = Tracer(spark, label_jobs=bool(args.trace))
        with ctx.tracer.span("warm") as warm:
            workload.warm(ctx)
        setup_s = time.time() - t_proc - own_s
        # set-up is scaled to the reference core like the operations, by the
        # reference loop's mean time before and after it
        setup_scale = (ref_before + ref_loop_cpu_s()) / (2 * REF_LOOP_CPU_S)
        ctx.log(f"setup {setup_s:.1f} s (inputs {inputs_s:.1f} s apart): session "
                f"{session_start_s:.1f} s, warm pass {warm.dur:.1f} s")

        ops, op_cpu_s, op_ref_loop_s = [], [], []
        ticks = cpu_ticks()
        t_timed = time.perf_counter()
        with RssSampler() as rss:
            while (len(ops) < workload.min_ops
                   or time.perf_counter() - t_timed < args.seconds):
                op_ref_loop_s.append(ref_loop_cpu_s())
                c0 = tree_cpu_s()
                ops.append(workload.op(ctx))
                op_cpu_s.append(tree_cpu_s() - c0)
                if ops[-1].failed:  # the run is already incorrect; stop timing
                    break
            timed_s = time.perf_counter() - t_timed
            steal = steal_ratio(ticks, cpu_ticks())
            scratch_bytes = dir_bytes(scratch)
        attempted = sum(o.attempted for o in ops)
        failed = sum(o.failed for o in ops)
        if hasattr(workload, "verify"):
            a, f = workload.verify(ctx)
            attempted, failed = attempted + a, failed + f

        if args.trace:
            self_times, traced_wall, layer_extra = workload.layers(ctx)
        spin_after = spin_ms()
    finally:
        stop_spark(spark)

    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "tiny": args.tiny, "nproc": nproc, "spark_graft_cpus": cpus,
        "spark_driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "host_spin_ms": [round(spin_before, 1), round(spin_after, 1)],
        "host_steal_ratio": steal,
        "setup_s": {"inputs": inputs_s, "session_start": session_start_s, "warm": warm.dur,
                    "from_process_start": setup_s + own_s, "unscaled": setup_s,
                    "ref_loop_scale": setup_scale},
        "ops": len(ops), "timed_s": timed_s, "op_wall_s": [o.wall_s for o in ops],
        "op_cpu_s": op_cpu_s, "op_ref_loop_s": op_ref_loop_s,
        "scratch_bytes": scratch_bytes, "rss_at_peak": rss.at_peak,
        "failed_ops_ratio": failed / max(attempted, 1),
    }
    if args.trace:
        from eventlog import fold, total

        # the log is complete once the session has stopped
        windows = workload.job_windows() if hasattr(workload, "job_windows") else ()
        folded = fold(os.path.join(evlog, os.listdir(evlog)[0]), windows)
        if hasattr(workload, "folded_layers"):
            layer_extra.update(workload.folded_layers(folded))

        # the timed operations' jobs
        passes = {k for k in folded if k.startswith("pass")}
        timed = total(folded, passes)
        everything = total(folded)
        pass_s = statistics.median(o.wall_s for o in ops)
        busy = timed["run_s"] / (timed_s * cpus)
        metrics = {
            "session.start_s": metric(session_start_s, "s"),
            "spark.python_worker_start_s": metric(everything["python_worker_start_s"], "s"),
            "spark.executor_run_s": metric(timed["run_s"] / len(ops), "s"),
            "spark.executor_cpu_s": metric(timed["cpu_s"] / len(ops), "s"),
            "spark.jvm_gc_s": metric(timed["gc_s"] / len(ops), "s"),
            "spark.python_run_s": metric(timed["python_run_s"] / len(ops), "s"),
            "spark.python_bytes_sent": metric(timed["python_bytes_sent"] / len(ops), "bytes"),
            "spark.python_bytes_returned": metric(timed["python_bytes_returned"] / len(ops), "bytes"),
            "spark.shuffle_write_bytes": metric(timed["shuffle_write_bytes"] / len(ops), "bytes"),
            "spark.shuffle_read_bytes": metric(timed["shuffle_read_bytes"] / len(ops), "bytes"),
            "spark.peak_exec_mem_bytes": metric(timed["peak_exec_mem_bytes"], "bytes"),
            "spark.jobs": metric(timed["jobs"] / len(ops), "count"),
            "spark.tasks": metric(timed["tasks"] / len(ops), "count"),
            "spark.core_busy_ratio": metric(busy, "ratio"),
            "trace.pass_s": metric(pass_s, "s"),
        }
        detail["layers"] = {**self_times, **layer_extra}
        detail["layer_wall_s"] = traced_wall
        detail["layer_sum_ratio"] = sum(self_times.values()) / traced_wall
        detail["spill_bytes"] = timed["spill_bytes"]
        detail["tasks_failed"] = timed["tasks_failed"]
        try:
            with open(os.path.join(base, f"last-untraced-{args.workload}.json")) as f:
                untraced = json.load(f)["pass_s"]
            detail["tracing_overhead_ratio"] = pass_s / untraced - 1
        except (OSError, ValueError, KeyError):
            detail["tracing_overhead_ratio"] = None  # no untraced run in this checkout yet
        detail["event_log"] = folded
        profiles = os.path.join(base, "profiles")
        os.makedirs(profiles, exist_ok=True)
        with open(os.path.join(profiles, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({**detail, "spans": ctx.tracer.dump()}, f, indent=1)
    else:
        if hasattr(workload, "summary"):
            seq_per_s, batch_p50_s = workload.summary()
        else:
            seq_per_s = statistics.median(o.seqs / o.wall_s for o in ops)
            # a drain that raised has no batch latencies; its wall stands in
            batch_p50_s = statistics.median(
                [b for o in ops for b in o.batch_s] or [o.wall_s for o in ops])
        # Wall time on a shared host follows the other guests' load (a pass
        # takes up to twice as long at 20% steal), so the gated throughput
        # is per CPU second, which the kernel counts without stolen time,
        # scaled to the reference core by the reference loop run just
        # before each operation.
        detail.update(seq_per_s=seq_per_s, batch_p50_s=batch_p50_s,
                      seq_per_cpu_s=statistics.median(
                          o.seqs / c for o, c in zip(ops, op_cpu_s)))
        # Only the first min_ops operations count: the CPU time per operation
        # still falls call over call (JIT), and a faster host fits more
        # operations into --seconds.
        first = list(zip(ops, op_cpu_s, op_ref_loop_s))[:workload.min_ops]
        metrics = {
            "seq_per_ref_cpu_s": metric(statistics.median(
                o.seqs * r / (c * REF_LOOP_CPU_S) for o, c, r in first), "seq/ref-cpu-s"),
            "setup_s": metric(setup_s / setup_scale, "s"),
            "peak_rss_mb": metric(rss.peak / 2**20, "MB"),
        }
        if not args.tiny and not args.corrupt_expected:
            with open(os.path.join(base, f"last-untraced-{args.workload}.json"), "w") as f:
                json.dump({"seed": args.seed,
                           "pass_s": statistics.median(o.wall_s for o in ops)}, f)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics, "detail": detail}


if __name__ == "__main__":
    sys.exit(main())
