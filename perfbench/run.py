"""tbl_spark benchmark: one closed-loop client, one op at a time.

    python3 perfbench/run.py --workload tokens_ingest --seed 1 \
        --seconds 20 --trace 0 [--smoke]

Run from the repository root. The workloads are described in
``workloads.py`` and ``BENCHMARK.json``. The run starts a ``local[<cpus>]``
Spark session, sets up the workload (timed as ``setup_s``; repeated
``SETUP_REPS`` times and reported as the median), computes the reference
values of the checks (which also runs every Spark and Python-worker path
the ops use once, as a warm-up), then runs op cycles back to back until
``--seconds`` have passed and at least ``MIN_CYCLES`` cycles have run. Op
times are reported as medians over the cycles.

Each op is timed twice: in wall seconds, and in CPU seconds (user + system)
of the whole process tree, i.e. this process, the JVM and its Python
workers. The gated cycle metric is CPU time: on 4 virtual cores of a
shared host, the wall time of a cycle spread 25-40% (quartile distance over
median, ten seeds) as the host's other guests came and went, while its CPU
time, which time stolen by the host does not inflate, spread 10-25%. Wall
times are printed in the report.
Every op's output is checked against a checksum of the source; an op that
fails its check or raises counts in ``failed`` and is left out of the
timings.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, cycles alternate
between traced and untraced (their difference is the tracing overhead),
and the spans are written to ``.perfbench/traces/``. Every metric, with
its unit, is also printed as a readable report above the JSON line.
``--smoke`` uses tiny inputs so every op, check and span path runs in
seconds.
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
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 3
# a median of one sample is that sample; traced runs also need one traced
# and one untraced cycle
MIN_CYCLES = 2
DRIVER_MEM = "4g"       # leaves most of a 16 GB machine to the workers
# A run lives about a minute. On a few cores, C2-compiling Spark's code in
# that minute costs more CPU than the compiled code saves, and makes the
# first cycles slower than the rest; the C1 compiler alone warms up in
# seconds.
JVM_OPTS = "-XX:-UsePerfData -XX:TieredStopAtLevel=1"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


# -- process accounting --------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def hwm_mb(pids: list[int]) -> float:
    """Sum of each process's own peak resident memory (VmHWM) so far."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                total += next(int(line.split()[1]) for line in f
                              if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return total / 1e3


def cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of ``pids``, with their reaped children."""
    ticks = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        ticks += sum(int(x) for x in fields[11:15])   # utime .. cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    me = os.getpid()
    return cpu_s([me] + descendants(me))


class RssSampler(threading.Thread):
    """Peak resident memory of this process and every descendant (the JVM
    and its Python workers): the largest sum, over the processes alive at
    one sample, of each one's peak so far. The kernel keeps each peak, so a
    spike between two samples still counts."""

    def __init__(self, period: float = 0.5):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, hwm_mb([me] + descendants(me)))
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak


# -- run context ---------------------------------------------------------------

class Ctx:
    def __init__(self, seed: int, size: dict, tracer, work: str):
        self.seed, self.size, self.tracer, self.work = seed, size, tracer, work
        self.spark = None
        self.trace_run = tracer.enabled
        self._n = 0

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def fresh_dir(self, prefix: str) -> str:
        self._n += 1
        p = os.path.join(self.work, f"{prefix}-{self._n}")
        os.makedirs(p)
        return p

    def span(self, name: str):
        return self.tracer.span(name)

    @contextmanager
    def check(self):
        """Correctness checks: untraced, and in their own job group."""
        enabled = self.tracer.enabled
        self.tracer.enabled = False
        try:
            yield
        finally:
            self.tracer.enabled = enabled

    def start_session(self) -> None:
        from tbl_spark.session import get_spark
        with self.span("session.start"):
            # get_spark's floor of 32 shuffle partitions is sized for
            # larger machines; 4 per core is its own rule without the floor
            self.spark = get_spark(shuffle_partitions=4 * cpu_count())
            # one scan split per staged file, so the colocated encode
            # has one task per core-sized piece of input
            self.spark.conf.set("spark.sql.files.maxPartitionBytes", "2m")
            self.spark.sparkContext.setLogLevel("ERROR")

    def stop_jvm(self) -> None:
        """Stop Spark, then the JVM, and wait until the JVM and the Python
        workers it started have exited."""
        from pyspark import SparkContext
        me = os.getpid()
        procs = descendants(me)
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 — the JVM may be gone already
                pass
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(30)
                except Exception:  # noqa: BLE001
                    proc.kill()
                    proc.wait(10)
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 20
        alive = procs
        while alive and time.time() < deadline:
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                     and _state(p) != "Z"]
            time.sleep(0.1)
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
        return s[s.rindex(")") + 2]
    except OSError:
        return "Z"


def spark_counts(spark, groups: list[str]) -> tuple[int, int, int]:
    """(stages, tasks, failed tasks) of every job in ``groups``."""
    st = spark.sparkContext.statusTracker()
    stages = tasks = failed = 0
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            job = st.getJobInfo(jid)
            if job is None:
                continue
            for sid in job.stageIds:
                stages += 1
                info = st.getStageInfo(sid)
                if info is not None:
                    tasks += info.numTasks
                    failed += info.numFailedTasks
    return stages, tasks, failed


_T0 = time.perf_counter()


def phase(what: str) -> None:
    print(f"[{time.perf_counter() - _T0:7.1f}s] {what}", file=sys.stderr,
          flush=True)


# -- the measurement -----------------------------------------------------------

def run_cycle(ctx, wl, cycle_no: int, results: list[dict]) -> None:
    for op_name, fn in wl.cycle():
        op_id = len(results)
        group = f"op-{op_id}"
        rec = {"op": op_name, "id": op_id, "cycle": cycle_no,
               "traced": ctx.tracer.enabled, "group": group, "ok": False}
        sc = ctx.spark.sparkContext

        @contextmanager
        def timed():
            sc.setJobGroup(group, op_name)
            with ctx.tracer.op(op_id, op_name):
                c0 = tree_cpu_s()
                t0 = time.perf_counter()
                yield
                rec["s"] = time.perf_counter() - t0
                rec["cpu_s"] = tree_cpu_s() - c0
            sc.setJobGroup(f"check-{op_id}", op_name)

        try:
            rec.update(fn(timed))
            rec["ok"] = "s" in rec
        except Exception as e:  # noqa: BLE001 — a failed op is counted
            rec["error"] = f"{type(e).__name__}: {e}"
            print(f"op {op_name} failed:\n{traceback.format_exc()}",
                  file=sys.stderr)
        results.append(rec)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def op_times(results, name, traced=False, key="s"):
    """Wall seconds (``key="s"``) or CPU seconds (``key="cpu_s"``) of each
    successful sample of op ``name``."""
    return [r[key] for r in results
            if r["op"] == name and r["ok"] and r["traced"] == traced]


def cycle_s(results, wl, traced=False, key="s") -> float:
    """Seconds of one cycle, as the sum of each op's median: one slow
    sample of one op moves it less than a median of whole cycles would."""
    return sum(median(op_times(results, op, traced, key))
               for op, _ in wl.cycle())


def issue_report(wl, results, setup_s, peak) -> list[tuple]:
    """Named metrics for the printed report (a superset of the JSON)."""
    from workloads import logical_bytes
    rows = [("setup_s", setup_s, "s"), ("peak_rss_mb", peak, "MB")]
    attempted = len(results)
    failed = sum(not r["ok"] for r in results)
    rows.append(("ops_failed_frac", failed / max(1, attempted), "ratio"))
    rows.append(("cycle_s", cycle_s(results, wl), "s"))
    rows.append(("cycle_cpu_s", cycle_s(results, wl, key="cpu_s"), "s"))
    rows.append(("headline_mb_per_s",
                 logical_bytes(wl.input_path) / 1e6
                 / median(op_times(results, wl.headline)), "MB/s"))
    for op, _ in wl.cycle():
        rows.append((f"{op}_cpu_s",
                     median(op_times(results, op, key="cpu_s")), "s"))

    rows += wl.named_metrics(lambda op: median(op_times(results, op)))
    for k, v in wl.report.items():
        if isinstance(v, tuple):
            rows.append((k, *v))
    return rows


def layer_metrics(ctx, wl, results, setup_tracer_spans) -> dict:
    tr = ctx.tracer
    traced = [r for r in results if r["traced"]]
    ops = {r["op"] for r in traced}
    n_cycles = len({r["cycle"] for r in traced}) or 1
    m = {}

    def dur(name, spans=None):
        xs = [s["end"] - s["start"] for s in (spans or tr.spans)
              if s["name"] == name and s["end"] is not None]
        return median(xs) if xs else 0.0

    m["session.start_s"] = dur("session.start", setup_tracer_spans)
    m["datagen.stage_s"] = dur("datagen.stage", setup_tracer_spans)
    for name in ("encode.audition", "encode.store_write",
                 "encode.colocated_write", "encode.chunks_plan",
                 "store.compact",
                 "decode.plan", "decode.action", "inspect.store_stats"):
        m[f"{name}_s"] = dur(name)
    selfs = tr.self_times(ops)
    for layer in ("bench", "encode", "store", "decode", "inspect"):
        m[f"self_s.{layer}"] = selfs.get(layer, 0.0) / n_cycles
    stages, tasks, failed = spark_counts(ctx.spark,
                                         [r["group"] for r in results])
    m["spark.stages_per_op"] = stages / max(1, len(results))
    m["spark.tasks_per_op"] = tasks / max(1, len(results))
    m["spark.failed_tasks"] = failed
    for r in results:
        if r["ok"]:
            m.update({k: v for k, v in r.items() if "." in k})
    m.update(wl.layer)
    m["trace.overhead_s"] = (cycle_s(results, wl, True)
                             - cycle_s(results, wl, False))
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [ROOT, HERE]
    try:
        import tbl_spark  # noqa: F401 — fail early outside a checkout
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program: {e}", file=sys.stderr)
        return 2
    if not tbl_spark.__file__.startswith(ROOT + os.sep):
        print(f"tbl_spark comes from {tbl_spark.__file__}, not this checkout",
              file=sys.stderr)
        return 2
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
    # Spark, the JVM and Python write their scratch files inside the run
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE, os.environ.get("PYTHONPATH", "")]),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS":
            f'--driver-java-options "{JVM_OPTS} '
            f'-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/tmp" '
            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })

    tracer = spans.Tracer(bool(args.trace))
    size = workloads.SIZES["smoke" if args.smoke else "full"]
    ctx = Ctx(args.seed, size, tracer, work)
    sampler = RssSampler()
    sampler.start()
    try:
        wl = workloads.WORKLOADS[args.workload](ctx)
        # set-up, repeated in one session: the first repetition also starts
        # the session (JVM launch, cold Python workers), so the median is a
        # warm set-up; session start is reported as session.start_s
        setup_times = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            if rep == 0:
                ctx.start_session()
            wl.setup()
            setup_times.append(time.perf_counter() - t0)
            phase(f"setup {rep}")
        setup_spans = list(tracer.spans)
        tracer.enabled = False
        wl.prepare_checks()
        phase("checks prepared")
        results: list[dict] = []
        deadline = time.perf_counter() + args.seconds
        cycle = 0
        while True:
            tracer.enabled = bool(args.trace) and cycle % 2 == 0
            run_cycle(ctx, wl, cycle, results)
            phase(f"cycle {cycle}: " + " ".join(
                f"{r['op']}={r.get('s', float('nan')):.3f}"
                for r in results if r["cycle"] == cycle))
            cycle += 1
            if time.perf_counter() >= deadline and cycle >= MIN_CYCLES:
                break
        tracer.enabled = False
        wl.finish(results)
        phase("finish")
        if args.trace:
            tracer.enabled = True
            wl.probes()
            tracer.enabled = False
        peak = sampler.stop()

        setup_s = median(setup_times)
        report = issue_report(wl, results, setup_s, peak)
        attempted = len(results)
        failed = sum(not r["ok"] for r in results)
        values = {
            "setup_s": setup_s,
            "cycle_cpu_s": cycle_s(results, wl, key="cpu_s"),
            "size_vs_zstd": wl.size_vs_zstd(),
            "peak_rss_mb": peak,
        }
        if args.trace:
            values = layer_metrics(ctx, wl, results, setup_spans)
            tracer.write(os.path.join(
                OUT, "traces", f"{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed,
                 "ops": results, "layers": values, "report": wl.report,
                 "self_s_per_cycle": {
                     k: v for k, v in values.items()
                     if k.startswith("self_s.")}})
        wanted = spec["per_layer" if args.trace else "end_to_end"]
        metrics = {}
        for m in wanted:
            v = values.get(m["name"], 0.0)
            if v != v:          # NaN: every sample of the op failed
                raise RuntimeError(f"no successful sample for {m['name']}")
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    except Exception:  # noqa: BLE001 — no result line on a broken run
        traceback.print_exc()
        return 1
    finally:
        sampler.stop()
        ctx.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"ops={attempted} failed={failed}")
    for name, v, unit in report:
        print(f"{args.workload:20s} {name:32s} {v} {unit}")
    for k, v in wl.report.items():
        if isinstance(v, dict):
            print(f"{args.workload:20s} {k:32s} {json.dumps(v)}")
    if args.trace:
        for k, v in values.items():
            print(f"{args.workload:20s} {k:32s} {v}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
