"""CPU seconds per process class for one decode/encode call.

    python tools/worker_cpu.py

Builds a small seeded token store (the perfbench ``tokens_scan`` shape: 8
salted parts, compacted in waves of 2, from ``DOCS`` documents of seed
``SEED``), then runs a ``mapInArrow`` that yields nothing over a full
decode's unit frame, in the tasks that decode plans (one task when its
blob bytes fit ``ONE_TASK_BYTES``; the per-task Spark and Python-worker
floor that a store decode pays before it opens a file), a full decode,
a projected decode (``n_tok, source``), a selective decode
(perfbench's predicate shape: ``n_tok>=`` the ``SELECTIVE_Q`` quantile,
inside perfbench's 0.990-0.998 draw), a salted encode, a colocated
encode (perfbench's ``ingest_colocated`` op: chunks of
``TOKENS_PER_CHUNK`` tokens, no plan passed, so each fresh store
auditions its own), the driver-side audition of the encode plan, a
compaction of a fresh copy of the uncompacted store, and a resume of a
copy that lost half its parts (perfbench's ``resume`` op, which passes no
plan and so reuses the plan pinned in the store's ``store.json``)
``REPS`` times each. For every call it prints the Spark jobs, stages
and tasks it ran (from the status tracker, under a job group per call,
as perfbench's ``spark_counts`` counts them), wall seconds and the CPU
seconds (user + system, from ``/proc``) of three process
classes: the driver (this process), the JVM, and the Python workers
(every descendant of the JVM, plus what the JVM reaped). perfbench's
``cycle_cpu_s`` sums all three; this splits out the Python-worker share.
The JVM runs with perfbench's ``JVM_OPTS``, so its column matches the
JVM share of ``cycle_cpu_s``. The worker PIDs that used CPU in a call are
listed, so worker reuse shows as the same PIDs from one rep to the next.
The first rep includes each worker's first task; the summary line is the
median of the later reps.

Workers import ``tbl_spark`` from this checkout, so running the script from
two checkouts compares their worker cost.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.run import (JVM_OPTS, cpu_s, descendants,  # noqa: E402
                           spark_counts)

CLK = os.sysconf("SC_CLK_TCK")
PARTS = 8       # salted parts, as in perfbench's token stores
DOCS = 2000     # perfbench's token input size
SEED = 1
REPS = 4
SELECTIVE_Q = 0.994
TOKENS_PER_CHUNK = 200_000  # perfbench's colocated chunk size
COLUMNS = ["doc_id", "tokens", "n_tok", "source"]


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _own_reaped(pid: int) -> tuple[float, float]:
    """CPU seconds of ``pid`` itself, and of the children it reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return 0.0, 0.0
    # utime stime | cutime cstime
    t = [int(x) for x in s[s.rindex(")") + 2:].split()[11:15]]
    return (t[0] + t[1]) / CLK, (t[2] + t[3]) / CLK


def snapshot(jvm: int) -> dict:
    """CPU seconds of the driver, the JVM and the Python workers, and the
    per-PID seconds of each live worker."""
    workers = {p: cpu_s([p]) for p in descendants(jvm)}
    jvm_own, jvm_reaped = _own_reaped(jvm)
    return {"driver": _own_reaped(os.getpid())[0],
            "jvm": jvm_own,
            "python": sum(workers.values()) + jvm_reaped,
            "pids": workers}


def measure(spark, jvm: int, group: str, fn, prepare=None) -> dict:
    """Run ``fn(prepare())``, or ``fn()``, under job group ``group``, and
    measure only ``fn``."""
    args = () if prepare is None else (prepare(),)
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    before = snapshot(jvm)
    t0 = time.perf_counter()
    try:
        fn(*args)
    finally:
        wall = time.perf_counter() - t0
        after = snapshot(jvm)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    busy = sorted(p for p, s in after["pids"].items()
                  if s - before["pids"].get(p, 0.0) > 0)
    stages, tasks, _ = spark_counts(spark, [group])
    return {"jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
            "stages": stages, "tasks": tasks, "wall_s": wall,
            **{k: after[k] - before[k] for k in ("driver", "jvm", "python")},
            "worker_pids": busy}


def main() -> int:
    work = tempfile.mkdtemp(prefix="worker_cpu-")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(work, "local"))
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS",
        f'--driver-java-options "{JVM_OPTS}" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO, os.environ.get("PYTHONPATH", "")])

    import numpy as np
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from tbl_spark.datagen import write_token_table
    from tbl_spark.encode import audition_codec_hints
    from tbl_spark.session import get_spark
    from tbl_spark.store import (ONE_TASK_BYTES, ChunkStore,
                                 decode_from_store, encode_to_store,
                                 encode_to_store_colocated, unit_frame)

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(cores=cores, shuffle_partitions=4 * cores)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2m")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        jvm = next(p for p in descendants(os.getpid()) if _comm(p) == "java")
        src = os.path.join(work, "input")
        write_token_table(src, DOCS, n_parts=8, seed=SEED)
        df = spark.read.parquet(src)
        hints = audition_codec_hints(df)
        loose = ChunkStore(os.path.join(work, "loose"))
        encode_to_store(df, loose, PARTS, codec_hints=hints)
        store = ChunkStore(os.path.join(work, "store"))
        shutil.copytree(loose.root, store.root)
        store.compact(2, spark=spark)
        n_copies = 0

        def loose_copy(drop=()):
            nonlocal n_copies
            n_copies += 1
            copy = ChunkStore(os.path.join(work, f"copy-{n_copies}"))
            shutil.copytree(loose.root, copy.root)
            for p in drop:
                name = f"part-{p:05d}"
                os.remove(os.path.join(copy.chunks_dir, name + ".parquet"))
                os.remove(os.path.join(copy.manifest_dir, name + ".json"))
            return copy
        n_tok = np.asarray(pq.read_table(src, columns=["n_tok"])["n_tok"])
        predicate = f"n_tok>={int(np.quantile(n_tok, SELECTIVE_Q))}"

        def checksum(cols, **kw):
            out = decode_from_store(store, spark, **kw)
            out.agg(F.count(F.lit(1)),
                    F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))).collect()

        n_enc = 0

        def fresh_store():
            nonlocal n_enc
            n_enc += 1
            return ChunkStore(os.path.join(work, f"enc-{n_enc}"))

        units, nbytes = store.decode_units(None, COLUMNS)

        def noop(batches):
            for _ in batches:
                pass
            yield from ()

        calls = {
            # the per-task Spark + Python floor of a store decode: hand
            # every (file, row group) unit to a Python worker in the tasks
            # a full decode plans, read nothing, return nothing
            "noop_map": lambda: unit_frame(
                spark, units, nbytes <= ONE_TASK_BYTES).mapInArrow(
                    noop, "part_id int").collect(),
            "full_decode": lambda: checksum(COLUMNS),
            "projected_decode": lambda: checksum(
                ["n_tok", "source"], columns=["n_tok", "source"]),
            "selective_decode": lambda: checksum(COLUMNS,
                                                 predicate=predicate),
            "salted_encode": (
                fresh_store,
                lambda s: encode_to_store(df, s, PARTS, codec_hints=hints)),
            "colocated_encode": (
                fresh_store,
                lambda s: encode_to_store_colocated(df, s, TOKENS_PER_CHUNK)),
            # what a first encode without a plan adds: on this bare
            # parquet frame the sample is read locally, no Spark job
            "audition": lambda: audition_codec_hints(df),
            "compact": (loose_copy, lambda s: s.compact(2, spark=spark)),
            # perfbench's resume op: half the parts lost, no plan
            # passed, so it loads the plan the store pinned
            "resume": (lambda: loose_copy(range(0, PARTS, 2)),
                       lambda s: encode_to_store(df, s, PARTS, resume=True)),
        }
        print(f"{'call':<18}{'rep':>4}{'jobs':>5}{'stages':>7}{'tasks':>6}"
              f"{'wall_s':>8}{'driver':>8}{'jvm':>8}{'python':>8}"
              "  worker pids")
        summary = {}
        for name, call in calls.items():
            prepare, fn = call if isinstance(call, tuple) else (None, call)
            reps = [measure(spark, jvm, f"{name}-{i}", fn, prepare)
                    for i in range(REPS)]
            for i, r in enumerate(reps):
                print(f"{name:<18}{i:>4}{r['jobs']:>5}{r['stages']:>7}"
                      f"{r['tasks']:>6}{r['wall_s']:>8.2f}"
                      f"{r['driver']:>8.2f}{r['jvm']:>8.2f}"
                      f"{r['python']:>8.2f}  {r['worker_pids']}")
            warm = reps[1:] or reps
            summary[name] = {k: round(statistics.median(r[k] for r in warm), 3)
                             for k in ("jobs", "stages", "tasks", "wall_s",
                                       "driver", "jvm", "python")}
        print(json.dumps({"seed": SEED, "docs": DOCS,
                          "selective_predicate": predicate,
                          "cores": cores, "python": sys.version.split()[0],
                          "median_warm": summary}))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
