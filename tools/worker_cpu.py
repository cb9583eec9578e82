"""CPU seconds per process class for one decode/encode call.

    python tools/worker_cpu.py

Builds a small seeded token store (the perfbench ``tokens_scan`` shape: 8
salted parts, compacted in waves of 2, from ``DOCS`` documents of seed
``SEED``), then runs a full decode, a projected decode (``n_tok, source``)
and a salted encode ``REPS`` times each. For every call it prints wall seconds and the CPU seconds (user +
system, from ``/proc``) of three process classes: the driver (this
process), the JVM, and the Python workers (every descendant of the JVM,
plus what the JVM reaped). perfbench's ``cycle_cpu_s`` sums all three; this
splits out the Python-worker share. The worker PIDs that used CPU in a call
are listed, so worker reuse shows as the same PIDs from one rep to the
next. The first rep includes each worker's first task; the summary line is
the median of the later reps.

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

from perfbench.run import cpu_s, descendants  # noqa: E402

CLK = os.sysconf("SC_CLK_TCK")
PARTS = 8       # salted parts, as in perfbench's token stores
DOCS = 2000     # perfbench's token input size
SEED = 1
REPS = 4


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


def measure(jvm: int, fn) -> dict:
    before = snapshot(jvm)
    t0 = time.perf_counter()
    fn()
    wall = time.perf_counter() - t0
    after = snapshot(jvm)
    busy = sorted(p for p, s in after["pids"].items()
                  if s - before["pids"].get(p, 0.0) > 0)
    return {"wall_s": wall,
            **{k: after[k] - before[k] for k in ("driver", "jvm", "python")},
            "worker_pids": busy}


def main() -> int:
    work = tempfile.mkdtemp(prefix="worker_cpu-")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(work, "local"))
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS",
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO, os.environ.get("PYTHONPATH", "")])

    import pyspark.sql.functions as F

    from tbl_spark.datagen import write_token_table
    from tbl_spark.encode import audition_codec_hints
    from tbl_spark.session import get_spark
    from tbl_spark.store import ChunkStore, decode_from_store, encode_to_store

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
        store = ChunkStore(os.path.join(work, "store"))
        encode_to_store(df, store, PARTS, codec_hints=hints)
        store.compact(2, spark=spark)

        def checksum(cols, **kw):
            out = decode_from_store(store, spark, **kw)
            out.agg(F.count(F.lit(1)),
                    F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))).collect()

        n_enc = 0

        def encode():
            nonlocal n_enc
            n_enc += 1
            fresh = ChunkStore(os.path.join(work, f"enc-{n_enc}"))
            encode_to_store(df, fresh, PARTS, codec_hints=hints)

        calls = {
            "full_decode": lambda: checksum(
                ["doc_id", "tokens", "n_tok", "source"]),
            "projected_decode": lambda: checksum(
                ["n_tok", "source"], columns=["n_tok", "source"]),
            "salted_encode": encode,
        }
        print(f"{'call':<18}{'rep':>4}{'wall_s':>8}{'driver':>8}"
              f"{'jvm':>8}{'python':>8}  worker pids")
        summary = {}
        for name, fn in calls.items():
            reps = [measure(jvm, fn) for _ in range(REPS)]
            for i, r in enumerate(reps):
                print(f"{name:<18}{i:>4}{r['wall_s']:>8.2f}"
                      f"{r['driver']:>8.2f}{r['jvm']:>8.2f}"
                      f"{r['python']:>8.2f}  {r['worker_pids']}")
            warm = reps[1:] or reps
            summary[name] = {k: round(statistics.median(r[k] for r in warm), 3)
                             for k in ("wall_s", "driver", "jvm", "python")}
        print(json.dumps({"seed": SEED, "docs": DOCS,
                          "cores": cores, "python": sys.version.split()[0],
                          "median_warm_cpu_s": summary}))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
