"""Lake benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload {lake,analytics} \\
        --seed N --seconds S --trace {0,1}

Run it from the root of a checkout. It starts ``get_spark()`` with
``SPARK_GRAFT_CPUS`` set to the usable core count and sets no Spark confs of
its own. With ``--trace 0`` the last stdout line is the JSON result with the
end-to-end metrics; with ``--trace 1`` the same workload runs with spans
around each layer and the result holds the per-layer metrics. Lines before
it name every figure with its unit, and the host and environment.

Everything the run writes lives under ``.perfbench_tmp/`` in the checkout
and is removed when it ends; span files of traced runs go to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The store cipher this benchmark is defined for. The blake2b-ctr fallback
# (used when `cryptography` is missing) is a different program; a run on it
# fails instead of reporting numbers.
EXPECTED_CIPHER = "aes-gcm-siv"

FLUSH_POLICY = "the program's own parquet writes, no explicit fsync; reads served from the page cache"


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def environment(cpus: int, cipher: str, jiffies0: tuple[int, int]) -> dict:
    import cryptography
    import pyarrow
    import pyspark

    du = shutil.disk_usage(ROOT)
    steal, total = (b - a for a, b in zip(jiffies0, _cpu_jiffies()))
    return {
        "nproc": cpus,
        "mem_total_mb": _meminfo_mb("MemTotal"),
        "mem_available_mb": _meminfo_mb("MemAvailable"),
        "disk_free_gb": round(du.free / 2**30, 1),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "cryptography": cryptography.__version__,
        "python": sys.version.split()[0],
        # CPU time the hypervisor gave other guests during the run: on a
        # shared host this moves every latency, so read it beside them
        "cpu_steal_share": round(steal / total, 3) if total else 0.0,
        "store_cipher": cipher,
        "flush_policy": FLUSH_POLICY,
    }


def _meminfo_mb(field: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) // 1024
    return 0


def _stop() -> None:
    """Stop Spark, if it started, and wait for the JVM (and the Python
    workers under it) to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    from perfbench import metrics
    from perfbench.proc import peak_rss_mb, tree_cpu_s
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    cpus = len(os.sched_getaffinity(0))
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    # hermetic: Spark's local dirs, the package zip shipped to workers and
    # the program's scratch trees all land in this run's own directory
    os.environ.update(SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=run_dir, TMPDIR=run_dir)
    tempfile.tempdir = None
    jiffies0 = _cpu_jiffies()
    try:
        from ps_datalake_spark.lake import crypto
        from ps_datalake_spark.session import get_spark

        cipher = crypto.cipher_name()
        if cipher != EXPECTED_CIPHER:
            print(f"store cipher is {cipher!r}, the benchmark is defined for {EXPECTED_CIPHER!r}", file=sys.stderr)
            return 2
        setup_start = (time.perf_counter(), tree_cpu_s())
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        tracer = Tracer(spark, enabled=bool(args.trace))
        run = Run(tracer, setup_start)
        if args.trace:
            tracer.install()
        try:
            WORKLOADS[args.workload](spark, run_dir, args.seed, args.seconds, run)
        finally:
            tracer.uninstall()
        env = environment(cpus, cipher, jiffies0)
        rss_mb = peak_rss_mb()
        if args.trace:
            tracer.spark_counts()
            layer = metrics.per_layer(tracer, run, args.seed, rss_mb)
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.jsonl"))
        e2e = metrics.end_to_end(run)
    finally:
        if "pyspark" in sys.modules:
            _stop()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass  # another run's directory is still there

    print("env " + json.dumps(env))
    for p in run.problems:
        print(f"FAILED {p}")
    named = {**metrics.wall(run), **run.named}
    named["op_fail_ratio"] = (run.failed / max(1, run.attempted), "ratio")
    named["peak_rss_mb"] = (rss_mb, "MB")
    for name, (value, unit) in {**{k: (v["value"], v["unit"]) for k, v in e2e.items()}, **named}.items():
        print(f"{args.workload} {name} {value:.6g} {unit}")
    out = layer if args.trace else e2e
    if args.trace:
        for name, v in out.items():
            print(f"{args.workload} {name} {v['value']:.6g} {v['unit']}")
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": out,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
