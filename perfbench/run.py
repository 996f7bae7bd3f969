"""kawa_spark benchmark: one command, three workloads.

    python3 perfbench/run.py --workload {log_drain,log_trickle,query_mix} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from ``--seed`` into
``.perfbench_work/`` under the current directory; nothing outside it is
read or written (Spark's temp, local and warehouse dirs are pointed
there too). The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The line before it holds the host stamp and the
workload's own figures. The exit code is non-zero when a correctness
check fails or an open-loop run is invalid. See perfbench/README.md.
"""

from __future__ import annotations

import time

PROC_T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"


def metric_units(kind: str) -> dict[str, str]:
    """{name: unit} of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["log_drain", "log_trickle", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=None,
                    help="local[N] master; default: half the CPUs this process may use")
    ap.add_argument("--fault", choices=["drop_one"], default=None,
                    help="corrupt the output on purpose (the benchmark's own test)")
    return ap.parse_args(argv)


def start_session(cores: int, work: str):
    from kawa_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": DRIVER_MEM,
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedStages": "20000",
            "spark.ui.retainedJobs": "20000",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # The heap grows on demand up to DRIVER_MEM, so the JVM's
            # resident size follows what the run allocates. No perf-data
            # file in the system temp directory.
            "spark.driver.extraJavaOptions": (
                "-XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                f"-Dderby.system.home={os.path.join(work, 'derby')}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def generic_warmup(spark) -> None:
    """bench.py's untimed warm-ups: a trivial job and the envelope
    projection. The workload's own warm-up (a drain, the oracle pass)
    follows input generation."""
    from kawa_spark.envelope import normalize

    spark.range(1000).selectExpr("sum(id)").collect()
    normalize(spark.range(1000).selectExpr("id AS value"), value="value", key="value"
              ).write.format("noop").mode("overwrite").save()


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for both to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — make sure the JVM goes away
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def calibration_ms() -> float:
    """Wall time of a fixed pure-Python loop: a record of how fast the
    host ran at the start of the run, for reading drift between runs."""
    t = time.perf_counter()
    sum(i * i for i in range(1_000_000))
    return (time.perf_counter() - t) * 1e3


def host_stamp(cores: int) -> dict:
    import pyspark

    return {
        "calibration_ms": calibration_ms(),
        "nproc": len(os.sched_getaffinity(0)),
        "cores": cores,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_start": list(os.getloadavg()),
        "pyspark": pyspark.__version__,
    }


def main(argv=None) -> int:
    args = parse(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import kawa_spark  # noqa: F401 — fail fast outside a checkout of the repo

    import harness as H
    import workloads as W
    from kawa_spark import registry

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse", "derby"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    # Half the CPUs run tasks; the rest keep the JVM's own threads, the
    # Python driver and the trickle generator off the task threads' CPUs.
    # On a shared 4-vCPU VM, four task threads made runs up to 1.5x slower
    # and far less repeatable whenever the hypervisor stole CPU time.
    cores = args.cores or max(1, len(os.sched_getaffinity(0)) // 2)
    host = host_stamp(cores)

    generate, warmup, run = W.WORKLOADS[args.workload]
    tracer = H.Tracer(enabled=False)
    ctx = W.Ctx(None, work, args.seed, args.seconds, bool(args.trace), tracer, None,
                fault=args.fault)
    parts: dict[str, float] = {}
    phases: dict[str, float] = {}
    try:
        # Set-up is cold and happens once: setup_s runs from process start
        # (imports included) to the first timed operation, through the JVM
        # launch, registry.load_all, the warm-ups and input generation.
        # Repeating it in one process would only time warm restarts.
        t = time.time()
        ctx.spark = start_session(cores, work)
        parts["session"] = time.time() - t
        t = time.time()
        registry.load_all()
        parts["registry"] = time.time() - t
        t = time.time()
        generic_warmup(ctx.spark)
        parts["warmup"] = time.time() - t
        t = time.time()
        inputs = generate(ctx)
        parts["gen"] = time.time() - t
        ctx.listener = H.ProgressLog()
        ctx.spark.streams.addListener(ctx.listener)
        t = time.time()
        warmup(ctx, inputs)
        parts["workload_warmup"] = time.time() - t
        setup_s = time.time() - PROC_T0

        steal0 = cpu_ticks()
        t = time.time()
        with H.RssSampler(ctx.spark.sparkContext._gateway.proc.pid) as rss:
            run(ctx, inputs)
        phases["run_s"] = time.time() - t
        steal1 = cpu_ticks()
        host["steal_frac_run"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        ctx.e2e["setup_s"] = setup_s
        ctx.e2e["peak_rss_mb"] = rss.peak_mb
        ctx.detail["peak_rss_mb_jvm"] = rss.jvm_peak_kb / 1024
        ctx.detail["peak_pss_mb_workers"] = rss.workers_peak_kb / 1024
        ctx.layers.update(
            {
                "session.start_s": parts["session"],
                "registry.load_s": parts["registry"],
                "setup.warmup_s": parts["warmup"] + parts["workload_warmup"],
                "setup.gen_s": parts["gen"],
                "failed_frac": ctx.failed / max(1, ctx.attempted),
            }
        )
        if args.trace:
            tracer.dump(os.path.join(base, f"{args.workload}-spans.jsonl"))
    finally:
        t = time.time()
        if ctx.spark is not None:
            stop_session(ctx.spark)
        phases["stop_s"] = time.time() - t

    host["loadavg_end"] = list(os.getloadavg())
    correct = ctx.failed == 0 and not ctx.invalid
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "host": host,
        "setup_parts_s": parts,
        "phases_s": phases,
        "failed_frac": ctx.failed / max(1, ctx.attempted),
        "invalid": ctx.invalid,
        **ctx.detail,
    }
    if args.trace:
        detail["end_to_end"] = ctx.e2e
        values = ctx.layers
    else:
        values = ctx.e2e
    units = metric_units("per_layer" if args.trace else "end_to_end")
    missing = sorted(set(units) - set(values))
    if missing:
        raise RuntimeError(f"the run did not measure: {missing}")
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": correct, "attempted": ctx.attempted, "failed": ctx.failed,
                      "metrics": metrics}))
    shutil.rmtree(work, ignore_errors=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
