"""CDC replication benchmark: run one workload, print one JSON result line.

    python3 cdcbench/run.py --workload serve_mixed --seed 1 --seconds 25 --trace 0

Run from the repository root. Each workload measures a fixed amount of
work (batches, lookups, verify passes), sized to take about the
``run_seconds`` of BENCHMARK.json on a 4-core host, so every seed measures
the same work; ``--seconds`` is accepted for the benchmark interface and
does not change it. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` runs the same workload with span recording on and prints the
per-layer metrics (spans are written to ``.cdcbench_work/spans-*.jsonl``).
The last line of standard output is the result object; the exit code is
non-zero when any output failed its check.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: per-run scratch, inside the checkout; removed when the run ends
WORK_ROOT = os.path.join(ROOT, ".cdcbench_work")
#: a run that has not finished by then is a failed run
DEADLINE_S = 170


def _declared_metrics(kind: str) -> dict[str, str]:
    """{name: unit} of the ``end_to_end`` or ``per_layer`` metrics
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _environment(work: str) -> None:
    """Keep every file the run writes inside the checkout, put the
    repository on the Python workers' path and size Spark to the cores
    this process may use."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # below the program's 8g default: the host's memory is shared, a run
    # holds about 1.5 GB, and a bounded heap keeps peak RSS a measure of
    # the working set rather than of how far the collector let the heap grow
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM, the launcher that spark-submit starts first included,
    # would otherwise write its perf data under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]))
    sys.path.insert(0, ROOT)


def _start_spark(work: str):
    from postgres_cdc_reconciliation_spark.session import get_spark

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark = get_spark(
        app_name="cdcbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                f"-Dderby.system.home={work}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)


def _steal_s() -> float:
    """CPU time the hypervisor gave other guests while this host's vCPUs
    wanted to run (the ``steal`` column of /proc/stat), in seconds."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


STEAL_AT_START = _steal_s()


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    _environment(work)
    from cdcbench.workloads import PROFILES, Lifecycle

    if args.workload not in PROFILES:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(PROFILES)}")

    def _deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)

    spark = None
    try:
        # import the program before anything is measured: without it the
        # run must fail here
        import postgres_cdc_reconciliation_spark.engine  # noqa: F401

        spark = _start_spark(work)
        session_s = time.perf_counter() - T_PROCESS
        run = Lifecycle(args.workload, args.seed, bool(args.trace), work,
                        spark, session_s)
        phases = {}
        for name, step in (("setup", run.setup), ("spans", run.install_spans),
                           ("replicate", run.replicate), ("verify", run.verify)):
            t0 = time.perf_counter()
            step()
            phases[name] = round(time.perf_counter() - t0, 3)
        run.detail["phases_s"] = phases
        if args.trace:
            run.layers_after()
            run.tracer.unwrap_all()
            run.tracer.dump(os.path.join(
                WORK_ROOT, f"spans-{args.workload}-{args.seed}.jsonl"))
        jvm_pid = _jvm_pid()
        run.e2e["peak_rss_mb"] = _hwm_mb("self") + (_hwm_mb(jvm_pid) if jvm_pid else 0.0)
    finally:
        if spark is not None:
            _stop_spark(spark)
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)

    e2e = run.e2e
    correct = run.fail.failed == 0
    if args.trace:
        # a layer the workload does not run reports 0
        metrics = {k: {"value": run.layer.get(k, 0.0), "unit": u}
                   for k, u in _declared_metrics("per_layer").items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in _declared_metrics("end_to_end").items()}
    run.detail["wall_s"] = round(time.perf_counter() - T_PROCESS, 3)
    run.detail["host_steal_s"] = round(_steal_s() - STEAL_AT_START, 2)
    detail = dict(run.detail, failures=run.fail.notes,
                  end_to_end={k: round(v, 4) for k, v in e2e.items()})
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": correct, "attempted": run.fail.attempted,
                      "failed": run.fail.failed, "metrics": metrics}))
    return 0 if correct else 1


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


if __name__ == "__main__":
    sys.exit(main())
