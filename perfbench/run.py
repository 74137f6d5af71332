"""Benchmark of ``plans.pipeline.run_extraction``, the job users run.

Run from the repository root::

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 8 --trace 0

Each run generates (or reuses) the seeded input, starts one Spark session
with the pinned settings below, makes a cold and a warm-up pass, then runs
one-wave ``run_extraction`` passes for ``--seconds`` and checks every timed
pass's output turn by turn against ``oracle.extract_one``. The last line of
stdout is one JSON object: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a run with Spark's event log and the
benchmark's spans on. Exit code 1 means an output mismatch, 2 that the
program could not be imported.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
RUN_DIR = os.path.join(STATE, "run")

# Pinned run environment; README.md records how these were chosen.
CORES = 4
N_PARTITIONS = 16
DRIVER_MEM = "3g"
WARM_PASSES = 1
GEN_PROCS = 4
RUN_ID = "bench"


def _pin_process_env() -> None:
    """Same hash seed in the driver and the workers: re-exec once if unset."""
    if os.environ.get("PYTHONHASHSEED") == "0":
        return
    env = dict(os.environ, PYTHONHASHSEED="0", PERFBENCH_T0=repr(T_START))
    os.execve(sys.executable, [sys.executable, os.path.abspath(__file__), *sys.argv[1:]], env)


def _spark_conf(traced: bool) -> dict[str, str]:
    tmp = os.path.join(RUN_DIR, "tmp")
    conf = {
        # keep shuffle and spill inside the checkout, independent of how
        # much of /dev/shm happens to be free
        "spark.local.dir": os.path.join(RUN_DIR, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(RUN_DIR, "events"),
            "spark.eventLog.compress": "false",
        })
    return conf


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM (and with it the Python workers),
    and wait until every process the session started has ended."""
    from pyspark import SparkContext

    from perfbench import procs

    gateway = SparkContext._gateway
    started = procs.descendants(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    if not procs.wait_gone(started, timeout_s=30):
        print("perfbench: Spark processes still running after stop", file=sys.stderr)


def _max_peak(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: max(v, b[k]) for k, v in a.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    _pin_process_env()
    t0 = float(os.environ.get("PERFBENCH_T0", T_START))

    sys.path.insert(0, ROOT)
    try:
        from tika_addons_spark.plans.pipeline import run_extraction
        from tika_addons_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    from perfbench import digest, procs, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    traced = args.trace == 1

    shutil.rmtree(RUN_DIR, ignore_errors=True)
    os.makedirs(os.path.join(RUN_DIR, "tmp"))
    os.makedirs(os.path.join(RUN_DIR, "events"))
    os.environ.update({
        "PYTHONPATH": ROOT,
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": os.path.join(RUN_DIR, "tmp"),
    })

    g0 = time.time()
    src, exp_path = workloads.generate(wl, args.seed, os.path.join(STATE, "cache"), GEN_PROCS)
    gen_s = time.time() - g0

    s0 = time.time()
    spark = get_spark(
        app_name="perfbench", master=f"local[{CORES}]", extra_conf=_spark_conf(traced)
    )
    session_s = time.time() - s0
    tracer = None
    if traced:
        from perfbench import trace

        tracer = trace.Tracer(spark)

    def one_pass(label: str, target: str, ckpt: str, **kw) -> tuple[float, dict]:
        kw.setdefault("n_buckets", wl.n_buckets)

        def call() -> dict:
            return run_extraction(
                spark, src, target, ckpt, run_id=RUN_ID, n_partitions=N_PARTITIONS, **kw
            )

        t = time.perf_counter()
        stats = tracer.call(label, call) if tracer else call()
        return time.perf_counter() - t, stats

    def dirs(label: str) -> tuple[str, str]:
        return os.path.join(RUN_DIR, label, "out"), os.path.join(RUN_DIR, label, "ckpt")

    for i in range(1 + WARM_PASSES):
        label = "cold" if i == 0 else f"warm-{i}"
        one_pass(label, *dirs(label))
        shutil.rmtree(os.path.join(RUN_DIR, label))
    setup_s = time.time() - t0 - gen_s

    pid = os.getpid()
    passes: list[tuple[str, float, dict]] = []
    peak = {"python_worker": 0.0, "jvm": 0.0}
    cpu0 = procs.tree_cpu_s(pid)
    steal0 = procs.host_steal_s()
    w0 = time.time()
    while not passes or time.time() - w0 < args.seconds:
        label = f"pass-{len(passes)}"
        dt, stats = one_pass(label, *dirs(label))
        passes.append((label, dt, stats))
        peak = _max_peak(peak, procs.peak_rss_mb(pid))
    cpu_s = procs.tree_cpu_s(pid) - cpu0
    steal_s = procs.host_steal_s() - steal0

    extra: dict = {}
    if tracer:
        extra = tracer.after_timed(one_pass, dirs)
        peak = _max_peak(peak, procs.peak_rss_mb(pid))
    _stop_spark(spark)

    expected = digest.read_expected(exp_path)
    attempted = failed = 0
    checks = []
    for label, _dt, _stats in passes:
        chk = digest.compare(expected, digest.output_hashes(dirs(label)[0]))
        checks.append(chk)
        attempted += chk.expected
        failed += chk.failed
    correct = all(c.ok for c in checks)
    if tracer:
        t_attempted, t_failed = tracer.verify(expected, checks[0], dirs, extra)
        attempted += t_attempted
        failed += t_failed
        correct = correct and t_failed == 0

    n_turns = [s["n_turns"] for _, _, s in passes]
    env = {
        "workload": wl.name, "seed": args.seed, "master": f"local[{CORES}]",
        "n_partitions": N_PARTITIONS, "driver_mem": DRIVER_MEM, "warm_passes": WARM_PASSES,
        "timed_passes": len(passes), "pass_s": [round(dt, 3) for _, dt, _ in passes],
        "turns": n_turns[0], "gen_s": round(gen_s, 2), "session_s": round(session_s, 2),
        "loadavg_1m": procs.loadavg_1m(), "calibration_ms": round(procs.calibration_ms(), 2),
        "timed_steal_s": round(steal_s, 2),
        "nproc": os.cpu_count(), "jvm_peak_rss_mb": round(peak["jvm"], 1),
        "digest": checks[-1].digest_actual,
    }
    print(json.dumps({"env": env}))

    if traced:
        metrics = tracer.per_layer(
            passes=passes, extra=extra, session_s=session_s, peak=peak,
            src=src, events_dir=os.path.join(RUN_DIR, "events"), dirs=dirs,
            out_path=os.path.join(STATE, f"trace-{wl.name}-s{args.seed}.json"),
        )
    else:
        rates = [s["n_turns"] / dt for _, dt, s in passes]
        last = passes[-1][2]
        metrics = {
            "turns_per_s": {"value": statistics.median(rates), "unit": "turns/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "cpu_s_per_kturn": {"value": cpu_s / (sum(n_turns) / 1000.0), "unit": "s"},
            "py_peak_rss_mb": {"value": peak["python_worker"], "unit": "MiB"},
            "rejected_turn_share": {
                "value": last["n_parse_failures"] / last["n_turns"], "unit": "ratio",
            },
        }
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
