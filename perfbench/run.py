#!/usr/bin/env python3
"""Repository benchmark: one workload per invocation, every output checked.

    python3 perfbench/run.py --workload query_sf0.001 --seed 1 --seconds 20 --trace 0

Runs on ``local[4]`` from this single driver process. One run:

1. host record (steal, pure-Python probe) with no JVM alive;
2. untimed preparation (the ELT fixtures are generated per seed and cached);
3. set-up three times -- launch a JVM, start the session, register the
   ``cbs_odata`` source -- and ``setup_s`` is the median;
4. a cold pass, then the output check of its outputs, never timed: the JIT
   is still speeding passes up after the cold one, and the check's own run
   of every query doubles as the warm-up;
5. warm passes until ``--seconds`` have gone by and the workload's minimum
   pass count is reached;
6. the session and its JVM stopped and waited for, then the host record
   and the check of every pass's results (the ELT's skip flags, row counts
   and registered tables).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
is the run record (host quality, sample counts, mismatches, per-operation
medians). ``--trace 1`` alternates untraced and traced warm passes and
reports the per-layer metrics instead (see ``tracing.py``). A failed
operation or a mismatching output makes the exit code non-zero.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
SETUPS = 3
CPUS = "4"
DRIVER_MEM = "2g"

END_TO_END = (("setup_s", "s"), ("cold_pass_s", "s"), ("pass_s", "s"),
              ("op_p50_s", "s"), ("op_p90_s", "s"), ("rows_per_s", "1/s"),
              ("peak_rss_mb", "MB"))
WORKLOADS = ("query_sf0.001", "elt_cbs")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def make_workload(name: str, seed: int):
    if name == "elt_cbs":
        from elt import EltCbs

        return EltCbs(seed, WORK)
    from sweep import Sweep

    return Sweep(name, name.removeprefix("query_sf"), seed)


# -- sessions ------------------------------------------------------------------


def start_session():
    from statline_bq_spark import session
    from statline_bq_spark.sources.odata_source import ODataDataSource

    tmp = os.path.join(WORK, "tmp")
    spark = session.get_spark("perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp} "
            f"-Xms{DRIVER_MEM} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.dataSource.register(ODataDataSource)
    return spark


def stop_session(spark) -> None:
    """Stop the session, shut the gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave a JVM behind
            proc.kill()
            proc.wait()


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


# -- passes --------------------------------------------------------------------


def run_pass(w, spark, tracer=None) -> dict:
    """One pass; op wall times exclude the tracer's stage-metric reads."""
    ops = w.begin_pass()
    out = {"ops": [], "wall": 0.0, "traced": tracer is not None}
    for op in ops:
        if tracer is not None:
            tracer.begin_op(op)
        t0 = time.perf_counter()
        ok, rows = True, 0
        try:
            rows = w.run_op(spark, op, tracer)
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            ok = False
            log(f"{op} failed:\n{traceback.format_exc()}")
        dt = time.perf_counter() - t0
        out["ops"].append({"op": op, "s": dt, "ok": ok, "rows": rows})
        out["wall"] += dt
        if tracer is not None:
            tracer.end_op()
    return out


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method)."""
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


# -- main ----------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:
        import statline_bq_spark
        import bench  # noqa: F401 - the sweep's query list lives there
    except ImportError as exc:
        log(f"the program is not in this checkout: {exc}")
        return 2
    if not os.path.abspath(statline_bq_spark.__file__).startswith(ROOT + os.sep):
        log(f"statline_bq_spark resolved outside the checkout: "
            f"{statline_bq_spark.__file__}")
        return 2

    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": CPUS,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        # the launcher JVM that spark-submit runs first
        "SPARK_LAUNCHER_OPTS":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    })

    from host import HostRecord, vm_hwm_mb
    from tracing import LAYER_METRICS, Tracer

    host = HostRecord()
    w = make_workload(args.workload, args.seed)
    phases = {}
    t0 = time.perf_counter()
    w.prepare()
    phases["prepare_s"] = time.perf_counter() - t0

    tracer = None
    if args.trace:
        tracer = Tracer()
        tracer.install()
        tracer.active = True  # session.get_spark spans during set-up

    setups = []
    spark = None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                stop_session(spark)
            t0 = time.perf_counter()
            spark = start_session()
            setups.append(time.perf_counter() - t0)
        spark.sparkContext.setLogLevel("ERROR")
        get_spark_s = []
        if tracer is not None:
            get_spark_s = [s["end"] - s["start"] for s in tracer.spans
                           if s["name"] == "session.get_spark"]
            tracer.attach(spark)
            tracer.active = False

        cold = run_pass(w, spark)
        # untimed; the JIT is still speeding passes up after the cold one,
        # and the check's own run of every query doubles as the warm-up
        t0 = time.perf_counter()
        failures = w.check(spark)
        phases["check_s"] = time.perf_counter() - t0
        warm, traced = [], []
        t_start = time.perf_counter()
        while True:
            if tracer is not None and len(traced) < len(warm):
                tracer.active = True
                tracer.counts.clear()
                first = len(tracer.spans)
                p = run_pass(w, spark, tracer)
                w.traced_extras(spark, tracer)
                p["layers"] = tracer.pass_metrics(first)
                tracer.active = False
                traced.append(p)
            else:
                warm.append(run_pass(w, spark))
            done = (min(len(warm), len(traced)) >= 1 if tracer is not None
                    else len(warm) >= w.min_passes)
            if done and time.perf_counter() - t_start >= args.seconds:
                break
        rss_mb = vm_hwm_mb(jvm_pid(spark)) + vm_hwm_mb()
    finally:
        if spark is not None:
            stop_session(spark)
        if tracer is not None:
            tracer.uninstall()
    host_rec = host.finish()
    for op, msgs in w.check_passes().items():
        failures.setdefault(op, []).extend(msgs)

    # -- outcome ---------------------------------------------------------------
    passes = [cold] + warm + traced
    attempted = sum(len(p["ops"]) for p in passes)
    failed = sum(1 for p in passes for o in p["ops"]
                 if not o["ok"] or o["op"] in failures)
    op_times = [o["s"] for p in warm for o in p["ops"]]
    pass_s = statistics.median(p["wall"] for p in warm)
    n_ops = len(op_times)

    e2e = {
        "setup_s": statistics.median(setups),
        "cold_pass_s": cold["wall"],
        "pass_s": pass_s,
        "op_p50_s": statistics.median(op_times),
        "op_p90_s": quantile(op_times, 90),
        "rows_per_s": w.rows_per_s(warm),
        "peak_rss_mb": rss_mb,
    }
    record = {
        "workload": w.name, "seed": args.seed, "trace": args.trace,
        "host": host_rec, "setups_s": setups, "phases_s": phases,
        "pass_walls_s": [p["wall"] for p in passes],
        "op_samples": n_ops,
        "op_samples_beyond_p90": sum(1 for t in op_times if t > e2e["op_p90_s"]),
        "op_median_s": {
            op: statistics.median(o["s"] for p in warm for o in p["ops"]
                                  if o["op"] == op)
            for op in sorted({o["op"] for o in cold["ops"]})},
        "mismatches": failures,
    }
    stored_ratio = w.stored_ratio()
    if stored_ratio:
        record["stored_ratio"] = stored_ratio

    if tracer is None:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    else:
        layers = {k: statistics.median(p["layers"][k] for p in traced)
                  for k, _ in LAYER_METRICS}
        layers["session.get_spark_s"] = statistics.median(get_spark_s)
        layers["layout.stored_ratio"] = stored_ratio
        layers["trace.overhead_s"] = (
            statistics.median(p["wall"] for p in traced) - pass_s)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_METRICS}
        spans_path = os.path.join(
            WORK, "trace", f"{w.name}-seed{args.seed}.jsonl")
        tracer.write(spans_path)
        record["spans"] = os.path.relpath(spans_path, ROOT)
        record["self_s"] = tracer.self_times()
        record["py4j_per_traced_pass"] = [p["layers"]["workload.py4j_calls"]
                                          for p in traced]
    correct = failed == 0
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
