#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {registry,search,ingest_mixed} \
        --seed N --seconds S --trace {0,1}

Builds nothing: it imports the engine from the checkout this file sits in,
starts Spark sized to the machine, runs one workload (see workloads.py and
NOTES.md), checks its outputs, and prints as its LAST stdout line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the
per-layer ones, taken from spans this benchmark records around the
engine's public calls (written to ``perfbench/out/``). Exit code 0 only
when every check passed.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")


def machine() -> tuple[int, str]:
    """Cores this process may use, and a driver heap well under RAM."""
    cpus = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_gb = max(1, min(4, ram // 2**30 // 4))
    return cpus, f"{heap_gb}g"


def prepare_env(run_dir: str) -> dict:
    """Size Spark to the machine and keep every file it writes inside the
    checkout. Returns the settings for the result header."""
    cpus, heap = machine()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)  # engine default: 32
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap  # engine default: 24g
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # Python workers must import the engine (dq48/dq49's pandas UDFs)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={tmp}") if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "pyspark-shell"])
    return {"cpus": cpus, "heap": heap}


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = {w["name"] for w in spec["workloads"]}
    if args.workload not in names:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(names)}")

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    run_dir = os.path.join(OUT, tag)
    settings = prepare_env(run_dir)
    sys.path[:0] = [HERE, ROOT]

    from multi_model_vectorsearch_spark import get_spark

    import workloads
    from spans import Tracer

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    tr = Tracer(spark, bool(args.trace))
    run = workloads.WORKLOADS[args.workload]
    try:
        if args.workload == "registry":
            res = run(spark, tr, args.seed, args.seconds)
        else:
            res = run(spark, tr, args.seed, args.seconds,
                      os.path.join(run_dir, "state"))
        conf = spark.sparkContext.getConf()
        settings.update({
            "master": spark.sparkContext.master,
            "shuffle_partitions": spark.conf.get(
                "spark.sql.shuffle.partitions"),
            "driver_memory": conf.get("spark.driver.memory"),
            "default_parallelism": spark.sparkContext.defaultParallelism,
        })
    finally:
        stop_spark(spark)

    e2e = {"setup_s": res.first_op - T_PROCESS, **res.e2e}
    layer = dict(res.layer)
    if args.trace:
        for sp in tr.spans:
            if sp["name"].startswith("setup.") and sp["parent"] is None:
                layer[sp["name"] + "_s"] = sp["end"] - sp["start"]
        layer["setup.session_s"] = session_s
        layer["trace.op_p50_ms"] = e2e["op_p50_ms"]
        layer["trace.setup_s"] = e2e["setup_s"]
        tr.dump(os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}"
                                  ".json"), T_PROCESS)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layer if args.trace else e2e
    metrics = {}
    for m in wanted:
        if not args.trace and m["name"] not in source:
            raise SystemExit(f"workload did not measure {m['name']}")
        metrics[m["name"]] = {"value": float(source.get(m["name"], 0.0)),
                              "unit": m["unit"]}
    correct = res.correct and res.failed == 0
    header = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              **settings, **res.info, "problems": res.problems[:20]}
    with open(os.path.join(OUT, f"info-{args.workload}-seed{args.seed}"
                                f"-trace{args.trace}.json"), "w") as fh:
        json.dump({"header": header, "e2e": e2e, "layer": layer,
                   **res.detail}, fh,
                  indent=1, sort_keys=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(header, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
