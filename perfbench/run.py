"""spark-kb benchmark: one seeded workload per run, through the
package's public entry points, with its outputs checked.

    python3 perfbench/run.py --workload kb_query --seed 1 --seconds 12 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the ``end_to_end`` list of
``BENCHMARK.json``; with ``--trace 1`` they are its ``per_layer`` list,
read from spans the benchmark opens around each call into a layer
(a layer a workload does not enter reports 0), and the spans are
written to ``.perfbench/trace-<workload>-<seed>.jsonl``. A line
``# digest <sha256>`` before the result covers the checked outputs, so
two runs of one seed can be compared exactly.

Exit status: 0 when every output check passed; 1 when one failed (the
result line is still printed, with ``correct: false``); 2 when the
package or ``BENCHMARK.json`` is missing (nothing is printed).

Everything the run writes stays under ``.perfbench/`` in the
repository: Spark's local and temp dirs included.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(OUT, "work")
# Spark cores, capped by the CPUs this process may use: two of a
# 4-vCPU host leave the driver, JIT and GC threads room, which steadies
# query walls on a shared host
CORES = 2
DRIVER_MEM = "3g"  # fits a 15 GB box; the package default is 32g


def _environment() -> None:
    """The env the package reads, set before Spark starts so the driver
    JVM and its Python workers inherit it."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    cores = min(CORES, len(os.sched_getaffinity(0)))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "local"),
        TMPDIR=tmp,
        # Python workers import the package (embed's mapInPandas)
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    sys.path[:0] = [ROOT, HERE]


def _start_spark():
    from customkb_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # the tracer reads every span's jobs back at the end
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isdir(os.path.join(ROOT, "customkb_spark")) and os.path.isfile(spec_path)):
        print(f"perfbench: no customkb_spark package and BENCHMARK.json under {ROOT}",
              file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)

    shutil.rmtree(WORK, ignore_errors=True)
    _environment()
    from spans import Tracer
    from workloads import WORKLOADS, Run

    import gen

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    t0 = time.time()
    spark = _start_spark()
    spark.range(1).collect()  # the session is up once a job has run
    session_s = time.time() - t0
    tracer = Tracer(spark, bool(args.trace))
    run = Run(spark, tracer, args.seed, args.seconds, WORK)
    jvm = spark.sparkContext._gateway.proc
    try:
        WORKLOADS[args.workload](run)
        if tracer.enabled:
            run.layers["run.peak_rss_mb"] = [_vm_hwm_mb(jvm.pid) + _vm_hwm_mb("self")]
            tracer.counters()
            tracer.write(os.path.join(OUT, f"trace-{args.workload}-{args.seed}.jsonl"))
    finally:
        spark.stop()
        # the gateway JVM exits when its stdin closes; its Python
        # workers go with it
        jvm.stdin.close()
        jvm.wait(timeout=60)
        shutil.rmtree(WORK, ignore_errors=True)

    if args.trace:
        measured = {k: statistics.median(v) for k, v in run.layers.items()}
        measured.update(tracer.summary())
        measured["run.failed_tasks"] = sum(
            s["failed_tasks"] for s in tracer.spans if s["parent"] is None
        )
        measured["trace.latency_p50_s"] = run.metrics["latency_p50_s"]
        wanted = spec["per_layer"]
    else:
        measured = dict(run.metrics, setup_s=session_s + run.setup_s)
        wanted = spec["end_to_end"]
    metrics = {
        m["name"]: {
            # a layer the workload never entered reads 0; every
            # end-to-end metric must have been measured
            "value": float(measured.get(m["name"], 0.0) if args.trace else measured[m["name"]]),
            "unit": m["unit"],
        }
        for m in wanted
    }
    for what in run.failed:
        print(f"# FAILED {what}", file=sys.stderr)
    print(f"# digest {gen.digest(run.outputs)}")
    print(json.dumps({
        "correct": not run.failed,
        "attempted": run.attempted,
        "failed": len(run.failed),
        "metrics": metrics,
    }))
    return 0 if not run.failed else 1


if __name__ == "__main__":
    sys.exit(main())
