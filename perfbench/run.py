"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_chain --seed 1 --seconds 25 --trace 0

Run from the root of a checkout of the repository. Builds nothing: the
program is the ``accelerator_spark`` package next to this directory.
Inputs are generated from ``--seed`` under ``.perfbench/`` in the
checkout, which is also Spark's local and temporary directory. The last
line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with ``--trace 1``
the per-layer metrics of a separate traced run). Exits 1 when an
operation fails or an output check fails, 2 when the program is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from spans import StatusCollector, Tracer, union_length

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# about one cycle of either workload, set-up excluded, on the 4-core
# machine the benchmark was sized on
CYCLE_SECONDS = 10.0

# per-layer metric -> the span whose self time it is
SELF_TIMES = {
    "sources.csvimport_s": "sources.csvimport",
    "functions.dataset_type_s": "functions.dataset_type",
    "dataset.write_s": "dataset.write",
    "dataset.chain_df_s": "dataset.chain_df",
    "build.build_s": "build.build",
    "urd.add_s": "urd.add",
    "incremental.process_self_s": "incremental.process",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(workdir: str) -> tuple[int, int]:
    """Process environment for Spark: this process and all it starts
    (the JVM, the Python workers) run on half the cores, with as many
    task slots; Python workers import the program from the checkout;
    heap sized for a small machine; every scratch file inside the run's
    directory. Returns (cores, cores used).

    On a virtual machine that shares its host, the hypervisor takes
    CPU time from a guest that keeps many cores busy at once while the
    host is loaded. On all 4 cores of such a machine, runs of the same
    work took from 1x to 2x their quiet time as the host's load came
    and went; on 2 cores they took about 1.4x that quiet time and
    varied by a few percent."""
    cpus = sorted(os.sched_getaffinity(0))
    cores = len(cpus)
    slots = max(1, cores // 2)
    os.sched_setaffinity(0, cpus[:slots])
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(slots)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = tmp
    return cores, slots


def spark_conf(workdir: str) -> dict[str, str]:
    tmp = os.path.join(workdir, "tmp")
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def summarize_trace(w, tracer, spark_ops: dict) -> dict:
    """Per-layer figures of one cycle of the traced run."""
    ops = set(w.cycle_ops)
    st = tracer.self_times(ops)
    op_spans = [s for s in tracer.spans
                if s["name"].startswith("op.") and s["op"] in ops]
    tot = {k: 0.0 for k in ("jobs", "stages", "tasks", "job_s",
                            "executor_run_s", "executor_cpu_s",
                            "shuffle_read_bytes", "shuffle_write_bytes",
                            "spill_bytes")}
    gap = 0.0
    for s in op_spans:
        rec = spark_ops.get(s["op"])
        covered = 0.0
        if rec:
            for k in tot:
                tot[k] += rec[k]
            covered = union_length([(max(a, s["start"]), min(b, s["end"]))
                                    for a, b in rec["intervals"]])
        gap += (s["end"] - s["start"]) - covered
    builds = [s for s in tracer.spans
              if s["name"] == "build.build" and s["op"] in ops]
    batches = [s["end"] - s["start"] for s in tracer.spans
               if s["name"] == "structured.micro_batch" and s["op"] in ops]
    drain_jobs = sum(spark_ops.get(s["op"], {}).get("jobs", 0)
                     for s in op_spans if s["name"] == "op.drain")
    out = {f"spark.{k}": v for k, v in tot.items()}
    out.update({m: st.get(span, 0.0) for m, span in SELF_TIMES.items()})
    out.update({
        "spark.driver_gap_s": gap,
        "build.hit_ratio": (sum(s.get("hit", False) for s in builds)
                            / len(builds) if builds else 0.0),
        "structured.batch_s": statistics.median(batches) if batches else 0.0,
        "structured.jobs_per_batch": (drain_jobs / len(batches)
                                      if batches else 0.0),
        "dedup.self_s": sum(v for k, v in st.items()
                            if k.startswith("dedup.")),
    })
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "accelerator_spark",
                                       "__init__.py")):
        print(f"perfbench: no accelerator_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    spec = benchmark_spec()
    names = [wl["name"] for wl in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{names}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    workdir = os.path.join(
        base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    # the session module reads SPARK_GRAFT_CPUS when it is imported
    cores, slots = prepare_env(workdir)
    sys.path.insert(0, ROOT)
    from accelerator_spark import get_spark
    from workloads import WORKLOADS, OutputCheckFailed

    tracer = Tracer(False)  # set-up is not traced
    spark = None
    failed, cycles = 0, []
    w = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          extra_conf=spark_conf(workdir))
        session_s = time.perf_counter() - t0
        collector = StatusCollector(spark) if args.trace else None
        w = WORKLOADS[args.workload](spark, workdir, args.seed, tracer,
                                     collector)
        w.setup()
        setup_s = time.perf_counter() - t0
        if collector is not None:
            tracer.enabled = True
            w.wrap_layers(tracer)
            collector.collect()  # set-up jobs are not measured
        cpu0 = cpu_times()
        for i in range(cycle_count(args.seconds)):
            w.cycle_ops = []
            c0 = time.perf_counter()
            c = w.cycle(i)
            c["wall_s"] = time.perf_counter() - c0
            if collector is not None:
                t1 = time.perf_counter()
                c["layers"].update(summarize_trace(w, tracer,
                                                   collector.collect()))
                c["collect_s"] = time.perf_counter() - t1
            cycles.append(c)
        steal = cpu_steal_share(cpu0, cpu_times())
        tracer.unwrap()
        for c in cycles:
            c["layers"].update(w.verify(c))
    except OutputCheckFailed as e:
        failed += 1
        print(f"perfbench: output check failed: {e}", file=sys.stderr)
    except Exception:  # an operation of the program failed
        failed += 1
        traceback.print_exc()
    finally:
        tracer.unwrap()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    attempted = max(w.attempted if w else 0, 1)
    if failed or not cycles:
        print(json.dumps({"correct": False, "attempted": attempted,
                          "failed": max(failed, 1), "metrics": {}}))
        return 1

    def med(key):
        """Median over every sample of ``key`` in every cycle."""
        return statistics.median(x for c in cycles for x in c[key])

    e2e = {
        "setup_s": setup_s,
        "cycle_s": statistics.median(c["cycle_s"] for c in cycles),
        "op_p50_s": med("op"),
        "report_s": med("report"),
        "range_report_s": med("range_report"),
    }
    stamp = {"workload": args.workload, "seed": args.seed,
             "trace": args.trace, "cores": cores, "slots": slots,
             "loadavg": os.getloadavg(), "cpu_steal_share": steal,
             "cycles": len(cycles),
             "conf": spark_conf(workdir) | {
                 "master": f"local[{slots}]",
                 "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"]}}
    if args.trace:
        # a layer the workload does not use reads 0
        per_layer = {m["name"]: statistics.median(
            c["layers"].get(m["name"], 0.0) for c in cycles)
            for m in spec["per_layer"]}
        per_layer["session.start_s"] = session_s
        per_layer["trace.overhead_s"] = (tracer.overhead_s
                                         + sum(c["collect_s"] for c in cycles)
                                         ) / len(cycles)
        per_layer["trace.cycle_s"] = e2e["cycle_s"]
        metrics = {m["name"]: {"value": per_layer[m["name"]],
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    record = {"stamp": stamp, "metrics": metrics,
              "cycles": [{k: v for k, v in c.items() if k != "raw"}
                         for c in cycles]}
    if args.trace:
        record.update(spans=tracer.spans, self_time=tracer.self_times())
        print_self_time_table(record["self_time"], sys.stderr)
    os.makedirs(os.path.join(base, "records"), exist_ok=True)
    with open(os.path.join(base, "records",
                           os.path.basename(workdir) + ".json"), "w") as f:
        json.dump(record, f)
    print(json.dumps({"stamp": stamp}), file=sys.stderr)
    print(json.dumps({"correct": True, "attempted": attempted,
                      "failed": 0, "metrics": metrics}))
    return 0


def cycle_count(seconds: float) -> int:
    """Cycles a run measures: as many as fill ``seconds`` at
    CYCLE_SECONDS each, at least one. The count does not depend on how
    fast this run happens to go, so every run of a workload does the
    same work and takes its medians from the same point of the JIT
    warm-up curve, however busy the host is."""
    return max(1, round(seconds / CYCLE_SECONDS))


def cpu_times() -> list[int]:
    """The machine's cumulative CPU ticks by state (/proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_times() readings: a wall time measured while it is high is
    inflated by neighbours, not by the program."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM, which exits when its
    stdin closes; its Python workers end with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def benchmark_spec() -> dict:
    """Metric names and units, from BENCHMARK.json beside this
    directory: the one list the output must match."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def print_self_time_table(st: dict[str, float], out) -> None:
    print(f"{'span':40s} {'self_s':>10s}", file=out)
    for name, v in sorted(st.items(), key=lambda kv: -kv[1]):
        print(f"{name:40s} {v:10.3f}", file=out)


if __name__ == "__main__":
    sys.exit(main())
