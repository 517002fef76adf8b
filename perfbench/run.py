"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload control_mixed --seed 1 --seconds 30 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics
of BENCHMARK.json; ``--trace 1`` installs the span wrappers and job-group
counters and prints the per-layer metrics instead, writing every span to
``.perfbench_out/``. A layer the workload bypasses reports 0.

Everything the run writes (the lake, Spark's scratch space, temp files,
the detail and trace files) stays under the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("control_mixed", "catalog_sf01")
# per-layer metrics stamped on every traced run: stamp key -> metric name
BOX_METRICS = {"loadavg_start": "box.loadavg_start", "loadavg_end": "box.loadavg_end",
               "steal_pct": "box.steal_pct", "cores": "box.cores"}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    # accepted for the command-line contract; each workload runs a fixed
    # amount of work, so its metrics hold the same requests at any speed
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(workdir: str, cores: int) -> None:
    """Point every scratch location at ``workdir`` before Spark starts."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(workdir, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    # Python workers import the engine and perfbench.transport
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    import tempfile
    tempfile.tempdir = tmp


def start_spark(cores: int, workdir: str):
    from stock_data_etl_pipeline_spark.session import get_spark
    tmp = os.path.join(workdir, "tmp")
    spark = get_spark(app_name="perfbench", cores=cores, extra_conf={
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={workdir}",
    })
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — still running: kill and reap
            proc.kill()
            proc.wait(timeout=30)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = load_spec()
    cores = len(os.sched_getaffinity(0))
    cwd = os.getcwd()
    out_dir = os.path.join(cwd, ".perfbench_out")
    workdir = os.path.join(cwd, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    prepare_env(workdir, cores)
    # import the benchmark as a package from the repository root, never its
    # modules by bare name
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]

    from perfbench.counters import BoxStamp
    box = BoxStamp(cores)
    t0 = time.perf_counter()
    spark = None
    try:
        spark = start_spark(cores, workdir)
        jvm_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            from perfbench.spans import Tracer
            tracer = Tracer()
        if args.workload == "control_mixed":
            from perfbench.control import ControlMixed
            wl = ControlMixed(spark, workdir, args.seed, tracer=tracer)
        else:
            from perfbench.catalog import CatalogSf01
            wl = CatalogSf01(spark, args.seed, tracer=tracer)
        if tracer is not None:
            tracer.install()
        # JVM start and the engine's import, then the workload's own set-up
        start_s = time.perf_counter() - t0
        wl.setup()
        setup_s = start_s + wl.setup_s()
        t_run = time.perf_counter()
        wl.run()
        run_s = time.perf_counter() - t_run
        attempted, failed, errors = wl.outcome()
        e2e = {"setup_s": setup_s, **wl.end_to_end()}
        layers = wl.per_layer(tracer) if tracer is not None else {}
    except SystemExit:
        raise
    except Exception:  # noqa: BLE001 — no result: report and exit non-zero
        traceback.print_exc()
        return 2
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:  # another run's work dir is still there
            pass

    stamp = box.finish()
    if tracer is not None:
        layers.update({name: float(stamp[k]) for k, name in BOX_METRICS.items()})
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if args.trace:
            value = layers.get(m["name"], 0.0)  # a bypassed layer reads 0
        else:
            value = e2e[m["name"]]
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    unknown = sorted(set(layers if args.trace else e2e) - {m["name"] for m in wanted})
    if unknown:
        print(f"metrics missing from BENCHMARK.json: {unknown}", file=sys.stderr)
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "box": stamp, "jvm_s": jvm_s, "start_s": start_s, "setup": wl.setup_times,
              "run_s": run_s, "end_to_end": e2e, "per_layer": layers,
              "attempted": attempted, "failed": failed, "errors": errors}
    if hasattr(wl, "requests"):
        detail["requests"] = [{"kind": r.kind, "pass": r.pass_no,
                               "latency_s": r.latency_s, "traced": r.traced,
                               "ok": r.ok} for r in wl.requests]
    else:
        detail["attempts"] = [{"query": a.query, "cold": a.cold,
                               "latency_s": a.latency_s, "traced": a.traced,
                               "ok": a.ok} for a in wl.attempts]
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    if tracer is not None:
        tracer.dump(os.path.join(out_dir, f"{tag}-spans.json"),
                    {"per_layer": layers, "box": stamp})
    for e in errors[:20]:
        print(f"FAILED {e}", file=sys.stderr)
    print(f"box {json.dumps(stamp)}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
