"""citykg benchmark: one workload per invocation.

    python3 perfbench/run.py --workload import_bulk --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The benchmark imports the ``citykg``
package from that checkout, makes its inputs from ``--seed``, measures for
``--seconds`` seconds and checks every output. Its last line on stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end ones named in
BENCHMARK.json; with ``--trace 1`` they are the per-layer ones, taken from
spans recorded around the calls into each citykg layer (written to
``perfbench/_work/traces/``).

Every file the run writes (Spark scratch space included) stays under
``perfbench/_work/`` and is removed at the end, except the trace files.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _bench_spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def _start_spark(work: Path):
    """The package's own session factory on local[<cpus>], with every
    scratch directory inside the checkout."""
    from citykg.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # -UsePerfData: no hsperfdata file under the system's /tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    spark = get_spark(
        "perfbench",
        master=f"local[{len(os.sched_getaffinity(0))}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark() -> None:
    """Stop the session and wait until the JVM it launched has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the JVM exits when the pipe on its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort so no process outlives the run
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import citykg  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    try:
        spec = _bench_spec()
    except (OSError, ValueError) as exc:
        print(f"perfbench: cannot read BENCHMARK.json: {exc}", file=sys.stderr)
        return 2

    import host
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = HERE / "_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    # Python-side temporary files of PySpark go to the checkout as well
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # the short-lived JVM that spark-submit starts to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    tracer = spans.Tracer() if args.trace else spans.NullTracer()
    run = workloads.Run(
        seed=args.seed,
        seconds=args.seconds,
        tracer=tracer,
        work=str(work),
        start_spark=lambda: _start_spark(work),
    )
    mops = host.cpu_mops()
    sampler = host.RssSampler().start()
    t0 = time.perf_counter()
    try:
        res = workloads.WORKLOADS[args.workload](run)
        run.phase("checks")
    finally:
        peak_mb = sampler.stop()
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    total_s = time.perf_counter() - t0

    walls = res.op_walls
    e2e = {
        "setup_s": (res.setup_s, "s"),
        "op_p50_ms": (1000 * statistics.median(walls), "ms"),
        "items_per_s": (sum(res.op_items) / res.timed_wall_s, "1/s"),
    }
    named = dict(res.named)
    named["peak_rss_mb"] = (peak_mb, "MB")
    named["cpu_ms_per_item"] = (1000 * res.timed_cpu_s / max(sum(res.op_items), 1), "ms")
    named["failed_ratio"] = (res.failed / max(res.attempted, 1), "ratio")
    for name, (value, unit) in {**e2e, **named}.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(f"{args.workload} operation walls (s) = {[round(w, 2) for w in walls]}")
    print(f"{args.workload} operations = {len(walls)}, checks = {res.attempted}, "
          f"failed = {res.failed}, run wall = {total_s:.1f} s")
    for note in res.notes:
        print(f"{args.workload} {note}")

    if args.trace:
        layer = {**res.layer, "host.cpu_mops": mops}
        for name, (value, unit) in named.items():
            layer.setdefault(name, value)
        wanted = spec["per_layer"]
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in wanted}
        tdir = HERE / "_work" / "traces"
        tdir.mkdir(parents=True, exist_ok=True)
        tracer.write(
            str(tdir / f"{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "metrics": metrics},
        )
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]][0]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
