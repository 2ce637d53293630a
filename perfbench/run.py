"""Seeded end-to-end benchmark of the AIS lakehouse and corpus jobs.

Run from the repository root::

    python3 perfbench/run.py --workload gold_refresh --seed 1 --seconds 6 --trace 0

``--trace 0`` times the workload and prints the end-to-end metrics;
``--trace 1`` runs it once layer by layer with the Spark UI on and prints
the per-layer metrics. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. Workloads,
metrics and the mapping between them are documented in
``perfbench/README.md``; their names and units are in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM = os.path.join(ROOT, "knot_another_pipeline_spark", "__main__.py")
WORKLOAD_NAMES = ("gold_refresh", "corpus_prep")
#: Driver heap for local mode, fixed (-Xms = -Xmx) so peak RSS does not
#: follow the collector's heap-sizing decisions from run to run. The
#: session factory defaults to 24g, more than a 15 GiB host holds.
DRIVER_MEM = "2g"


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _environment(work: str) -> None:
    """Host-sized session settings, read by ``session.get_spark`` and the
    Python workers. Everything the run writes stays under ``work``."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # mapInPandas workers import the program by module path (zip ingest)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")


def _start_session(work: str, ui: bool):
    from knot_another_pipeline_spark.session import get_spark

    java_opts = (f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={work}/tmp "
                 f"-Dderby.system.home={work}/derby -XX:-UsePerfData")
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.enabled": str(ui).lower(),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.driver.extraJavaOptions": java_opts,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark, descendants: set[int]) -> None:
    """Stop Spark, end the gateway JVM and wait for it and its Python
    workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in descendants):
        time.sleep(0.1)


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _metrics(values: dict, spec_list: list, *, complete: bool) -> dict:
    """Every metric of ``spec_list``, with its unit. A computed metric
    missing from ``BENCHMARK.json`` is an error, and so is a listed one
    left uncomputed when ``complete``; otherwise (per-layer metrics of a
    layer the workload does not run) it reads 0."""
    listed = {m["name"] for m in spec_list}
    unlisted = set(values) - listed
    if unlisted:
        raise KeyError(f"metrics not in BENCHMARK.json: {sorted(unlisted)}")
    if complete and listed - set(values):
        raise KeyError(f"metrics not computed: {sorted(listed - set(values))}")
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec_list}


def timed(wl, seconds: float) -> dict:
    """The closed loop: one operation after another until ``seconds``
    have passed; the operation in flight at the deadline completes."""
    lat, records, failures = [], 0, []
    deadline = time.perf_counter() + seconds
    while True:
        t = time.perf_counter()
        try:
            records += wl.op()
        except Exception:
            failures.append(traceback.format_exc(limit=3))
        lat.append(time.perf_counter() - t)
        if time.perf_counter() >= deadline:
            break
    return {"lat": lat, "records": records, "failures": failures}


def run(args, work: str, cache: str) -> dict:
    from perfbench import trace
    from perfbench.workloads import WORKLOADS

    spec = _bench_spec()
    wl = WORKLOADS[args.workload](work, cache, args.seed)
    wl.generate()

    t0 = time.perf_counter()
    spark = _start_session(work, ui=bool(args.trace))
    session_s = time.perf_counter() - t0
    sampler = trace.RssSampler(trace.jvm_pid(spark)).start()
    wl.spark = spark
    if args.trace:
        wl.tracer = trace.Tracer(run_id=f"{args.workload}-{args.seed}", spark=spark)
    failures: list[str] = []
    try:
        # a traced run stages once, so its per-layer counts cover one staging
        stage_s = []
        for _ in range(1 if args.trace else wl.SETUPS):
            t = time.perf_counter()
            wl.stage()
            stage_s.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(stage_s)
        if not args.trace:
            loop = timed(wl, args.seconds)
            failures += loop["failures"]
            attempted = len(loop["lat"])
            busy = sum(loop["lat"])
            values = {
                "setup_s": setup_s,
                "records_per_s": loop["records"] / busy,
            }
        else:
            values, attempted = _traced(wl, args, session_s)
        try:
            failures += wl.verify()
        except Exception:  # an operation failed and left no output to check
            failures.append(traceback.format_exc(limit=3))
        if not args.trace:
            values["stored_bytes_per_input_byte"] = wl.stored_bytes_per_input_byte()
    finally:
        descendants = set(trace.descendants(sampler.root_pid))
        peak_mb = sampler.stop()
        _stop_session(spark, descendants)
    for f in failures:
        _log("FAILED: " + f.strip())
    if not args.trace:
        values["peak_rss_mb"] = peak_mb
        _log(f"{args.workload}: {attempted} operations in {busy:.2f}s, "
             f"setup {setup_s:.2f}s")
    failed = min(len(failures), attempted)
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": _metrics(values, spec["per_layer" if args.trace else "end_to_end"],
                            complete=not args.trace),
    }


def _traced(wl, args, session_s: float) -> tuple[dict, int]:
    from perfbench.trace import SparkRest

    tracer = wl.tracer
    wl.tracer = None  # the warm-up and the plain run record no spans
    wl.fused()  # warm, so the two timed runs below compare like with like
    t = time.perf_counter()
    wl.fused()
    plain_s = time.perf_counter() - t
    with tracer.span(wl.FUSED):
        wl.fused()
    wl.tracer = tracer
    wl.traced(tracer)
    snap = SparkRest(wl.spark).snapshot()
    values = {
        "session.start_s": session_s,
        "jvm.gc_s": sum(s.get("jvmGcTime", 0) for s in snap.stages) / 1e3,
        "trace.overhead_s": tracer.seconds(wl.FUSED) - plain_s,
        **wl.layer_metrics(tracer, snap),
    }
    out = os.path.join(ROOT, ".perfbench", "trace")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{args.workload}-seed{args.seed}")
    tracer.dump(stem + ".spans.json")
    with open(stem + ".metrics.json", "w") as fh:
        json.dump(values, fh, indent=1, sort_keys=True)
    _log(f"trace written to {stem}.spans.json and {stem}.metrics.json")
    return values, 3


def _input_key(args) -> str:
    """Digest of what the cached inputs depend on besides the seed: the
    workload's input spec and the generator's source."""
    import inspect

    from perfbench import gen
    from perfbench.workloads import WORKLOADS

    spec = repr(WORKLOADS[args.workload].SPEC) + inspect.getsource(gen)
    return hashlib.md5(spec.encode()).hexdigest()[:10]


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(PROGRAM):
        _log(f"program not found: {os.path.relpath(PROGRAM, ROOT)} is missing "
             "(run from the root of a repository checkout)")
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    cache = os.path.join(base, "cache", f"{args.workload}-seed{args.seed}-{_input_key(args)}")
    _environment(work)
    # a terminated run still stops Spark and removes its scratch space
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args, work, cache)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
