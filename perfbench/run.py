"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pipeline_dense --seed 1 --seconds 12 --trace 0

Prints a metric table, then, as the last line of stdout, one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run adds one traced operation and reports the per-layer metrics instead
(spans go to ``.perfbench_out/``).  Exits 1 when an output check fails and
2 when the package under test is missing.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

# (name, unit, better) — the end-to-end metrics every untraced run reports.
E2E = [
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("pages_per_s", "pages/s", "higher"),
    ("stmts_per_s", "stmts/s", "higher"),
    ("round_p50_s", "s", "lower"),
    ("urls_per_s", "urls/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
]
# (name, unit, better) — the per-layer metrics every traced run reports; a
# layer a workload does not exercise reports 0.  The funnel counts are
# invariants: a correct change leaves them as they are.
LAYERS = [
    ("session.start_s", "s", "lower"),
    ("core.detect_us_per_page", "us", "lower"),
    ("core.extract_us_per_page", "us", "lower"),
    ("core.parse_us_per_stmt", "us", "lower"),
    ("core.formalize_us_per_stmt", "us", "lower"),
    ("core.pages_per_s_1t", "pages/s", "higher"),
    ("funnel.pages", "count", "higher"),
    ("funnel.detected", "count", "higher"),
    ("funnel.stmts", "count", "higher"),
    ("funnel.prefiltered", "count", "higher"),
    ("funnel.parsed", "count", "higher"),
    ("funnel.formalized", "count", "higher"),
    ("funnel.kept", "count", "higher"),
    ("funnel.keep_ratio", "ratio", "higher"),
    ("udf.extract_raws_s", "s", "lower"),
    ("udf.parse_and_formalize_s", "s", "lower"),
    ("pipeline.jobs", "count", "lower"),
    ("pipeline.task_s", "s", "lower"),
    ("pipeline.jvm_cpu_s", "s", "lower"),
    ("pipeline.dedup_task_s", "s", "lower"),
    ("pipeline.shuffle_write_mb", "MB", "lower"),
    ("pipeline.spill_mb", "MB", "lower"),
    ("pipeline.cost_ratio", "ratio", "higher"),
    ("round.jobs", "count", "lower"),
    ("round.stages", "count", "lower"),
    ("round.job_s", "s", "lower"),
    ("round.task_s", "s", "lower"),
    ("round.driver_gap_s", "s", "lower"),
    ("round.popped", "count", "higher"),
    ("seen.bloom_build_s", "s", "lower"),
    ("seen.bloom_add_s", "s", "lower"),
    ("seen.bloom_builds", "count", "lower"),
    ("seen.filter_s", "s", "lower"),
    ("seen.admit_ratio", "ratio", "higher"),
    ("negcache.jobs", "count", "lower"),
    ("negcache.task_s", "s", "lower"),
    ("commit.write_s", "s", "lower"),
    ("commit.bytes_per_round", "B", "lower"),
    ("commit.files_per_round", "count", "lower"),
    ("load.state_s", "s", "lower"),
    ("crawl.resume_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    from perfbench.workloads import WORKLOADS

    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(workdir: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    for sub in ("tmp", "local"):
        (workdir / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(workdir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(workdir / "local")
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={workdir / 'tmp'} pyspark-shell")


def _stop_processes() -> None:
    """Stop Spark, close the JVM gateway and wait for every process this run
    started (JVM, Python workers, anything they forked) to end."""
    from pyspark import SparkContext

    from perfbench import trace as TR

    pids = TR.descendants()
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True


def run(args, workdir: Path) -> dict:
    from logtemplatecrawler_spark import session as SESSION

    from perfbench import corpus as CP
    from perfbench import trace as TR
    from perfbench import workloads as W

    n = W.cores()
    t0 = time.perf_counter()
    wl = W.WORKLOADS[args.workload](args.seed, n)
    phases = {"inputs": time.perf_counter() - t0}
    sampler = TR.RssSampler()
    sampler.start()
    problems, attempted = [], 0

    setups, session_s = [], []
    spark = inputs = None
    for _ in range(W.N_SETUPS):
        if spark is not None:
            spark.stop()
            W.rebind_udfs()
        t0 = time.perf_counter()
        spark = SESSION.build_session(
            "perfbench", master=f"local[{n}]", shuffle_partitions=n)
        session_s.append(time.perf_counter() - t0)
        spark.sparkContext.setLogLevel("ERROR")
        inputs = wl.load(spark)
        wl.warm_up(spark, inputs)
        setups.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.prepare(spark, inputs, str(workdir))
    phases["prepare"] = time.perf_counter() - t0

    def timed(tag: str, budget: float):
        """Closed loop: the next operation starts when the previous one
        ends, and none starts that would end past ``budget`` seconds
        (the first always runs)."""
        nonlocal attempted
        ops, t_start = [], time.perf_counter()
        while True:
            attempted += 1
            try:
                ops.append(wl.operate(spark, inputs, str(workdir), f"{tag}{len(ops)}"))
            except Exception as exc:  # noqa: BLE001 — a raising op is a failed op
                traceback.print_exc(file=sys.stderr)
                problems.append(f"{tag}: {type(exc).__name__}: {exc}")
                return ops
            if time.perf_counter() - t_start + ops[-1]["wall_s"] > budget:
                break
        if not wl.check_first:
            problems.extend(f"{tag}: {b}" for b in wl.check(spark, inputs, ops[-1]))
        return ops

    t0 = time.perf_counter()
    if wl.check_first:
        problems.extend(f"check: {b}" for b in wl.check(spark, inputs, {}))
    ops = timed("t", args.seconds)
    phases["timed+check"] = time.perf_counter() - t0
    phases["setups"] = setups
    phases["ops"] = [o["wall_s"] for o in ops]
    e2e = wl.e2e(ops) if ops else {}
    e2e["setup_s"] = statistics.median(setups)

    layers = {}
    t0 = time.perf_counter()
    if args.trace and ops:
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        tracer = TR.Tracer(f"{args.workload}-seed{args.seed}")
        tracer.attach(spark)
        before = TR.last_job_id(spark)
        tracer.install()
        try:
            traced = timed("traced", 0)
        finally:
            tracer.uninstall()
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
        jobs = TR.read_jobs(spark, before)
        if traced:
            layers.update(W.udf_layers(spark, len(traced)))
            layers.update(wl.layers(tracer, jobs, traced))
            layers["trace.overhead_s"] = (
                statistics.median(o["wall_s"] for o in traced) - e2e["wall_s"])
        layers["session.start_s"] = statistics.median(session_s)
        core = CP.core_pass(wl.core_pages())
        layers.update(CP.core_timings(core))
        funnel = dict(core["funnel"], kept=wl.kept(core["rows"]))
        problems.extend(f"funnel: {b}"
                        for b in CP.compare(funnel, wl.corpus.meta["funnel"]))
        layers.update({f"funnel.{k}": v for k, v in funnel.items()})
        layers["funnel.keep_ratio"] = funnel["kept"] / max(funnel["stmts"], 1)
        if layers["core.pages_per_s_1t"] and "pages_per_s" in e2e:
            layers["pipeline.cost_ratio"] = (
                e2e["pages_per_s"] / (n * layers["core.pages_per_s_1t"]))
        os.makedirs(ROOT / ".perfbench_out", exist_ok=True)
        with open(ROOT / ".perfbench_out" / f"{tracer.run_id}-spans.json", "w") as fh:
            json.dump({"spans": tracer.to_json(),
                       "jobs": [vars(j) for j in jobs]}, fh)
    phases["trace"] = time.perf_counter() - t0
    failed = attempted if problems else 0
    e2e["peak_rss_mb"] = sampler.stop()
    import pyarrow
    import pyspark
    return {
        "problems": problems, "attempted": attempted, "failed": failed,
        "e2e": e2e, "layers": layers, "phases": phases,
        "env": {"cores": n, "spark": pyspark.__version__,
                "python": platform.python_version(),
                "arrow": pyarrow.__version__, "seed": args.seed,
                "workload": args.workload},
    }


def _print_table(res: dict, trace: int) -> None:
    print("# " + " ".join(f"{k}={v}" for k, v in res["env"].items()))
    print("# phases " + json.dumps(res["phases"], default=lambda v: round(v, 2)))
    for p in res["problems"]:
        print(f"# CHECK FAILED {p}")
    if trace:
        for name, unit, _ in LAYERS:
            print(f"{name:32s} {res['layers'].get(name, 0.0):14.4f} {unit}")
        return
    extra = [("resume_s", "s")] if "resume_s" in res["e2e"] else []
    for name, unit in [(n, u) for n, u, _ in E2E] + extra:
        if name in res["e2e"]:
            print(f"{name:32s} {res['e2e'][name]:14.4f} {unit}")
    frac = res["failed"] / res["attempted"] if res["attempted"] else 1.0
    print(f"{'failed_frac':32s} {frac:14.4f} ratio")


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import logtemplatecrawler_spark
        import pyspark  # noqa: F401
        import tests.test_crawl  # noqa: F401 — the crawl oracle
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}",
              file=sys.stderr)
        return 2
    if Path(logtemplatecrawler_spark.__file__).resolve().parents[1] != ROOT:
        print("perfbench: the package under test is not the one in this "
              f"checkout ({logtemplatecrawler_spark.__file__})", file=sys.stderr)
        return 2
    workdir = ROOT / ".perfbench_work" / str(os.getpid())
    _prepare_env(workdir)
    try:
        res = run(args, workdir)
    finally:
        _stop_processes()
        shutil.rmtree(workdir, ignore_errors=True)
    _print_table(res, args.trace)
    spec = LAYERS if args.trace else E2E
    units = {n: u for n, u, _ in spec}
    source = res["layers"] if args.trace else res["e2e"]
    correct = res["failed"] == 0 and not res["problems"]
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": float(source.get(n, 0.0)), "unit": units[n]}
                    for n in units},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
