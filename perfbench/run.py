"""spark-dig benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload kg_search --seed 1 --seconds 10 \
        --trace 0

Run from the repository root. The engine package is imported from the
parent of this directory; without it the run exits non-zero and prints
no result. All scratch state lives in ``.perfbench_work/`` under the
repository root and is removed when the run ends; a traced run leaves
its span dump there.

``--seconds`` sizes the timed work: whole cycles of search requests, or
the stream backlog, that take about that long on a 4-core host.
``--trace 0`` reports the end-to-end metrics of that work. ``--trace 1``
runs it twice, untraced and then traced, and reports the per-layer
metrics of the traced pass (see README.md). The last line of standard
output is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402
from spans import Tracer  # noqa: E402

WORKLOADS = ("kg_search", "stream_curate")


def _env(work: Path) -> None:
    """Pin the engine's deployment settings and keep every temp file of
    the driver, the JVM and the Python workers inside the run's scratch
    root."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["SPARK_UI"] = "false"
    # spark-submit's launcher JVM would otherwise write perf data to the
    # system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile
    tempfile.tempdir = None


def _spark_conf(work: Path) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData "
            f"-Dderby.system.home={work / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
        # the tracer reads job and stage attribution after the run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }


def _stop_spark() -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the gateway may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _reap_children(timeout: float = 30.0) -> None:
    """Terminate any process this run started that is still alive (a JVM
    whose start was interrupted has no gateway to stop it), and wait for
    each to end."""
    pids = metrics.process_tree(os.getpid())[1:]
    for pid in pids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout
    for pid in pids:
        while _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        os.waitpid(pid, os.WNOHANG)        # reap it if it is our child
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def run(args, work: Path) -> dict:
    import workloads as W

    phases = {}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = round(now - mark, 3)
        mark = now

    tracer = Tracer(enabled=False)
    ctx = W.Ctx(spark=None, tracer=tracer, work=str(work), seed=args.seed,
                seconds=args.seconds, traced=bool(args.trace))
    wl = W.make(args.workload, ctx)        # inputs, before any engine work
    phase("inputs")

    # set-up is what a user pays before the first operation: the engine
    # import, the session (JVM start), the catalog and one cold build of
    # the workload's fixture
    t_setup = time.perf_counter()
    from dig_etl_engine_spark.session import get_spark

    # the traced run attributes setup too; the untraced one never
    # enables the tracer
    tracer.enabled = ctx.traced
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        ctx.spark = get_spark("perfbench", extra_conf=_spark_conf(work))
    tracer.sc = ctx.spark.sparkContext if ctx.traced else None
    session_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.catalog()
    catalog_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.fixture()
    fixture_s = time.perf_counter() - t0
    setup_s = time.perf_counter() - t_setup
    phase("setup")

    # warm-up and the untraced pass record no spans
    tracer.enabled = False
    sc, tracer.sc = tracer.sc, None
    wl.warmup()
    phase("warmup")
    t0 = time.perf_counter()
    wl.run()
    untraced_wall = time.perf_counter() - t0
    # the end-to-end figures are the untraced pass's alone
    e2e = {"setup_s": (setup_s, "s", 1), **wl.end_to_end()}
    report = wl.report()
    samples = ctx.samples
    if ctx.traced:
        # the same work again, traced, on a fresh fixture: the difference
        # is the tracing overhead
        ctx.samples = {}
        wl.reset()
        tracer.enabled, tracer.sc = True, sc
        t0 = time.perf_counter()
        with tracer.span("bench.traced_pass"):
            wl.run()
        traced_wall = time.perf_counter() - t0
    phase("run")
    wl.check()
    peak_rss = metrics.peak_rss_mb()
    tracer.resolve_jobs()
    phase("check")

    # printed, not bounded: the JVM's heap growth moves it by 10-20%
    # between identical runs
    rss = {"peak_rss_mb": (peak_rss, "MB", 1)}
    out = {"e2e": e2e, "report": {**e2e, **rss, **report}, "ctx": ctx,
           "samples": samples,
           "setup": {"session_s": session_s, "catalog_s": catalog_s,
                     "fixture_s": fixture_s}, "phases_s": phases}
    if ctx.traced:
        layer = metrics.per_layer(tracer, wl)
        layer["tracing_overhead_frac"] = (
            (traced_wall - untraced_wall) / untraced_wall, "ratio", 1)
        out["layer"] = layer
        tracer.dump(str(work.parent / f"spans-{args.workload}-"
                        f"{args.seed}.json"))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "dig_etl_engine_spark" / "__init__.py").is_file():
        print(f"perfbench: engine package not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    # a terminated run still stops Spark and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    _env(work)
    try:
        out = run(args, work)
    finally:
        _stop_spark()
        _reap_children()
        shutil.rmtree(work, ignore_errors=True)

    ctx = out["ctx"]
    print(f"# workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace}")
    for name, (v, unit, n) in out["report"].items():
        print(f"# {name:<28} {v:12.4f} {unit:<6} n={n}")
    frac = ctx.failed / max(1, ctx.attempted)
    print(f"# {'ops_failed_frac':<28} {frac:12.4f} ratio  "
          f"n={ctx.attempted}")
    print(f"# setup parts: {json.dumps(out['setup'])}")
    print(f"# phases: {json.dumps(out['phases_s'])}")
    print(f"# inputs: {json.dumps(ctx.props, sort_keys=True)}")
    print("# samples: " + json.dumps(
        {k: [round(x, 4) for x in v] for k, v in out["samples"].items()}))
    for e in ctx.errors:
        print(f"# error: {e}")
    chosen = out["layer"] if args.trace else out["e2e"]
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u, _n) in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
