"""Run one workload of the inxs_spark benchmark and print its metrics.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

The run builds the workload's inputs from the seed (cached on disk by seed
under ``perfbench/_cache``), asserts their row counts, and starts Spark on
``local[nproc]``. Set-up is timed ``SETUP_REPS`` times and the median is
kept. After one untimed call on the real input, the workload's job runs
at least once and repeats until ``--seconds`` have passed; ``wall_s`` is
the median over those runs. The output checks run after the timed window.
It is a closed loop with one client: one job at a time.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones. With ``--trace 1`` the run instead probes every
layer (see ``layers.py``) inside spans, prints a self-time table, writes
the spans to ``perfbench/_cache/traces/`` and reports the per-layer
metrics. BENCHMARK.json names the metrics of both kinds.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import statistics
import sys
import time
import traceback
import uuid

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
CACHE = os.path.join(BENCH_DIR, "_cache")

SETUP_REPS = 3
MAX_FAILED_REPS = 3

#: every end-to-end metric an untraced run reports, in BENCHMARK.json order
END_TO_END = ("wall_s", "rows_per_s", "cpu_s", "setup_s", "ok_frac")


def configure_env() -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the cache directory, and let the workers import the program.

    The run needs nothing from the shell it starts in beyond a ``python3``
    that has pyspark and a ``java`` on the PATH: the Python workers run
    this interpreter, and Spark binds and resolves the loopback address
    only, so an unresolvable host name or a missing network interface
    does not stop the session from starting."""
    tmp = os.path.join(CACHE, "tmp")
    for d in (tmp, os.path.join(CACHE, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.chdir(ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["SPARK_LOCAL_HOSTNAME"] = "localhost"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    # every JVM the launch starts (spark-submit's launcher included) keeps
    # its temporary files and native libraries in the cache directory; the
    # path is relative to the working directory so that a checkout path
    # with spaces cannot split the option
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.relpath(tmp, ROOT)}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.driver.host=127.0.0.1",
        "--conf", "spark.driver.bindAddress=127.0.0.1",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(CACHE, 'warehouse')}"),
        "--conf", "spark.ui.showConsoleProgress=false", "pyspark-shell",
    ])
    sys.path.insert(0, ROOT)


class Session:
    """The Spark session under test: start, timed restart, and a shutdown
    that waits until the JVM and its Python workers have ended."""

    def __init__(self, cores: int) -> None:
        self.cores = cores
        self.spark = None

    def start(self) -> float:
        """Session start + Python-worker spawn + a warm-up call on a tiny
        input; returns its wall seconds."""
        from inxs_spark.plans.extract_pipeline import extract_df
        from inxs_spark.sources.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(master=f"local[{self.cores}]", app_name="perfbench")
        tiny = self.spark.createDataFrame(
            [(f"c{i % 4}", i, "<article><p>warm <b>up</b></p></article>") for i in range(64)],
            "conv_id string, turn_idx int, text string",
        )
        extract_df(tiny, num_partitions=self.cores).count()
        return time.perf_counter() - t0

    def restart(self) -> float:
        self.spark.stop()
        return self.start()

    def leaked_caches(self) -> int:
        """Cached RDDs and tables still held by the session."""
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def clear_caches(self) -> None:
        self.spark.catalog.clearCache()
        for rdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)

    def close(self) -> None:
        import subprocess

        from pyspark import SparkContext

        from perfbench import procstat

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while procstat.descendants() and time.monotonic() < deadline:
            time.sleep(0.2)
        left = procstat.descendants()
        for pid in left:
            try:
                os.kill(pid, 9)
            except ProcessLookupError:  # it ended after the listing
                pass
        deadline = time.monotonic() + 30
        while any(procstat.alive(pid) for pid in left) and time.monotonic() < deadline:
            try:
                os.waitpid(-1, os.WNOHANG)  # reap any of our own children
            except ChildProcessError:
                pass
            time.sleep(0.1)


def _versions() -> dict:
    import pyarrow
    import pyspark

    return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__}


def _print_metrics(metrics: dict, units: dict) -> None:
    for name in sorted(metrics):
        print(f"metric {name} = {metrics[name]['value']:.6g} {units[name]}")


def _load_units() -> dict:
    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def run_untraced(session: Session, w, seconds: float, log) -> dict:
    """Time the workload's job until ``seconds`` have passed."""
    from perfbench import procstat
    from perfbench.spans import Tracer

    off = Tracer("", enabled=False)
    # one untimed call on the real input lets the JIT, codegen and the
    # Python workers' imports settle before timing
    t0 = time.perf_counter()
    result = w.job(session.spark, off)
    w.release(session.spark, result)
    session.clear_caches()
    w.discard(result)
    log(f"warm-up call: {time.perf_counter() - t0:.3f} s (untimed)")
    walls, cpus, results = [], [], []
    attempted = failed = 0
    t_start = time.monotonic()
    while (not walls or time.monotonic() - t_start < seconds) and failed < MAX_FAILED_REPS:
        attempted += 1
        load = os.getloadavg()[0]
        before = procstat.cpu_seconds(procstat.descendants())
        t0 = time.perf_counter()
        try:
            result = w.job(session.spark, off)
        except Exception:
            failed += 1
            traceback.print_exc()
            session.clear_caches()
            continue
        wall = time.perf_counter() - t0
        cpu = procstat.cpu_delta(before, procstat.cpu_seconds(procstat.descendants()))
        w.release(session.spark, result)
        leaked = session.leaked_caches()
        session.clear_caches()
        if results:
            w.discard(results[-1])
        walls.append(wall)
        cpus.append(cpu)
        results.append(result)
        log(f"rep {attempted}: wall_s={wall:.3f} cpu_s={cpu:.2f} "
            f"loadavg_1m_before={load:.2f} spark.leaked_caches={leaked}")
    if not walls:
        raise RuntimeError(f"{w.name}: every rep failed")
    problems = w.check(session.spark, results)
    for p in problems:
        log(f"CHECK FAILED: {p}")
    if problems:
        failed = attempted
    w.discard(results[-1])
    # the JVM's resident set under G1 varies by about 30 % between identical
    # runs here, too much to hold a bound, so it is recorded, not scored
    log(f"info peak_rss_mb={procstat.peak_rss_mb(procstat.descendants()):.0f} "
        "(JVM + Python workers, sum of VmHWM)")
    wall = statistics.median(walls)
    return {
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "wall_s": wall,
            "rows_per_s": w.rows / wall,
            "cpu_s": statistics.median(cpus),
            "ok_frac": 1.0 - failed / attempted,
        },
    }


def run_traced(session: Session, name: str, seed: int, log) -> dict:
    """Probe every layer once on the seed's inputs, then time the named
    workload's job untraced and traced back to back (``trace.overhead_s``).
    The other workloads' layers and jobs run first, so the named
    workload's two jobs run on a warm session."""
    from perfbench import layers
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS

    spark = session.spark
    run_id = uuid.uuid4().hex[:12]
    tracer = Tracer(run_id)
    off = Tracer(run_id, enabled=False)
    ws = {n: cls(seed) for n, cls in WORKLOADS.items()}
    ex, cu, an = ws["extract"], ws["curate"], ws["analytics"]
    probes = {"extract": layers.extract_layers, "curate": layers.curate_layers}
    m: dict = {}
    problems: list[str] = []
    walls: dict[str, float] = {}
    results: dict[str, object] = {}
    leaks: dict[str, int] = {}
    calls = 0

    def job(wl, tr):
        nonlocal calls
        calls += 1
        t0 = time.perf_counter()
        with tr.span(f"job.{wl.name}"):
            result = wl.job(spark, tr)
        wall = time.perf_counter() - t0
        wl.release(spark, result)
        leaks[wl.name] = session.leaked_caches()
        session.clear_caches()
        problems.extend(wl.check(spark, [result]))
        return wall, result

    for n in [n for n in WORKLOADS if n != name] + [name]:
        if n in probes:
            calls += 1
            metrics, found = probes[n](spark, ws[n], tracer)
            session.clear_caches()
            m.update(metrics)
            problems.extend(found)
        # another workload's job runs once, traced; the named workload's
        # job runs untraced here and traced below
        walls[n], results[n] = job(ws[n], off if n == name else tracer)
    traced_wall, traced_result = job(ws[name], tracer)
    m["trace.overhead_s"] = traced_wall - walls[name]
    m["spark.leaked_caches"] = leaks[name]
    m.update(layers.query_metrics(tracer))
    m.update(layers.curate_stage_metrics(cu, results["curate"]))
    cu.discard(results["curate"])
    ws[name].discard(traced_result)
    scan_input = {
        "extract": (ex.data, "text"),
        "curate": (cu.data, "text"),
        "analytics": (os.path.join(an.data, "lineitem.parquet"), "l_returnflag"),
    }[name]
    m["sources.scan_s"] = layers.scan(spark, *scan_input, tracer)
    ideal = ex.rows * m["kernel.us_per_turn"] / 1e6 / session.cores
    m["plans.extract_pipeline.spark_over_ideal"] = walls["extract"] / ideal
    tables = [os.path.join(an.data, f"{t}.parquet") for t in an.manifest["rows"]]
    m["operators.fanout.fired"] = layers.fanout_fired(spark, [ex.data, cu.data] + tables)

    log("self time per span (traced run, all layers):")
    log(tracer.format_table())
    if name == "extract":
        scan, plumbing = m["sources.scan_s"], m["plans.extract_pipeline.plumbing_s"]
        log(f"extract wall_s {walls['extract']:.3f} = scan {scan:.3f}"
            f" + plumbing beyond scan {plumbing - scan:.3f}"
            f" + kernel ideal {ideal:.3f}"
            f" + unexplained {walls['extract'] - plumbing - ideal:.3f}")
    os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
    path = os.path.join(CACHE, "traces", f"{name}-s{seed}-{run_id}.json")
    tracer.write(path)
    log(f"spans written to {os.path.relpath(path, ROOT)}")
    for p in problems:
        log(f"CHECK FAILED: {p}")
    return {"attempted": calls, "failed": calls if problems else 0, "metrics": m}


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=("extract", "curate", "analytics"))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    configure_env()
    from perfbench.workloads import WORKLOADS

    def log(line: str) -> None:
        print(line, flush=True)

    units = _load_units()
    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    w = WORKLOADS[args.workload](args.seed)
    if args.trace:
        for cls in WORKLOADS.values():
            cls(args.seed)
    gen_s = time.perf_counter() - t0
    log(f"workload={args.workload} seed={args.seed} trace={args.trace} nproc={cores} "
        f"master=local[{cores}] {' '.join(f'{k}={v}' for k, v in _versions().items())}")
    log(f"info input_gen_s={gen_s:.3f} input_rows={w.rows}")

    session = Session(cores)
    try:
        setups = []
        # the traced run reports no setup_s, so it sets up once
        for i in range(1 if args.trace else SETUP_REPS):
            load = os.getloadavg()[0]
            setups.append(session.start() if i == 0 else session.restart())
            log(f"setup {i + 1}: {setups[-1]:.3f} s (loadavg_1m_before={load:.2f}"
                f"{', includes JVM launch' if i == 0 else ''})")
        got = w.input_rows(session.spark)
        if got != w.rows:
            raise AssertionError(f"{w.name} input has {got} rows, expected {w.rows}")
        if args.trace:
            out = run_traced(session, args.workload, args.seed, log)
        else:
            out = run_untraced(session, w, args.seconds, log)
            out["metrics"]["setup_s"] = statistics.median(setups)
    finally:
        session.close()

    from perfbench.layers import PER_LAYER

    expected = PER_LAYER if args.trace else END_TO_END
    if set(out["metrics"]) != set(expected):
        raise RuntimeError(f"metric names {sorted(out['metrics'])} != {sorted(expected)}")
    metrics = {k: {"value": float(out["metrics"][k]), "unit": units[k]} for k in expected}
    _print_metrics(metrics, units)
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
