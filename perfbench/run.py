"""Benchmark entry point.

    python3 perfbench/run.py --workload spatial_joins --seed 1 --seconds 8 --trace 0

Run from the repository root. Builds nothing: the engine is pure Python
plus a small C kernel library that ``gdal_spark.native`` compiles on
first use (primed here, before set-up is timed). All generated inputs,
caches, Spark scratch space and traces live under ``.perfbench/`` in
the current directory.

Load is one driver process running a closed loop on ``local[nproc]``:
the next pass starts when the previous one has finished. The last line
of stdout is the JSON result; the lines before it are a readable
summary and the host description.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
NPROC = len(os.sched_getaffinity(0))
CACHED_SEEDS = 12  # input sets kept per workload
# keep JVM temp files and perf data out of /tmp
JVM_OPTS = "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"

# per-layer metrics of the traced run, name -> unit (see README.md for
# the end-to-end metric and workload each one should move)
PER_LAYER = {
    "session.start_s": "s", "session.restart_s": "s", "pyworker.spawn_s": "s",
    "pyworker.boot_s": "s", "pyworker.init_s": "s",
    "warmup.s": "s",
    "scan.rows": "count", "scan.mb": "MB", "scan.s": "s",
    "cover.z7_cells_per_row": "ratio", "cover.z12_cells_per_row": "ratio",
    "join.s": "s", "join.candidates": "count", "join.hit_ratio": "ratio",
    "join.broadcast_mb": "MB", "join.broadcast_s": "s",
    "refine.rows_in": "count", "refine.rows_out": "count", "refine.python_s": "s",
    "refine.arrow_sent_mb": "MB", "refine.arrow_recv_mb": "MB",
    "pip.s": "s", "pip.candidates": "count", "pip.hit_ratio": "ratio",
    "pip.broadcast_mb": "MB", "pip.broadcast_s": "s",
    "pip.refine.rows_in": "count", "pip.refine.rows_out": "count", "pip.refine.python_s": "s",
    "pip.refine.arrow_sent_mb": "MB", "pip.refine.arrow_recv_mb": "MB",
    "knn.s": "s", "knn.sql_executions": "count", "knn.candidates_per_result": "ratio",
    "tiler.partials": "count", "tiler.tiles.z11": "count",
    "tiler.tiles.z12": "count",
    "tiler.render.python_s": "s", "tiler.compose.python_s": "s",
    "tiler.overview.python_s": "s", "tiler.finalize.python_s": "s",
    "cache.mb": "MB",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.records": "count",
    "spill.mb": "MB", "fetch_wait_s": "s",
    "jvm.run_s": "s", "jvm.cpu_s": "s", "jvm.gc_s": "s", "python_share": "ratio",
    "codec.decode_mbps.png": "MB/s", "codec.decode_mbps.jpeg": "MB/s",
    "codec.decode_mbps.webp": "MB/s", "codec.encode_mbps.png": "MB/s", "native.loaded": "count",
    "warp.tiles_per_s": "1/s", "geometry.pip_mpts_per_s": "Mpts/s",
    "trace.pass_s": "s", "trace.overhead_s": "s", "trace.uncovered_s": "s", "trace.spans": "count",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["spatial_joins", "tile_pyramid"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _prepare_env(repo: str, work: str) -> None:
    """Keep every file the run writes inside ``work`` and let Python
    workers import the engine from this checkout."""
    for d in ("tmp", "cache", "spark-local", "out"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = repo + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["XDG_CACHE_HOME"] = os.path.join(work, "cache")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the JVM that spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = JVM_OPTS.format(tmp=os.environ["TMPDIR"])
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]


def host_info() -> dict:
    import numpy
    import pyspark

    from gdal_spark import native

    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                          capture_output=True, text=True).stderr.splitlines()
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": NPROC,
        "ram_gb": round(mem_kb / 2**20, 1),
        "java": java[0] if java else "unknown",
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
        "native_loaded": native.get_lib() is not None,
    }


def load_inputs(wl, seed: int, work: str):
    """Inputs and oracle answers for ``seed``, generated on first use and
    cached (the newest ``CACHED_SEEDS`` per workload are kept)."""
    from perfbench import inputs

    # the cache key covers the generator and oracle code as well as the seed
    h = hashlib.sha256()
    for f in ("inputs.py", "oracles.py", "workloads.py"):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    base = os.path.join(work, "inputs", wl.name)
    root = os.path.join(base, f"seed-{seed}-{h.hexdigest()[:12]}")
    done = os.path.join(root, "expected.json")
    gen_s = 0.0
    if not os.path.exists(done):
        t = time.perf_counter()
        shutil.rmtree(root, ignore_errors=True)
        data = inputs.build(wl.name, seed, root)
        expected = {"oracle": wl.oracle(root, data), "input_digest": inputs.digest_dir(root)}
        with open(done + ".tmp", "w") as f:
            json.dump(expected, f)
        os.replace(done + ".tmp", done)
        gen_s = time.perf_counter() - t
    os.utime(root)
    old = sorted((os.path.join(base, d) for d in os.listdir(base)), key=os.path.getmtime)
    for d in old[:-CACHED_SEEDS]:
        shutil.rmtree(d, ignore_errors=True)
    with open(done) as f:
        return root, json.load(f), gen_s


def start_session(work: str, ui: bool):
    """The engine's own session (``get_spark`` defaults) with only what
    this host and a clean checkout need: driver memory well below the
    host's RAM, no console progress bar, the UI for traced runs only,
    scratch directories inside the checkout."""
    from gdal_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.enabled": "true" if ui else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": JVM_OPTS.format(tmp=os.path.join(work, "tmp")),
    }
    spark = get_spark("perfbench", master=f"local[{NPROC}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def spawn_workers(spark, modules) -> None:
    """Start one Python worker per core and import ``modules`` in each."""
    n = spark.sparkContext.defaultParallelism

    def imp(it):
        import importlib

        for m in modules:
            importlib.import_module(m)
        yield from it

    spark.range(0, n, 1, n).mapInPandas(imp, "id long").count()


def warm_up(spark, wl, root, work, tr) -> float:
    """One pass whose output is discarded; returns its wall time."""
    out_dir = os.path.join(work, "out", "warm")
    t0 = time.perf_counter()
    wl.run(spark, root, tr, out_dir)
    dt = time.perf_counter() - t0
    shutil.rmtree(out_dir, ignore_errors=True)
    return dt


def drop_cached(spark) -> None:
    """Unpersist every cached block, then collect the JVM heap so each
    pass starts from the same heap (G1 shrinks it on a full collection)."""
    from gdal_spark.cache import release_all

    release_all()
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def stop_jvm() -> None:
    """Stop the SparkContext, then the JVM gateway process, and wait."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def jvm_pid() -> int:
    """The process the JVM runs in; Python workers are its descendants."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def timed_passes(spark, wl, root, expected, work, seconds, tr):
    """Closed loop of passes for ``seconds`` (and at least ``wl.min_passes``);
    returns per-pass records. CPU and memory are those of the JVM and
    Python-worker process tree."""
    from perfbench.procstat import PeakMemory, cpu_seconds, steal_seconds

    pid = jvm_pid()
    want = expected["oracle"]
    passes = []
    t_end = time.perf_counter() + seconds
    while len(passes) < wl.min_passes or time.perf_counter() < t_end:
        pass_id = f"p{len(passes):03d}"
        out_dir = os.path.join(work, "out", pass_id)
        shutil.rmtree(out_dir, ignore_errors=True)
        drop_cached(spark)
        rec = {"id": pass_id, "ok": False}
        cpu0, st0 = cpu_seconds(pid), steal_seconds()
        try:
            with PeakMemory(pid) as mem, tr.run_pass(pass_id):
                t0 = time.perf_counter()
                got, out_bytes = wl.run(spark, root, tr, out_dir)
                rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = cpu_seconds(pid) - cpu0
            rec["steal_s"] = steal_seconds() - st0
            # wall time the VM had its CPUs: less the time the hypervisor
            # ran other guests on them, spread over the cores
            rec["own_s"] = rec["wall_s"] - rec["steal_s"] / NPROC
            rec["peak_mem"] = mem.peak
            tr.after_pass(pass_id)
            with tr.side_call(pass_id, "verify"):
                got = wl.verify(spark, got, out_dir)
            rec["out_bytes"] = out_bytes if out_bytes is not None else got["tile_bytes"]
            rec["ok"] = wl.check(got, want)
            if "per_zoom" in got:
                rec["per_zoom"] = got["per_zoom"]
            if not rec["ok"]:
                print(f"pass {pass_id}: wrong output {got} != {want}", file=sys.stderr)
        except Exception as e:  # a failed pass is counted, the loop goes on
            import traceback

            traceback.print_exc()
            print(f"pass {pass_id} failed: {e!r}", file=sys.stderr)
        passes.append(rec)
    return passes


def traced_run(spark, wl, root, expected, work, args, untraced, setup) -> dict:
    """Worker spawn and passes in a session with the UI on (the JVM, and
    with it JIT and codegen caches, is the warm one of the untraced
    passes), then the REST walk, the cell-cover counts and the kernel
    microbench. ``setup`` holds the set-up layers measured before."""
    from perfbench import kernels, tracing
    from perfbench.inputs import PYR_MAX_ZOOM

    tr = tracing.Tracer(spark)
    t = time.perf_counter()
    with tr.run_pass("spawn"), tr.call("spawn_workers"):
        spawn_workers(spark, wl.modules)
    setup["pyworker.spawn_s"] = time.perf_counter() - t
    passes = timed_passes(spark, wl, root, expected, work, args.seconds, tr)
    rest = tr.collect()
    boot, init = tracing.warmup_workers(tr.passes[0], rest)
    spans, per_pass = [], []
    knn_rows = expected["oracle"].get("knn_rows", 0)
    for p, rec in zip(tr.passes[1:], passes):
        sp = tracing.pass_spans(p, rest)
        tracing.self_times(sp)
        spans += sp
        layers = tracing.pass_layers(p, rest, knn_rows)
        layers["cache.mb"] = tr.cache_bytes.get(p["id"], 0) / 2**20
        layers["trace.pass_s"] = rec.get("wall_s", 0.0)
        # the pass span's own self time: driver time outside every call
        layers["trace.uncovered_s"] = sp[0]["self_s"]
        per_pass.append(layers)
    L = tracing.median_layers(per_pass)
    for z, n in passes[-1].get("per_zoom", {}).items():
        L[f"tiler.tiles.z{z}"] = n
    L.update(setup)
    L["pyworker.boot_s"], L["pyworker.init_s"] = boot, init
    # the spans' self times sum to the traced pass time; this is how far
    # that lies from the untraced pass time
    L["trace.overhead_s"] = L["trace.pass_s"] - statistics.median(
        p["wall_s"] for p in untraced if "wall_s" in p)
    L["trace.spans"] = len(spans)
    # cell cover of the workload's bbox table at the join index and z12
    from gdal_spark.operators.spatial_join import explode_bbox_cells

    table = {"spatial_joins": "footprints", "tile_pyramid": "images"}[wl.name]
    df = spark.read.parquet(os.path.join(root, table))
    n = df.count()
    for key, z in (("cover.z7_cells_per_row", 7), ("cover.z12_cells_per_row", PYR_MAX_ZOOM)):
        L[key] = explode_bbox_cells(df, zoom=z).count() / n
    L.update(kernels.run(wl.name, root))
    tracing.write_trace(os.path.join(work, "traces", f"{wl.name}-seed{args.seed}.json"), spans, L)
    return {k: (float(L.get(k, 0.0)), u) for k, u in PER_LAYER.items()}


def main(argv=None) -> int:
    args = _parse(argv)
    repo = os.getcwd()
    if not os.path.isfile(os.path.join(repo, "gdal_spark", "__init__.py")):
        print("perfbench: run from the repository root (no gdal_spark/ here)", file=sys.stderr)
        return 2
    work = os.path.join(repo, ".perfbench")
    _prepare_env(repo, work)
    # import the package from the checkout, not sibling modules by name
    sys.path[:] = [repo] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]

    from perfbench import tracing
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    root, expected, gen_s = load_inputs(wl, args.seed, work)
    host = host_info()  # primes gdal_spark.native before set-up is timed

    # set-up, as every run of a user pays it: JVM launch and session
    # start, then one untimed warm-up pass (Python-worker spawn and
    # imports, codegen, JIT). Then the timed passes in the same session.
    null = tracing.NullTracer()
    layers = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, ui=False)
        t1 = time.perf_counter()
        warm_up(spark, wl, root, work, null)
        t2 = time.perf_counter()
        setup = {"session.start_s": t1 - t0, "warmup.s": t2 - t1}
        passes = timed_passes(spark, wl, root, expected, work, args.seconds, null)
        spark.stop()
        if args.trace:
            t = time.perf_counter()
            spark = start_session(work, ui=True)
            setup["session.restart_s"] = time.perf_counter() - t
            layers = traced_run(spark, wl, root, expected, work, args, passes, setup)
    finally:
        stop_jvm()

    failed = sum(not p["ok"] for p in passes)
    good = [p for p in passes if p["ok"]]
    # with no correct pass every figure but set-up and ok_frac reads 0
    med = lambda k: statistics.median(p[k] for p in good) if good else 0.0  # noqa: E731
    e2e = {
        "setup_s": (t2 - t0, "s"),
        "rows_per_s": (wl.rows() / med("own_s") if good else 0.0, "1/s"),
        "cpu_s": (med("cpu_s"), "s"),
        "peak_rss_mb": (max((p["peak_mem"] for p in good), default=0) / 2**20, "MB"),
        "output_mb": (med("out_bytes") / 2**20, "MB"),
        "ok_frac": (1 - failed / len(passes), "ratio"),
    }
    print(f"# {wl.name} seed={args.seed} input={wl.rows()} {wl.unit} "
          f"digest={expected['input_digest'][:16]} gen_s={gen_s:.2f} passes={len(passes)} "
          f"failed_frac={failed / len(passes):.3f}")
    for k, (v, u) in e2e.items():
        print(f"#   {k:12s} {v:14.4f} {u}")
    print(json.dumps({"host": host, "input_digest": expected["input_digest"], "gen_s": gen_s,
                      "setup": setup, "passes": passes}))
    if layers is not None:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(passes), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
