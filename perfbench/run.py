"""Benchmark of hadoop_tools_spark over two workloads of registered keys.

Run from the repository root:

    python3 perfbench/run.py --workload lakehouse_rw --seed 1 --seconds 27 --trace 0

One run is one fresh driver process on ``local[<nproc>]``:

1. set-up: import the package, ``session.get_spark``, one trivial job
   (``setup_s``, timed from process start);
2. inputs: the ten fixture tables at sf0.1, generated from a fixed data
   seed (``perfbench/gen.py``) into a fresh per-run directory, and a
   fresh ``HTS_SCRATCH``; ``--seed`` draws only the key order of every
   pass;
3. a box calibration (one CPU-only Spark job, one pure-Python loop);
4. the first pass in the fresh session: each key is built and its
   result collected to the driver (timed), then compared with its DuckDB
   oracle through ``tools/verify_local.compare`` (untimed);
5. the steady passes into the noop sink: ``--seconds / PASS_S`` of them
   (at least 2), about ``--seconds`` on a 4-core box, so every run takes
   the same number of samples; one pass slowed by CPU steal (see
   ``STEAL_FRAC``) is run again and left out of the metrics;
6. the calibration again, then the session is stopped and the per-run
   directory wiped.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, summed per steady
traced pass (median over passes). Traced runs alternate untraced and
traced steady passes so ``trace.overhead_frac`` compares like with like.
Each run also writes a self-describing record, with its spans when
traced, to ``.perfbench/out/`` under the repository root.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads  # noqa: E402
from tracing import IoCounters, Tracer, descendants  # noqa: E402

#: samples that must lie above the reported tail percentile
TAIL_BEYOND = 10
#: a steady pass during which the hypervisor withheld more than this
#: share of the box's CPU time (steal) was slowed by other guests, not
#: by this program; a run repeats one such pass and leaves it out
STEAL_FRAC = 0.02


def process_start_epoch() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def source_digest(root: str) -> str:
    """Content digest of the package sources (the checkout is no git repo)."""
    h = hashlib.sha1()
    pkg = os.path.join(root, "hadoop_tools_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least
    TAIL_BEYOND samples above it. Below 10 * TAIL_BEYOND samples that
    percentile would sit under the 90th, so the interpolated 90th
    percentile is reported instead."""
    xs = sorted(values)
    n = len(xs)
    if n < 10 * TAIL_BEYOND:
        return statistics.quantiles(xs, n=10, method="inclusive")[-1], 90.0
    return xs[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, in seconds."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def calibrate(spark) -> dict[str, float]:
    """Fixed box calibration: one CPU-only Spark job and one Python loop."""
    t0 = time.perf_counter()
    spark.range(0, 2_000_000, 1, spark.sparkContext.defaultParallelism) \
        .selectExpr("sum(hash(id, id * 7)) AS h").collect()
    t1 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc + i * i) % 1_000_003
    t2 = time.perf_counter()
    return {"spark_cpu_s": t1 - t0, "python_loop_s": t2 - t1, "steal_s": steal_s()}


def load_compare(root: str):
    spec = importlib.util.spec_from_file_location(
        "verify_local", os.path.join(root, "tools", "verify_local.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Run:
    def __init__(self, args, root: str, work: str):
        self.args = args
        self.root = root
        self.rng = random.Random(args.seed)
        self.keys = list(workloads.KEYS[args.workload])
        self.data = os.path.join(work, "data")
        self.scratch = os.path.join(work, "scratch")
        self.epoch = time.time()
        self.failures: dict[str, str] = {}
        self.check_s: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.untagged = 0
        self.tracer = None
        self.io = None

    # -- set-up --------------------------------------------------------
    def start(self) -> None:
        t_proc = process_start_epoch()
        if self.args.trace:
            import hadoop_tools_spark.io as hio

            self.io = IoCounters()
            self.io.install(hio)
        from hadoop_tools_spark import all_queries  # noqa: F401
        from hadoop_tools_spark import registry
        from hadoop_tools_spark.session import get_spark

        self.registry = registry
        self.spark = get_spark("perfbench")
        self.spark.range(1).collect()
        self.setup_s = time.time() - t_proc
        self.cores = self.spark.sparkContext.defaultParallelism
        if self.args.trace:
            self.tracer = Tracer(self.spark, self.io, self.scratch, self.epoch)

    def inputs(self) -> None:
        t0 = time.perf_counter()
        gen.write(self.data)
        self.gen_s = time.perf_counter() - t0
        import duckdb

        self.verify = load_compare(self.root)
        self.duck = duckdb.connect()
        for t in self.verify.TABLES:
            self.duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.data}/{t}.parquet')"
            )

    # -- one key -------------------------------------------------------
    def check(self, key: str, pdf) -> None:
        """Untimed correctness step: compare the collected result with
        the key's DuckDB oracle (no-oracle keys must return rows)."""
        oracle = self.registry.ORACLES.get(key)
        if oracle is None:
            errs = [] if len(pdf) > 0 else ["no-oracle key returned 0 rows"]
        else:
            errs = self.verify.compare(key, pdf, self.duck.execute(oracle).fetchdf())
        if errs:
            self.failed += 1
            self.failures.setdefault(key, "; ".join(errs[:3]))

    def run_key(self, key: str, label: str, traced: bool, check: bool,
                pass_span: int | None) -> dict | None:
        fn = self.registry.QUERIES[key]
        tr = self.tracer if traced else None
        group = f"{key}|{label}"
        io_before = self.io.snapshot() if tr else None
        self.attempted += 1
        df = None
        try:
            if tr:
                tr.tag(f"{group}|build")
            t0 = time.perf_counter()
            df = fn(self.spark, self.data)
            t1 = time.perf_counter()
            if tr:
                tr.tag(f"{group}|exec")
            if check:
                pdf = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            if check:
                self.check(key, pdf)
                self.check_s[key] = time.perf_counter() - t2
        except Exception as e:  # a failing key is counted, the run goes on
            traceback.print_exc()
            self.failed += 1
            self.failures.setdefault(key, f"{type(e).__name__}: {str(e)[:300]}")
            if tr:
                tr.untag()
                tr.advance()
            self.spark.catalog.clearCache()
            return None
        row = {"key": key, "wall_s": t2 - t0}
        if tr:
            tr.untag()
            base = time.time() - time.perf_counter()
            sid = tr.span("key", pass_span, base + t0, base + t2, key=key)
            tr.span("build", sid, base + t0, base + t1, key=key)
            tr.span("exec", sid, base + t1, base + t2, key=key)
            row.update(tr.key(key, group, sid, base + t0, base + t1, base + t2,
                              df, io_before))
            # read before clearCache(), which unpersists every cached
            # DataFrame; the graph memos re-persist on their next use
            row["cache.bytes_held"] = tr.cached_bytes()
        self.spark.catalog.clearCache()
        return row

    def run_pass(self, label: str, traced: bool, check: bool = False) -> dict:
        order = list(self.keys)
        self.rng.shuffle(order)
        t0 = time.perf_counter()
        steal0 = steal_s()
        span = None
        if traced:
            job_mark = self.tracer.advance()
            span = self.tracer.span("pass", 0, time.time(), time.time(), label=label)
        rows = [self.run_key(k, label, traced, check, span) for k in order]
        wall = time.perf_counter() - t0
        steal = steal_s() - steal0
        if traced:
            self.tracer.spans[span]["end"] = round(time.time() - self.epoch, 6)
            self.untagged += self.tracer.untagged_jobs(job_mark, label)
        rows = [r for r in rows if r is not None]
        return {"label": label, "traced": traced, "order": order,
                "wall_s": wall, "key_s": sum(r["wall_s"] for r in rows),
                "steal_s": steal, "replaced": False,
                "disturbed": steal > STEAL_FRAC * wall * self.cores, "rows": rows}

    # -- the whole run -------------------------------------------------
    def measure(self) -> dict:
        n_steady = workloads.steady_passes(self.args.workload, self.args.seconds)
        tr = self.tracer
        if tr:
            tr.span("run", None, self.epoch, self.epoch, workload=self.args.workload)
            tr.tag("calibration")
        self.calib_start = calibrate(self.spark)
        if tr:
            tr.untag()
            tr.advance()
        first = self.run_pass("first", traced=bool(tr), check=True)
        steady = []
        t0 = time.perf_counter()
        # traced runs alternate untraced/traced passes in ABBA order so
        # the warming trend cancels out of trace.overhead_frac
        plan = ([False, True, True, False] * n_steady)[: 2 * n_steady] if tr \
            else [False] * n_steady
        repeats = 1
        for i, traced in enumerate(plan):
            p = self.run_pass(f"{'t' if traced else 's'}{i}", traced)
            steady.append(p)
            if p["disturbed"] and repeats:
                repeats -= 1
                p["replaced"] = True
                steady.append(self.run_pass(f"{p['label']}r", traced))
            if time.perf_counter() - t0 > 4 * self.args.seconds * (2 if tr else 1):
                break  # keep the run bounded on a much slower box
        self.steady_s = time.perf_counter() - t0
        if tr:
            tr.spans[0]["end"] = round(time.time() - self.epoch, 6)
            tr.tag("calibration")
        self.calib_end = calibrate(self.spark)
        jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.peak_rss_mb = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
        return {"first": first, "steady": [p for p in steady if not p["replaced"]],
                "replaced": [p for p in steady if p["replaced"]]}

    def stop(self) -> None:
        """Stop the session and wait until the JVM and the Python
        workers it forked have exited."""
        sc = self.spark.sparkContext
        proc = sc._gateway.proc
        workers = descendants(proc.pid)
        self.spark.stop()
        sc._gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        deadline = time.time() + 30
        while time.time() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in workers
        ):
            time.sleep(0.05)


def end_to_end(run: Run, passes: dict) -> tuple[dict, dict]:
    steady = [p for p in passes["steady"] if not p["traced"]]
    samples = [r["wall_s"] for p in steady for r in p["rows"]]
    tail_v, tail_pct = tail(samples)
    metrics = {
        "setup_s": (run.setup_s, "s"),
        "first_pass_s": (passes["first"]["key_s"], "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in steady), "s"),
        "query_p50_s": (statistics.median(samples), "s"),
        "query_tail_s": (tail_v, "s"),
    }
    info = {"query_samples": len(samples), "query_tail_pct": round(tail_pct, 1),
            "steady_passes": len(steady), "replaced_passes": len(passes["replaced"]),
            "peak_rss_mb": round(run.peak_rss_mb, 1)}
    return metrics, info


#: per-layer metrics that are summed over the keys of a pass
SUMMED = [
    "build.s", "build.jobs", "build.job_s", "build.task_s",
    "catalyst.analysis_s", "catalyst.optimize_s", "catalyst.plan_s",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s",
    "exec.gc_s", "exec.driver_idle_s",
    "shuffle.write_bytes", "shuffle.read_bytes", "spill.bytes",
    "io.load_spread_calls", "io.materialize_calls", "io.materialize_s",
    "cache.bytes_held", "python.bytes_sent", "python.bytes_received",
    "python.run_s", "python.worker_cpu_s", "sources.output_bytes", "sources.files_written",
]


def per_layer(run: Run, passes: dict) -> tuple[dict, dict]:
    traced = [p for p in passes["steady"] if p["traced"]]
    plain = [p for p in passes["steady"] if not p["traced"]]
    med = statistics.median
    per_pass = []
    for p in traced:
        sums = {m: sum(r[m] for r in p["rows"]) for m in SUMMED}
        busy = sum(r["exec.busy_s"] for r in p["rows"])
        sums["exec.task_util"] = sums["exec.task_s"] / (busy * run.cores) if busy else 0.0
        sums["sources.scratch_bytes"] = max(
            (r["sources.scratch_bytes"] for r in p["rows"]), default=0)
        per_pass.append(sums)
    metrics = {m: (med(s[m] for s in per_pass), workloads.UNITS[m])
               for m in per_pass[0]}
    metrics["session.start_s"] = (run.setup_s, "s")
    metrics["mem.peak_rss_mb"] = (run.peak_rss_mb, "MB")
    metrics["trace.overhead_frac"] = (
        med(p["wall_s"] for p in traced) / med(p["wall_s"] for p in plain) - 1.0,
        "frac")
    metrics["trace.failures"] = (len(run.tracer.failures), "count")
    metrics["trace.untagged_jobs"] = (run.untagged, "count")
    return metrics, {"traced_passes": len(traced),
                     "replaced_passes": len(passes["replaced"])}


def main() -> int:
    ap = argparse.ArgumentParser(description="hadoop_tools_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(workloads.KEYS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=27)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("hadoop_tools_spark/registry.py", "tools/verify_local.py"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"perfbench: {need} not found; run from the repository root",
                  file=sys.stderr)
            return 2
    sys.path.insert(1, root)
    base = os.path.join(root, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    for sub in ("data", "scratch", "local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    os.environ["HTS_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData' "
        "pyspark-shell")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    tempfile.tempdir = None

    # a SIGTERM unwinds through the finally blocks below, so the JVM is
    # stopped and the per-run directory wiped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args, root, work)
    try:
        run.start()
        try:
            run.inputs()
            passes = run.measure()
        finally:
            run.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics, info = per_layer(run, passes)
    else:
        metrics, info = end_to_end(run, passes)
    failed = run.failed + (len(run.tracer.failures) if run.tracer else 0)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "rev": source_digest(root),
        "nproc": os.cpu_count(), "cores": run.cores, "sf": gen.SF,
        "data_seed": gen.SEED,
        "keys": run.keys, "gen_s": run.gen_s, "check_s": run.check_s,
        "steady_s": run.steady_s,
        "calibration": {"start": run.calib_start, "end": run.calib_end},
        "failed_frac": len(run.failures) / len(run.keys),
        "failures": run.failures,
        "trace_failures": run.tracer.failures if run.tracer else [],
        "moves": {m: workloads.MOVES[m] for m in metrics if m in workloads.MOVES},
        **info,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "passes": [{k: p[k] for k in ("label", "traced", "order", "wall_s", "key_s",
                                      "steal_s", "replaced")}
                   | {"key_s_each": {r["key"]: r["wall_s"] for r in p["rows"]}}
                   for p in [passes["first"], *passes["steady"], *passes["replaced"]]],
    }
    if run.tracer:
        record["spans"] = run.tracer.spans
        record["per_key"] = [r for p in passes["steady"] if p["traced"] for r in p["rows"]]
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    print(f"# {args.workload} seed={args.seed} rev={record['rev']} nproc={record['nproc']} "
          f"sf={gen.SF} keys={len(run.keys)} {json.dumps(info)}")
    for k, v in record["calibration"].items():
        print(f"# calibration.{k}: spark_cpu_s={v['spark_cpu_s']:.4f} "
              f"python_loop_s={v['python_loop_s']:.4f}")
    print(f"# cpu steal during the run: {run.calib_end['steal_s'] - run.calib_start['steal_s']:.2f} s")
    for name, (v, unit) in metrics.items():
        print(f"{name} {v:.6g} {unit}")
    print(f"failed_frac {record['failed_frac']:.4g} frac "
          f"({len(run.failures)} of {len(run.keys)} keys)")
    for key, why in run.failures.items():
        print(f"# FAILED {key}: {why}")
    for why in record["trace_failures"]:
        print(f"# TRACE FAILURE {why}")
    print(f"# record: {os.path.relpath(out, root)}")
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": record["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
