"""The benchmark of record for etlbigdata_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One process, one closed-loop client issuing one op at a time on
``local[<cpus>]``.  A run:

1. generates the workload's inputs from the seed and DuckDB's expected
   results, in a child process (``prepare.py``), outside every timing;
2. sets up ``SETUPS`` times, each in a fresh process: from process start
   until the session is built and the workload's tables are registered.
   The first set-ups run in child processes (``--setup-only``); the last
   is this process's own, and its session serves the passes;
3. runs one cold pass over every op, then the workload's unmeasured
   warm-up passes, then its measured passes.  Their number follows
   from ``--seconds`` alone (``Workload.measured_passes``) and is fixed
   before the first pass, so the clock never decides which passes count;
4. times every op in wall time and in CPU time (the Spark driver JVM's
   less its JIT compiler threads, plus this process's), and checks its
   result against DuckDB right after;
5. prints one JSON line of run details, then the result line
   ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
   metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

The traced run records spans around every call the benchmark makes into
the package, traces every other measured pass to measure the tracing
overhead against its untraced neighbours, and writes the spans to
``.perfbench_out/``.  Inputs, outputs and Spark local dirs live under
``.perfbench_work/`` and are removed when the run ends.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402
from importlib import metadata  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import stats  # noqa: E402
from checks import dir_bytes, verdict  # noqa: E402
from tracing import JvmCpu, SparkProbe, Tracer, layer_self_times, vm_hwm_mb  # noqa: E402
from workloads import (  # noqa: E402
    ETL_EXTRACT, ETL_LOAD, ETL_OPS, ETL_STEPS, WORKLOADS, Workload, family,
)

# set-up is repeated so that setup_s is a median, not a single sample
SETUPS = 3


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of this machine since boot.  Steal is time a
    virtual CPU was ready but the hypervisor ran something else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def host_settings() -> dict:
    """Run settings fitted to the host: every usable core, and a driver
    heap of an eighth of physical RAM clamped to 1-2 GiB.  The package's
    16g default risks an OOM kill on a small box without swap, and a
    capped heap keeps peak_rss_mb repeatable."""
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    cpus = len(os.sched_getaffinity(0))
    return {"cpus": cpus, "master": f"local[{cpus}]",
            "driver_memory": f"{min(2048, max(1024, mem_mb // 8))}m", "host_mem_mb": mem_mb}


class Bench:
    def __init__(self, w: Workload, seed: int, trace: bool, work: str) -> None:
        self.w, self.seed, self.trace, self.work = w, seed, trace, work
        self.data = os.path.join(work, "data")
        self.etl_out = os.path.join(work, "etl_out")
        self.settings = host_settings()
        self.tracer = Tracer(uuid.uuid4().hex[:12])
        self.spark = None
        self.probe: SparkProbe | None = None
        self.records: list[dict] = []
        self.sales = None  # the DataFrame etl_extract hands to etl_load

    # -- set-up --------------------------------------------------------
    def prepare(self) -> dict:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "prepare.py"), "--workload", self.w.name,
             "--seed", str(self.seed), "--out", self.work],
            check=True, timeout=170, stdout=sys.stderr,
        )
        with open(os.path.join(self.work, "expect.json")) as f:
            return json.load(f)

    def setup(self) -> float:
        """Build a session and register the workload's tables; seconds."""
        from etlbigdata_spark import workload
        from etlbigdata_spark.session import build_session

        local = os.path.join(self.work, "local")
        t0 = time.perf_counter()
        with self.tracer.span("build_session", "session"):
            self.spark = build_session(
                app_name="perfbench", master=self.settings["master"],
                shuffle_partitions=self.settings["cpus"],
                extra_conf={
                    "spark.driver.memory": self.settings["driver_memory"],
                    # a heap fixed from the start, so peak RSS does not
                    # depend on when the collector chose to grow it
                    "spark.driver.extraJavaOptions": f"-Xms{self.settings['driver_memory']}",
                    "spark.local.dir": local,
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                },
            )
        with self.tracer.span("register_tables", "workload"):
            for t in self.w.tables:
                workload.load(self.spark, self.data, t)
        return time.perf_counter() - t0

    def child_setup(self, seconds: float) -> float:
        """One set-up in a fresh process, from its start; seconds."""
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", self.w.name,
             "--seed", str(self.seed), "--seconds", str(seconds), "--setup-only", self.work],
            check=True, timeout=170, stdout=subprocess.PIPE, text=True,
        )
        return json.loads(out.stdout.strip().splitlines()[-1])["setup_s"]

    def stop(self) -> None:
        """Stop the session and its JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    # -- one op --------------------------------------------------------
    def _mark(self):
        return self.probe.mark() if self.probe is not None and self.tracer.enabled else None

    def _etl(self, op: str, ctr: dict):
        """One E-T-L click.  Returns what ``checks.verdict`` checks: the
        inferred schema, the output dir, or the read-back count."""
        from etlbigdata_spark import workload
        from etlbigdata_spark.plans.pipeline import Pipeline
        from etlbigdata_spark.sources import readers, writers

        sp, tr = self.spark, self.tracer
        if op == ETL_EXTRACT:
            self.sales = None
            with tr.span("read_csv", "sources") as ctr["read_csv"]:
                self.sales = readers.read_csv(sp, os.path.join(self.data, "sales.csv"))
            return self.sales.schema
        if op == ETL_LOAD:
            with tr.span("Pipeline.apply", "plans") as ctr["apply"]:
                cleaned = Pipeline(ETL_STEPS).apply(self.sales, {"part": workload.load(sp, self.data, "part")})
            with tr.span("write_parquet", "sources") as ctr["write"]:
                writers.write_parquet(cleaned, self.etl_out)
            return self.etl_out
        with tr.span("readback", "sources") as ctr["readback"]:
            return readers.read_parquet(sp, self.etl_out).count()

    def run_op(self, op: str, pass_no: int, expect: dict) -> dict:
        from etlbigdata_spark import workload

        fam, tr = family(op), self.tracer
        rec = {"op": op, "pass": pass_no, "traced": tr.enabled, "error": None}
        ctr: dict = {}
        df = None
        m0 = self._mark()
        # the JVM's counters are read outside the Python process's window,
        # so reading /proc counts in neither
        j0 = self.jvm_cpu.read()
        c0 = time.process_time()
        t0 = time.perf_counter()
        try:
            with tr.span(op, "bench"):
                if op in ETL_OPS:
                    result = self._etl(op, ctr)
                else:
                    with tr.span("build", "streaming" if fam == "streaming" else "workload") as s:
                        df = workload.QUERIES[op](self.spark, self.data)
                    ctr["build"] = (s, m0, self._mark())
                    with tr.span("action", fam) as s:
                        result = df.toArrow()
                    ctr["action"] = s
            rec["lat"] = time.perf_counter() - t0
        except Exception as exc:  # a failing op is counted, never dropped
            rec["lat"] = time.perf_counter() - t0
            rec["error"] = f"{type(exc).__name__}: {str(exc).strip().splitlines()[0][:300]}"
            result = None
        rec["cpu"] = time.process_time() - c0 + self.jvm_cpu.since(j0)
        m1 = self._mark()
        if rec["error"] is None:
            try:
                rec["error"] = verdict(op, expect[op], result)
            except Exception as exc:
                rec["error"] = f"check raised {type(exc).__name__}: {exc}"
        if op == ETL_LOAD and result is not None:
            rec["bytes_written"], rec["files_written"] = dir_bytes(self.etl_out)
        elif op not in ETL_OPS and result is not None:
            rec["rows"] = result.num_rows
        if m0 is not None:
            self._counters(rec, ctr, df, m0, m1)
        self.spark.catalog.clearCache()
        self.records.append(rec)
        return rec

    def _counters(self, rec: dict, ctr: dict, df, m0, m1) -> None:
        """Per-layer counters of a traced op, read after its timing."""
        p = self.probe
        rec.update(p.stage_totals(m0, m1))
        if "action" in ctr:
            s, a, b = ctr["build"]
            rec["build_s"] = s.end - s.start
            rec["build_jobs"] = b[0] - a[0]
            rec["action_s"] = ctr["action"].end - ctr["action"].start
            if rec["error"] is None:
                rec["catalyst"] = p.catalyst_ms(df)
        dur = {k: s.end - s.start for k, s in ctr.items() if k != "build" and s is not None}
        if "read_csv" in dur:
            # schema inference is the only work read_csv launches
            rec["read_csv_s"], rec["infer_jobs"] = dur["read_csv"], rec["jobs"]
        if "write" in dur:
            rec["apply_s"], rec["write_s"] = dur["apply"], dur["write"]
            rec["rows_in"], rec["rows_out"] = rec["max_input_records"], rec["output_records"]
        if "readback" in dur:
            rec["readback_s"] = dur["readback"]

    def run_pass(self, pass_no: int, expect: dict, role: str) -> dict:
        gc0 = self.probe.gc_s() if self.probe is not None and self.tracer.enabled else None
        first_span = len(self.tracer.spans)
        recs = [self.run_op(op, pass_no, expect) for op in self.w.ops]
        out = {"pass": pass_no, "role": role, "traced": self.tracer.enabled,
               "pass_s": sum(r["lat"] for r in recs), "pass_cpu_s": sum(r["cpu"] for r in recs)}
        if gc0 is not None:
            out["gc_s"] = self.probe.gc_s() - gc0
            out["self_s"] = layer_self_times(self.tracer.spans[first_span:])
        return out

    # -- the run -------------------------------------------------------
    def run(self, seconds: float, pre_s: float) -> dict:
        """``pre_s`` is this process's time from start to its set-up."""
        prep = self.prepare()
        expect = prep["ops"]
        for d in ("tmp", "local"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        os.environ.update({
            "TMPDIR": os.path.join(self.work, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "local"),
            "SPARK_GRAFT_CPUS": str(self.settings["cpus"]),
            "PYSPARK_PYTHON": sys.executable,
            # every JVM, the spark-submit launcher's too, keeps its temp
            # files in the checkout and writes no hsperfdata file elsewhere
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
        })
        import tempfile

        tempfile.tempdir = os.path.join(self.work, "tmp")
        setups = [self.child_setup(seconds) for _ in range(SETUPS - 1)]
        self.tracer.enabled = self.trace
        setups.append(pre_s + self.setup())
        self.jvm_cpu = JvmCpu(int(self.spark._jvm.ProcessHandle.current().pid()))
        if self.trace:
            self.probe = SparkProbe(self.spark)
        passes = [self.run_pass(0, expect, "cold")]
        if self.probe is not None:
            self.probe.reset_heap_peak()
        t_warm = time.perf_counter()
        for role, traced in schedule(self.w, seconds, self.trace):
            self.tracer.enabled = traced
            passes.append(self.run_pass(len(passes), expect, role))
        self.tracer.enabled = False
        peak_rss_mb = vm_hwm_mb(self.jvm_cpu.pid) + vm_hwm_mb(os.getpid())
        heap_peak_mb = self.probe.heap_peak_mb() if self.probe is not None else None
        return {"prep": prep, "setups": setups, "passes": passes, "peak_rss_mb": peak_rss_mb,
                "heap_peak_mb": heap_peak_mb, "warm_s": time.perf_counter() - t_warm}


def schedule(w: Workload, seconds: float, trace: bool) -> list[tuple[str, bool]]:
    """(role, traced) of every pass after the cold one.  It depends on the
    workload and the arguments only, never on how fast passes run.  A
    traced run traces every other measured pass, so each traced pass has
    an untraced neighbour to measure the tracing overhead against."""
    return [("warmup", False)] * w.warmup_passes + [
        ("measured", trace and i % 2 == 1) for i in range(w.measured_passes(seconds))
    ]


def tally(records: list[dict]) -> tuple[int, int, dict[str, str]]:
    """(attempted, failed, {op: last failure reason}).  An op execution
    fails when it raised or its result did not check out; cold passes
    count."""
    failed = {x["op"]: x["error"] for x in records if x["error"]}
    return len(records), sum(1 for x in records if x["error"]), failed


def measured(r: dict) -> list[dict]:
    return [p for p in r["passes"] if p["role"] == "measured"]


def end_to_end(b: Bench, r: dict) -> tuple[dict, dict]:
    """(gated metrics, the warm wall-clock figures).  Warm passes are
    gated on CPU time, not wall time: see DESIGN.md, "Why warm passes are
    gated on CPU time"."""
    warm = measured(r)
    recs = [x for x in b.records if x["pass"] in {p["pass"] for p in warm}]
    cpu_tail, pct = stats.tail([x["cpu"] for x in recs])
    lats = [x["lat"] for x in recs]
    metrics = {
        "setup_s": (stats.median(r["setups"]), "s"),
        "cold_pass_s": (r["passes"][0]["pass_s"], "s"),
        "pass_cpu_s": (stats.median([p["pass_cpu_s"] for p in warm]), "s"),
        "op_cpu_p50_s": (stats.median([x["cpu"] for x in recs]), "s"),
        "op_cpu_tail_s": (cpu_tail, "s"),
        "peak_rss_mb": (r["peak_rss_mb"], "MB"),
    }
    wall = {
        "pass_s": {"value": stats.median([p["pass_s"] for p in warm]), "unit": "s"},
        "op_p50_s": {"value": stats.median(lats), "unit": "s"},
        "op_tail_s": {"value": stats.tail(lats)[0], "unit": "s"},
    }
    return metrics, {"wall": wall, "op_cpu_tail": {"percentile": pct, "samples": len(lats)}}


def per_layer(b: Bench, r: dict) -> dict:
    warm = measured(r)
    traced = [p["pass"] for p in warm if p["traced"]]
    recs = {n: [x for x in b.records if x["pass"] == n] for n in traced}

    def per_pass(fn) -> float:
        return stats.median([fn(recs[n]) for n in traced])

    def total(key, pred=lambda x: True):
        return lambda rs: sum(x.get(key, 0) for x in rs if pred(x))

    def fam(name):
        return lambda x: family(x["op"]) == name

    def catalyst(phase):
        return lambda rs: sum(x.get("catalyst", {}).get(phase, 0.0) for x in rs)

    builders = lambda x: family(x["op"]) in ("operators", "functions")  # noqa: E731
    session_spans = [s for s in b.tracer.spans if s.name == "build_session"]
    load_spans = [s for s in b.tracer.spans if s.name == "register_tables"]
    m = {
        "session.build_s": (stats.median([s.end - s.start for s in session_spans]), "s"),
        "workload.load_s": (stats.median([s.end - s.start for s in load_spans]), "s"),
        "workload.build_s": (per_pass(total("build_s", builders)), "s"),
        "workload.build_jobs": (per_pass(total("build_jobs", builders)), "count"),
        "catalyst.analysis_ms": (per_pass(catalyst("analysis")), "ms"),
        "catalyst.optimization_ms": (per_pass(catalyst("optimization")), "ms"),
        "catalyst.planning_ms": (per_pass(catalyst("planning")), "ms"),
    }
    for layer in ("operators", "functions"):
        m[f"{layer}.action_s"] = (per_pass(total("action_s", fam(layer))), "s")
        for key, unit in (("shuffle_bytes", "B"), ("spill_bytes", "B"), ("scan_bytes", "B"),
                          ("tasks", "count"), ("rows", "count")):
            name = "result_rows" if key == "rows" else key
            m[f"{layer}.{name}"] = (per_pass(total(key, fam(layer))), unit)
    stream = fam("streaming")
    m["streaming.action_s"] = (per_pass(lambda rs: sum(x.get("build_s", 0) + x.get("action_s", 0)
                                                       for x in rs if stream(x))), "s")
    m["streaming.jobs"] = (per_pass(total("jobs", stream)), "count")
    is_etl = lambda x: x["op"] in ETL_OPS  # noqa: E731
    for name, key, unit in (
        ("plans.apply_s", "apply_s", "s"), ("plans.rows_in", "rows_in", "count"),
        ("plans.rows_out", "rows_out", "count"), ("sources.read_csv_s", "read_csv_s", "s"),
        ("sources.infer_jobs", "infer_jobs", "count"), ("sources.write_parquet_s", "write_s", "s"),
        ("sources.readback_s", "readback_s", "s"), ("sources.bytes_written", "bytes_written", "B"),
        ("sources.files_written", "files_written", "count"),
    ):
        m[name] = (per_pass(total(key, is_etl)), unit)
    m["sources.stored_bytes_ratio"] = (m["sources.bytes_written"][0] / r["prep"]["input_bytes"]["sales.csv"],
                                       "ratio")
    m["bench.self_s"] = (stats.median([p["self_s"].get("bench", 0.0) for p in warm if p["traced"]]), "s")
    m["jvm.gc_s"] = (stats.median([p["gc_s"] for p in warm if p["traced"]]), "s")
    m["jvm.heap_peak_mb"] = (r["heap_peak_mb"], "MB")
    m["trace.overhead_s"] = (stats.median([p["pass_s"] - untraced_neighbours(warm, i)
                                           for i, p in enumerate(warm) if p["traced"]]), "s")
    m["trace.spans"] = (len(b.tracer.spans), "count")
    return m


def untraced_neighbours(passes: list[dict], i: int) -> float:
    """Mean pass_s of the untraced passes next to pass ``i``."""
    near = [passes[j]["pass_s"] for j in (i - 1, i + 1)
            if 0 <= j < len(passes) and not passes[j]["traced"]]
    return sum(near) / len(near)


def write_trace(b: Bench, r: dict) -> str:
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{b.w.name}-seed{b.seed}-trace.json")
    with open(path, "w") as f:
        json.dump({"run_id": b.tracer.run_id, "workload": b.w.name, "seed": b.seed,
                   "spans": b.tracer.dump(), "passes": r["passes"], "ops": b.records}, f)
    return os.path.relpath(path, ROOT)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # one set-up in this process, for the run's set-up samples; the run's
    # work dir, which already holds the inputs, is the argument
    ap.add_argument("--setup-only", metavar="WORK_DIR", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "etlbigdata_spark", "workload.py")):
        print(f"perfbench: no etlbigdata_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2

    from etlbigdata_spark.benchutil import noisy_start

    load_start, (steal0, ticks0) = os.getloadavg(), cpu_ticks()
    work = args.setup_only or os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    b = Bench(WORKLOADS[args.workload], args.seed, bool(args.trace), work)
    # every set-up sample runs the same code up to here
    pre_s = time.perf_counter() - _T0
    if args.setup_only:
        try:
            setup_s = pre_s + b.setup()
        finally:
            b.stop()
        print(json.dumps({"setup_s": setup_s}))
        return 0
    try:
        r = b.run(args.seconds, pre_s)
    finally:
        b.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    steal1, ticks1 = cpu_ticks()
    attempted, n_failed, failed = tally(b.records)
    if args.trace:
        metrics, extra = per_layer(b, r), {"spans_file": write_trace(b, r)}
    else:
        metrics, extra = end_to_end(b, r)
    warm = measured(r)
    warm_recs = [x for x in b.records if x["pass"] in {p["pass"] for p in warm}]
    details = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "settings": {**b.settings, "spark_local_dirs": os.path.relpath(os.path.join(work, "local"), ROOT),
                     "pyspark": metadata.version("pyspark"), "duckdb": r["prep"]["duckdb_version"],
                     "setups_per_run": SETUPS, "seconds": args.seconds},
        "input_bytes": r["prep"]["input_bytes"],
        "gen_s": r["prep"]["gen_s"], "oracle_s": r["prep"]["oracle_s"],
        "setup_samples": r["setups"],
        "pass_samples": [[p["role"], p["traced"], p["pass_s"], p["pass_cpu_s"]] for p in r["passes"]],
        "warmup_passes": b.w.warmup_passes, "measured_passes": len(warm), "warm_s": r["warm_s"],
        "op_s": {op: {"cold": next(x["lat"] for x in b.records if x["op"] == op),
                      "measured_median": stats.median([x["lat"] for x in warm_recs if x["op"] == op]),
                      "measured_cpu_median": stats.median([x["cpu"] for x in warm_recs if x["op"] == op])}
                 for op in b.w.ops},
        "failed_frac": {"value": n_failed / attempted, "unit": "ratio"}, "failed_ops": failed,
        "loadavg_start": load_start, "noisy_start": noisy_start(load_start),
        # time metrics grow with the host's steal share; read them with it
        "host_steal_frac": (steal1 - steal0) / max(1, ticks1 - ticks0),
        "wall_s": time.perf_counter() - _T0,
        **extra,
    }
    print(json.dumps(details))
    print(json.dumps({
        "correct": n_failed == 0, "attempted": attempted, "failed": n_failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
