"""Benchmark entry point: one seeded, closed-loop run of one workload.

    python3 perfbench/run.py --workload query_mix --seed 3 --seconds 10 --trace 0

One client drives one SparkSession on ``local[nproc]``: it runs the
workload's fixed batch of ops (a *pass*) in a fixed order, one op at a
time, and starts passes until ``--seconds`` have elapsed (at least
one), after the workload's untimed warm-up passes if it has any. Every
op's output is digested and compared with the expected digest captured
from a known-good commit. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` --
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it holds the run's details and
provenance. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import pkgutil
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE_DIR = os.path.join(ROOT, "etl_market_survey_spark")
STATE_DIR = os.path.join(ROOT, ".perfbench")

N_SETUPS = 3
N_RERUNS = 5  # the re-run op is short, so each pass times it this often
WARM_QUERY = "q01_pricing_summary"
TRANSIENT_MARKERS = (
    "Timed out while waiting for the Python worker to connect back",
    "Python worker failed to connect back",
    "Python worker exited unexpectedly",
    "Failed to open socket to Python daemon",
)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    p.add_argument("--capture", action="store_true",
                   help="record the observed digests as expected (known-good commit only)")
    p.add_argument("--corrupt-expected", default=None, metavar="OP",
                   help="self-test: alter the expected digest of OP")
    return p.parse_args(argv)


# -- host and launch ----------------------------------------------------------------


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def host_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot: the share of
    steal over an interval is how much of it a shared host's other
    guests took."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def cpu_s(pid) -> float:
    """User plus system CPU seconds a process has used."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    except OSError:
        return 0.0


def vm_hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def driver_memory_mb() -> int:
    """A quarter of host RAM, capped at 1.25 GiB: the inputs are small and
    the host is shared."""
    return max(512, min(1280, mem_total_mb() // 4))


def configure_launch(work_dir: str, cpus: int) -> None:
    """Everything the JVM and the Python workers inherit; must run
    before pyspark starts the JVM."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_memory_mb()}m"
    # workers must import the package whatever the current directory is
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        # a fixed-size heap: otherwise G1's timing-driven heap growth
        # moves peak RSS by a third from run to run
        "spark.driver.extraJavaOptions":
            f"-Xms{driver_memory_mb()}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"


def provenance(spark, cpus: int) -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "local_n": cpus,
        "ram_mb": mem_total_mb(),
        "driver_memory_mb": driver_memory_mb(),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": commit,
        "package_digest": package_digest(),
    }


def package_digest() -> str:
    """sha1 over the package's Python sources: identifies the program
    when the checkout is not a git repository."""
    import hashlib

    h = hashlib.sha1()
    for dirpath, dirnames, files in sorted(os.walk(PACKAGE_DIR)):
        dirnames.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


# -- inputs ---------------------------------------------------------------------------


def ensure_inputs(workload: str, scale_name: str, variant: int) -> tuple[str, str | None]:
    """(tables dir, beta-scan dir), generated once per size and data
    variant and kept under .perfbench/data."""
    import datagen
    import workloads

    size = workloads.SCALES[scale_name][workload]
    base = os.path.join(STATE_DIR, "data", f"v{variant}")
    sf = workloads.WARM_SF if workload == "beta_scan" else size
    wanted = [(os.path.join(base, f"tables_sf{sf}"),
               lambda d: datagen.write_tables(d, sf, variant))]
    if workload == "beta_scan":
        wanted.append((os.path.join(base, f"beta_scan_{size}"),
                       lambda d: datagen.write_beta_scan(d, size, variant)))
    for path, make in wanted:
        if not os.path.exists(os.path.join(path, "_READY")):
            shutil.rmtree(path, ignore_errors=True)
            tmp = f"{path}.tmp{os.getpid()}"
            make(tmp)
            open(os.path.join(tmp, "_READY"), "w").close()
            os.rename(tmp, path)
    return wanted[0][0], (wanted[1][0] if len(wanted) > 1 else None)


# -- the run -----------------------------------------------------------------------------


def is_transient(exc: BaseException) -> bool:
    seen, e = set(), exc
    while e is not None and id(e) not in seen:
        seen.add(id(e))
        if any(m in str(e) for m in TRANSIENT_MARKERS):
            return True
        e = e.__cause__ or e.__context__
    return False


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default)."""
    vs = sorted(values)
    if not vs:
        return 0.0
    pos = (len(vs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(vs) - 1)
    return vs[lo] + (vs[hi] - vs[lo]) * (pos - lo)


class Runner:
    def __init__(self, args, spark, workload, tracer, expected: dict, key: str, work_dir: str):
        self.args, self.spark, self.wl, self.tracer = args, spark, workload, tracer
        self.work_root = work_dir
        self.sc = spark.sparkContext
        self.expected = expected.get(key, {})
        self.observed: dict[str, list] = {}
        self.records: list[dict] = []
        self.retries = 0
        self.layer = defaultdict(float)  # traced per-layer sums
        self.traced_pass = False
        self.op_tag = ""
        self.build_s = 0.0
        self.plan_s = 0.0
        if tracer is not None:
            import tracing

            self.trace_mod = tracing
            self.sql_cursor = tracing.SqlCursor(spark)

    # -- building ---------------------------------------------------------------

    def timed_build(self, fn, *a):
        """Call a registry query or stage function: the op's build phase,
        under its own job group. Traced, also force the physical plan of
        the returned DataFrame (Catalyst planning)."""
        from pyspark.sql import DataFrame

        self.sc.setJobGroup(f"{self.op_tag}:build", "build", False)
        span = self.tracer.begin(getattr(fn, "__name__", "build"), "plans") \
            if self.traced_pass else None
        t0 = time.perf_counter()
        try:
            out = fn(*a)
        finally:
            self.build_s += time.perf_counter() - t0
            if span is not None:
                self.tracer.end(span)
            self.sc.setJobGroup(f"{self.op_tag}:exec", "exec", False)
        if self.traced_pass and isinstance(out, DataFrame):
            t1 = time.perf_counter()
            out._jdf.queryExecution().executedPlan()
            self.plan_s += time.perf_counter() - t1
        return out

    # -- one op -----------------------------------------------------------------

    def run_op(self, op, pass_no: int, idx: int, warmup: bool = False) -> dict:
        import workloads

        from pyspark.sql import DataFrame

        self.op_tag = f"p{pass_no}o{idx}"
        rec = {"op": op.name, "pass": pass_no, "traced": self.traced_pass, "warmup": warmup}
        self.spark.catalog.clearCache()
        if self.traced_pass:
            before = self.trace_mod.session_state(self.spark)
            self.tracer.op_id = self.op_tag
            op_span = self.tracer.begin(op.name, "op")
        self.build_s = self.plan_s = 0.0
        t0 = time.perf_counter()
        t_start_wall = time.time()
        attempt = 0
        while True:
            try:
                result = op.build()
                if isinstance(result, DataFrame):
                    rows, dig = workloads.digest(result, op.float_digits)
                elif isinstance(result, tuple) and all(isinstance(r, DataFrame) for r in result):
                    parts = [workloads.digest(r, op.float_digits) for r in result]
                    rows, dig = workloads.value_digest([list(p) for p in parts])
                    rows = sum(p[0] for p in parts)
                else:
                    rows, dig = workloads.value_digest(result)
                if op.check is not None:
                    op.check(result)
                rec.update(ok=True, rows=rows, digest=dig)
                break
            except Exception as e:  # noqa: BLE001 — every failure is counted
                if attempt == 0 and is_transient(e):
                    attempt += 1
                    self.retries += 1
                    rec["transient_retry"] = True
                    continue
                rec.update(ok=False, error=f"{type(e).__name__}: {str(e)[:300]}")
                break
        rec["total_s"] = time.perf_counter() - t0
        rec["build_s"], rec["plan_s"] = self.build_s, self.plan_s
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.spark.catalog.clearCache()
        if self.traced_pass:
            self.tracer.end(op_span)
            self.tracer.op_id = None
            t_collect = time.perf_counter()
            self._collect_layers(rec, before, t_start_wall)
            rec["collect_s"] = time.perf_counter() - t_collect
        if rec["ok"]:
            self._compare(op.name, rec)
        self.records.append(rec)
        return rec

    def _compare(self, name: str, rec: dict) -> None:
        got = [rec["rows"], rec["digest"]]
        seen = self.observed.setdefault(name, got)
        want = self.expected.get(name)
        if self.args.corrupt_expected == name and want is not None:
            want = [want[0], "corrupted-" + want[1]]
        if seen != got:
            rec.update(ok=False, error=f"digest changed between passes: {seen} then {got}")
        elif self.args.capture:
            return
        elif want is None:
            rec.update(ok=False, error="no expected digest for this op and data variant")
        elif want != got:
            rec.update(ok=False, error=f"output mismatch: expected {want}, got {got}")

    def _collect_layers(self, rec: dict, before, t_start_wall: float) -> None:
        tm = self.trace_mod
        lay = self.layer
        lay["plans.build_s"] += rec["build_s"]
        lay["catalyst.plan_s"] += rec["plan_s"]
        lay["exec.s"] += rec["total_s"] - rec["build_s"] - rec["plan_s"]
        build = tm.group_stats(self.spark, f"{self.op_tag}:build")
        ex = tm.group_stats(self.spark, f"{self.op_tag}:exec")
        lay["plans.build_jobs"] += build.get("jobs", 0)
        lay["exec.jobs"] += ex.get("jobs", 0)
        for key, _, _ in tm.STAGE_FIELDS:
            lay[f"exec.{key}"] += build.get(key, 0) + ex.get(key, 0)
        lay["exec.stages"] += build.get("stages", 0) + ex.get("stages", 0)
        for key, val in self.sql_cursor.python_metrics().items():
            lay[f"udf.{key}"] += val
        after = tm.session_state(self.spark)
        # what the op left registered when it returned: persistent RDDs it
        # created (by id, so the context cleaner freeing older ones does
        # not hide them) and cached relations beyond those before it
        lay["session.rdd_residue"] += len(after[0] - before[0])
        lay["session.cached_residue"] += max(0, after[1] - before[1])
        files = nbytes = 0
        for dirpath, dirnames, fns in os.walk(self.work_root):
            if dirpath == self.work_root:
                # Spark's shuffle and temp files are not the program's output
                dirnames[:] = [d for d in dirnames if d not in ("spark-local", "tmp")]
            for fn in fns:
                try:
                    st = os.stat(os.path.join(dirpath, fn))
                except OSError:
                    continue
                if st.st_mtime >= t_start_wall - 1e-3:
                    files += 1
                    nbytes += st.st_size
        lay["sources.files_written"] += files
        lay["sources.bytes_written"] += nbytes

    # -- passes ------------------------------------------------------------------

    def run_pass(self, pass_no: int, warmup: bool = False) -> dict:
        """One pass: the workload's ops, then its re-run op. A warm-up
        pass runs and checks the ops but is not timed, and skips the
        re-run op."""
        span_mark = len(self.tracer.spans) if self.traced_pass else 0
        t0 = time.perf_counter()
        collect = 0.0
        ops = self.wl.pass_ops(self.timed_build)
        recs = []
        for i, op in enumerate(ops):
            recs.append(self.run_op(op, pass_no, i, warmup))
            collect += recs[-1].get("collect_s", 0.0)
        wall = time.perf_counter() - t0 - collect
        if warmup:
            self.wl.finish_pass()
            return {"pass": pass_no, "wall_s": wall}
        reruns = []
        for i in range(N_RERUNS):
            rec = self.run_op(self.wl.rerun_op(self.timed_build), pass_no, len(ops) + i)
            rec["rerun"] = True
            reruns.append(rec["total_s"])
        if self.traced_pass:
            self._pass_layers(span_mark)
        self.wl.finish_pass()
        return {"pass": pass_no, "traced": self.traced_pass, "wall_s": wall,
                "rerun_s": statistics.median(reruns)}

    def _pass_layers(self, span_mark: int) -> None:
        secs, calls = self.tracer.self_times(span_mark)
        lay = self.layer
        for label in list(secs):
            if label.startswith("sources.") or label in ("operators", "fits", "streaming"):
                lay[f"{label}.s"] += secs[label]
                lay[f"{label}.calls"] += calls[label]
        lay["pipeline.checkpoint_s"] += secs.get("pipeline", 0.0)
        lay["streaming.start_stop_s"] += secs.get("stream_ctl", 0.0)
        spans = self.tracer.spans[span_mark:]
        lay["streaming.queries"] += sum(
            1 for s in spans if s[0] in ("DataStreamWriter.start", "DataStreamWriter.toTable")
        )
        runs = sum(1 for s in spans if s[0] == "Pipeline.run")
        stage_fns = sum(1 for s in spans if s[1] == "plans" and s[4] is not None
                        and spans[s[4] - span_mark][0] == "Pipeline.run")
        lay["pipeline.stages_run"] += stage_fns
        lay["pipeline.stages_skipped"] += runs - stage_fns
        lay["pipeline.checkpoint_bytes"] += self.wl.checkpoint_bytes()


def start_session(registry, tables_dir: str):
    """One set-up: start the session, then run the warm query."""
    from etl_market_survey_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    registry.QUERIES[WARM_QUERY](spark, tables_dir).limit(1).collect()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_jvm() -> None:
    """Stop the session and the JVM pyspark launched, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — already gone
        pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(PACKAGE_DIR):
        print(f"perfbench: the program is missing ({PACKAGE_DIR} not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cpus = nproc()
    variant = args.seed % workloads.N_VARIANTS
    work_dir = os.path.join(STATE_DIR, f"run-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    configure_launch(work_dir, cpus)
    load_before = loadavg1()
    # a terminated run still stops the JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        tables_dir, beta_dir = ensure_inputs(args.workload, args.scale, variant)
        return run(args, cpus, variant, work_dir, tables_dir, beta_dir, load_before)
    finally:
        stop_jvm()
        shutil.rmtree(work_dir, ignore_errors=True)


def run(args, cpus, variant, work_dir, tables_dir, beta_dir, load_before) -> int:
    import workloads

    tracer = None
    if args.trace:
        import tracing

        # before plans.registry is imported: plan modules bind names early
        tracer = tracing.Tracer()
        tracer.install()
    import etl_market_survey_spark.plans as plans_pkg
    from etl_market_survey_spark.plans import registry

    plan_modules = [
        importlib.import_module(f"{plans_pkg.__name__}.{m.name}")
        for m in pkgutil.iter_modules(plans_pkg.__path__)
    ]
    lake = os.path.join(work_dir, workloads.LAKE_DIR)
    os.makedirs(lake)
    workloads.relocate_scratch_paths(plan_modules, lake)

    starts, warms = [], []
    for i in range(N_SETUPS):
        if i:
            from pyspark.sql import SparkSession

            SparkSession.getActiveSession().stop()
        spark, s, w = start_session(registry, tables_dir)
        starts.append(s)
        warms.append(w)
    setup = [s + w for s, w in zip(starts, warms)]

    wl = workloads.make(args.workload)
    wl.prepare(spark, beta_dir if args.workload == "beta_scan" else tables_dir, work_dir)
    expected = workloads.load_expected()
    size = workloads.SCALES[args.scale][args.workload]
    key = f"{args.workload}/{size}/v{variant}"
    runner = Runner(args, spark, wl, tracer, expected, key, work_dir)

    # a warm-up pass is only for an untraced run: a traced run's first
    # pass already warms the session before the traced one
    warmups = [runner.run_pass(i, warmup=True)
               for i in range(0 if args.trace else wl.warmup_passes)]
    jvm_pid = getattr(getattr(spark.sparkContext._gateway, "proc", None), "pid", None)
    ticks0, jvm_cpu0 = host_ticks(), cpu_s(jvm_pid)
    passes = []
    t_end = time.perf_counter() + args.seconds
    while True:
        # a traced run makes three passes: untraced (cold, as the timed
        # pass of an untraced run is unless the workload warms up first),
        # traced, and untraced again; the last two are equally warm, so
        # their difference is the tracing overhead
        runner.traced_pass = bool(args.trace) and len(passes) == 1
        if tracer is not None:
            tracer.enabled = runner.traced_pass
        passes.append(runner.run_pass(len(warmups) + len(passes)))
        if args.trace:
            if len(passes) == 3:
                break
            continue
        # start another pass only if it should end inside the window
        last = passes[-1]["wall_s"] + passes[-1]["rerun_s"]
        if time.perf_counter() + last > t_end:
            break
    if tracer is not None:
        tracer.enabled = False

    ticks1 = host_ticks()
    timed_steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    timed_jvm_cpu = cpu_s(jvm_pid) - jvm_cpu0
    peak_rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
    load_after = loadavg1()
    prov = provenance(spark, cpus)

    recs = runner.records
    attempted = len(recs)
    failed = sum(1 for r in recs if not r["ok"])
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    op_lat = [r["total_s"] for r in recs
              if not r.get("rerun") and not r["traced"] and not r["warmup"]]
    e2e = {
        "setup_s": (statistics.median(setup), "s"),
        "wall_s": (statistics.median(p["wall_s"] for p in untraced), "s"),
        "op_p50_s": (quantile(op_lat, 0.5), "s"),
        "op_p90_s": (quantile(op_lat, 0.9), "s"),
        "rerun_s": (statistics.median(p["rerun_s"] for p in untraced), "s"),
        "peak_rss_mb": (peak_rss, "MB"),
        "ok_frac": (1.0 - failed / attempted, "ratio"),
    }
    details = {
        "workload": args.workload, "seed": args.seed, "data_variant": variant,
        "scale": args.scale, "seconds": args.seconds, "trace": args.trace,
        "warmup_passes": len(warmups), "passes": len(passes), "op_samples": len(op_lat),
        "failed_frac": failed / attempted, "transient_retries": runner.retries,
        "setup_runs_s": setup, "session_start_s": starts, "session_warm_s": warms,
        "warmup_walls_s": [p["wall_s"] for p in warmups],
        "pass_walls_s": [p["wall_s"] for p in passes],
        "op_medians_s": {
            name: statistics.median(
                r["total_s"] for r in recs if r["op"] == name and not r["warmup"])
            for name in dict.fromkeys(r["op"] for r in recs if not r["warmup"])
        },
        "loadavg1_before": load_before, "loadavg1_after": load_after,
        # host contention while the timed passes ran
        "steal_frac": timed_steal, "jvm_cpu_s": timed_jvm_cpu,
        "provenance": prov,
        "failures": [
            {k: r.get(k) for k in ("op", "pass", "error")} for r in recs if not r["ok"]
        ],
    }
    if args.trace:
        metrics = layer_metrics(runner, traced, untraced, starts, warms, cpus, wl)
        trace_file = os.path.join(
            STATE_DIR, "traces", f"{args.workload}-seed{args.seed}.json"
        )
        os.makedirs(os.path.dirname(trace_file), exist_ok=True)
        with open(trace_file, "w") as f:
            json.dump({"spans": tracer.spans, "ops": recs}, f)
        details["trace_file"] = os.path.relpath(trace_file, ROOT)
    else:
        metrics = e2e
    if args.capture:
        capture(args, key, runner, failed)

    print(json.dumps(details, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def layer_metrics(runner, traced, untraced, starts, warms, cpus, wl) -> dict:
    """Per-layer metrics: per traced pass, except the session's set-up
    times (median of the set-ups) and the tracing overhead."""
    n = max(1, len(traced))
    lay = runner.layer
    traced_wall = statistics.median(p["wall_s"] for p in traced)
    special = {
        "session.start_s": statistics.median(starts),
        "session.warm_s": statistics.median(warms),
        "exec.busy_frac": lay["exec.executor_run_s"] / n / (traced_wall * cpus),
        "exec.spill_bytes": (lay["exec.memory_spill_bytes"] + lay["exec.disk_spill_bytes"]) / n,
        "fits.converged_frac": wl.fits_converged / wl.fits_total if wl.fits_total else 0.0,
        # the last untraced pass is as warm as the traced one before it
        "trace.overhead_s": traced_wall - untraced[-1]["wall_s"],
    }
    return {
        name: (special[name] if name in special else lay.get(name, 0.0) / n, unit)
        for name, unit in PER_LAYER
    }


PER_LAYER = [
    ("session.start_s", "s"), ("session.warm_s", "s"),
    ("session.rdd_residue", "count"), ("session.cached_residue", "count"),
    ("plans.build_s", "s"), ("plans.build_jobs", "count"), ("catalyst.plan_s", "s"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.executor_run_s", "s"), ("exec.executor_cpu_s", "s"),
    ("exec.gc_s", "s"), ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("exec.failed_tasks", "count"), ("exec.busy_frac", "ratio"),
    ("udf.run_s", "s"), ("udf.start_s", "s"), ("udf.bytes_sent", "bytes"),
    ("udf.bytes_returned", "bytes"), ("udf.rows_returned", "count"),
    ("sources.readers.s", "s"), ("sources.readers.calls", "count"),
    ("sources.writers.s", "s"), ("sources.writers.calls", "count"),
    ("sources.deltalog.s", "s"), ("sources.deltalog.calls", "count"),
    ("sources.iceberg.s", "s"), ("sources.iceberg.calls", "count"),
    ("sources.uniform.s", "s"), ("sources.uniform.calls", "count"),
    ("sources.dvbitmap.s", "s"), ("sources.dvbitmap.calls", "count"),
    ("sources.avro.s", "s"), ("sources.avro.calls", "count"),
    ("sources.bytes_written", "bytes"), ("sources.files_written", "count"),
    ("operators.s", "s"), ("operators.calls", "count"),
    ("fits.s", "s"), ("fits.converged_frac", "ratio"),
    ("streaming.queries", "count"), ("streaming.start_stop_s", "s"),
    ("pipeline.stages_run", "count"), ("pipeline.stages_skipped", "count"),
    ("pipeline.checkpoint_s", "s"), ("pipeline.checkpoint_bytes", "bytes"),
    ("trace.overhead_s", "s"),
]


def capture(args, key: str, runner, failed: int) -> None:
    """Store this run's digests as the expected ones for its data variant."""
    import workloads

    if failed:
        print("perfbench: not capturing, some ops failed", file=sys.stderr)
        return
    expected = workloads.load_expected()
    expected[key] = dict(sorted(runner.observed.items()))
    with open(workloads.EXPECTED_PATH, "w") as f:
        json.dump(dict(sorted(expected.items())), f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    sys.exit(main())
