"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py

Runs every workload twice at ``--scale tiny`` (untraced and traced) and
once more with a corrupted expected digest, and checks that:

1. every metric named in BENCHMARK.json is printed, with its unit, for
   every workload;
2. each layer's wrappers fire: the layer metrics in ``MAPPED`` are
   nonzero on the workload where that layer does most of the work;
3. a corrupted expected digest is reported as a failed op.

Exits 0 when all checks pass and prints one line per failed check
otherwise. Takes about five minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# metric -> workloads on which it must be nonzero in the traced run
MAPPED = {
    "session.start_s": ("beta_scan", "query_mix", "lakehouse_dml"),
    "session.warm_s": ("beta_scan", "query_mix", "lakehouse_dml"),
    "session.rdd_residue": ("query_mix",),
    "plans.build_s": ("beta_scan", "query_mix", "lakehouse_dml"),
    "plans.build_jobs": ("lakehouse_dml",),
    "catalyst.plan_s": ("beta_scan", "query_mix", "lakehouse_dml"),
    "exec.s": ("beta_scan", "query_mix", "lakehouse_dml"),
    "exec.jobs": ("beta_scan", "query_mix", "lakehouse_dml"),
    "exec.stages": ("beta_scan", "query_mix", "lakehouse_dml"),
    "exec.tasks": ("beta_scan", "query_mix", "lakehouse_dml"),
    "exec.executor_run_s": ("beta_scan", "query_mix"),
    "exec.executor_cpu_s": ("beta_scan", "query_mix"),
    "exec.shuffle_read_bytes": ("beta_scan", "query_mix"),
    "exec.shuffle_write_bytes": ("beta_scan", "query_mix"),
    "exec.busy_frac": ("beta_scan", "query_mix"),
    "udf.run_s": ("beta_scan", "query_mix"),
    "udf.bytes_sent": ("beta_scan", "query_mix"),
    "udf.bytes_returned": ("beta_scan", "query_mix"),
    "udf.rows_returned": ("beta_scan", "query_mix"),
    "sources.readers.calls": ("beta_scan", "query_mix", "lakehouse_dml"),
    "sources.writers.calls": ("beta_scan",),
    "sources.deltalog.calls": ("lakehouse_dml",),
    "sources.deltalog.s": ("lakehouse_dml",),
    "sources.iceberg.calls": ("lakehouse_dml",),
    "sources.uniform.calls": ("lakehouse_dml",),
    "sources.dvbitmap.calls": ("lakehouse_dml",),
    "sources.avro.calls": ("lakehouse_dml",),
    "sources.bytes_written": ("beta_scan", "lakehouse_dml"),
    "sources.files_written": ("beta_scan", "lakehouse_dml"),
    "operators.calls": ("beta_scan", "query_mix"),
    "operators.s": ("beta_scan", "query_mix"),
    "fits.s": ("beta_scan",),
    "fits.converged_frac": ("beta_scan",),
    "streaming.queries": ("lakehouse_dml",),
    "streaming.start_stop_s": ("lakehouse_dml",),
    "pipeline.stages_run": ("beta_scan",),
    "pipeline.stages_skipped": ("beta_scan",),
    "pipeline.checkpoint_s": ("beta_scan",),
    "pipeline.checkpoint_bytes": ("beta_scan",),
}
CORRUPT = ("query_mix", "q01_pricing_summary")


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "0", "--seconds", "1", "--trace", str(trace), "--scale", "tiny",
           *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return {"details": json.loads(lines[-2]), "result": json.loads(lines[-1])}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for workload in (w["name"] for w in bench["workloads"]):
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            res = run(workload, trace)["result"]
            metrics = res["metrics"]
            if not res["correct"] or res["failed"]:
                problems.append(f"{workload} trace={trace}: {res['failed']} failed ops")
            for m in declared:
                got = metrics.get(m["name"])
                if got is None:
                    problems.append(f"{workload} trace={trace}: {m['name']} missing")
                elif got["unit"] != m["unit"]:
                    problems.append(
                        f"{workload}: {m['name']} unit {got['unit']!r} != {m['unit']!r}"
                    )
                elif trace and workload in MAPPED.get(m["name"], ()) and not got["value"] > 0:
                    problems.append(f"{workload}: layer metric {m['name']} did not fire")
            print(f"ran {workload} trace={trace}: " + json.dumps(
                {k: round(v["value"], 4) for k, v in metrics.items()}), flush=True)
    workload, op = CORRUPT
    res = run(workload, 0, "--corrupt-expected", op)
    failed_ops = [f["op"] for f in res["details"]["failures"]]
    if res["result"]["correct"] or op not in failed_ops:
        problems.append(f"corrupted expected digest of {op} not reported: {failed_ops}")
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
