#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 20 --trace 0

Builds the checkout (perfbench/build.py; stamped on a source hash, not
counted in any metric), generates the seeded inputs, runs the workload's
fixed work once in a timed window on local[min(4, nproc)], checks the
outputs, and prints every metric by name with its unit. The last line of
standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}; with --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones of a traced run (its window against the median
wall_s of this checkout's untraced runs gives harness.trace_overhead_share).

Workloads and their reasons: see BENCHMARK.json and perfbench/README.md.
Exit codes: 0 result printed; 1 a correctness gate failed or the JVM
failed; 2 bad arguments or the build failed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("ingest_bulk", "ingest_trickle", "query_suite")
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
JVM_TIMEOUT_S = 150
CORE_SITE = """<?xml version="1.0"?>
<configuration>
  <property><name>fs.file.impl</name><value>perfbench.CountingFs</value></property>
</configuration>
"""


def run_jvm(cp, flags, args, log_path):
    cmd = build.java_cmd(cp, args["work"], flags)
    for k, v in args.items():
        cmd += ["--" + k, str(v)]
    os.makedirs(f"{args['work']}/tmp", exist_ok=True)
    return build.run_java(cmd, log_path, JVM_TIMEOUT_S)


def fail(msg, log_path=None, code=1):
    if log_path and os.path.exists(log_path):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.exit(code)


def oracle_failures(tables_dir, results_dir):
    """(query, reason) for each result tools/compare_oracle.py fails; its
    rule is used as it is, on the oracle_sql.json the JVM wrote."""
    import contextlib
    import importlib.util
    import io
    spec = importlib.util.spec_from_file_location(
        "compare_oracle", os.path.join(ROOT, "tools", "compare_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        mod.main(tables_dir, results_dir)
    return [tuple(line[5:].split(": ", 1)) for line in out.getvalue().splitlines()
            if line.startswith("FAIL ")]


def gates_failed(checks):
    """Names of the ingest gates that did not hold."""
    return [k for k, v in checks.items() if isinstance(v, dict) and v.get("ok") is False]


def untraced_walls(work_root, a):
    """wall_s of this checkout's untraced runs of the workload; when there
    is none yet, one untraced run of the same seed is made first."""
    path = os.path.join(work_root, f"walls-{a.workload}.json")
    if not os.path.exists(path):
        subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", a.workload,
                        "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", "0"],
                       stdout=subprocess.DEVNULL, check=True)
    with open(path) as fh:
        return json.load(fh)


def record_wall(work_root, workload, wall_s):
    path = os.path.join(work_root, f"walls-{workload}.json")
    walls = []
    if os.path.exists(path):
        with open(path) as fh:
            walls = json.load(fh)
    with open(path + ".tmp", "w") as fh:
        json.dump(walls + [wall_s], fh)
    os.replace(path + ".tmp", path)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20,
                    help="accepted for the runner; the window is the workload's fixed work")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        cp, flags, build_s = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}", code=2)
    if build_s:
        sys.stderr.write(f"[perfbench] built in {build_s:.1f} s\n")

    work_root = os.path.join(ROOT, ".bench_work")
    os.makedirs(work_root, exist_ok=True)
    baseline = metrics.median(untraced_walls(work_root, a)) if a.trace else None
    work = os.path.join(work_root, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log_path = os.path.join(work_root, f"{a.workload}-{a.seed}.log")
    try:
        setup_t0 = time.time()
        jvm_args = {"workload": a.workload, "seed": a.seed, "work": work,
                    "out": f"{work}/result.json", "trace": a.trace}
        py_gen_s = 0.0
        if a.workload == "query_suite":
            import tables
            tables.write(a.seed, f"{work}/tables")
            jvm_args["tables"] = f"{work}/tables"
            py_gen_s = time.time() - setup_t0
        if a.trace:
            os.makedirs(f"{work}/conf")
            with open(f"{work}/conf/core-site.xml", "w") as fh:
                fh.write(CORE_SITE)
            cp = cp + [f"{work}/conf"]  # appended: the class archive needs the prefix
        code = run_jvm(cp, flags, jvm_args, log_path)
        if not os.path.exists(f"{work}/result.json"):
            fail(f"JVM exited {code} without a result", log_path)
        with open(f"{work}/result.json") as fh:
            res = json.load(fh)
        if code != 0 or "error" in res:
            fail(f"JVM exited {code}: {res.get('error')}", log_path)
        setup_s = res["ready_ms"] / 1000 - setup_t0
        res["gen_s"] += py_gen_s
        p = res["pass"]
        ledger = metrics.Ledger(p["ledger"], res["cores"])

        # ---- correctness, outside the timed window
        bad = gates_failed(p["checks"])
        if bad:
            for k in bad:
                sys.stderr.write(f"[perfbench] gate {k}: {p['checks'][k]}\n")
            fail(f"correctness gates failed: {', '.join(bad)}", log_path)
        failed_ops = [(o["name"], o.get("error", "failed"))
                      for o in ledger.ops() if not o.get("ok", False)]
        if a.workload == "query_suite":
            for q, why in oracle_failures(f"{work}/tables", f"{work}/pass"):
                if not any(n == q for n, _ in failed_ops):
                    failed_ops.append((q, why))
        for name, why in failed_ops:
            print(f"FAILED op {name}: {why}")
        for o in ledger.ops():
            print(f"op {o['name']} {(o['end'] - o['start']) / 1000:.3f} s")
        attempted = len(ledger.ops())
        failed = len({n for n, _ in failed_ops})
        print(f"harness.probe_s {res['probe_s']:.4f} s (session {res['session_s']:.2f} s, "
              f"gen {res['gen_s']:.2f} s, warm-up {res['warmup_s']:.2f} s)")

        # ---- metrics
        if a.trace:
            values = metrics.per_layer(res, p, ledger, baseline)
            out = {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}
            print("span ledger (by self time):")
            print(f"  {'span':<22}{'count':>7}{'total_ms':>12}{'self_ms':>12}")
            for name, (n, total, self_ms) in ledger.ledger_rows():
                print(f"  {name:<22}{n:>7}{total:>12.1f}{self_ms:>12.1f}")
            with open(os.path.join(work_root, f"ledger-{a.workload}-{a.seed}.json"), "w") as fh:
                json.dump(ledger.dump(), fh)
        else:
            values, extra = metrics.end_to_end(res, p, ledger, setup_s, attempted, failed)
            out = {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}
            print(f"op_tail_s is p{extra['op_tail_percentile']:.1f} of "
                  f"n={extra['op_samples']} ops")
            record_wall(work_root, a.workload, values["wall_s"])
        for k, v in out.items():
            print(f"{k} {v['value']:.6g} {v['unit']}")
        print(json.dumps({"correct": True, "attempted": attempted, "failed": failed,
                          "metrics": out}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
