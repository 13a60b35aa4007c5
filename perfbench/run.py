#!/usr/bin/env python3
"""One benchmark run of the MEF pipeline and the operator catalogue.

Usage (from the repository root):

    python3 perfbench/run.py --workload full_load --seed 1 --seconds 30 --trace 0

Workloads: full_load, monthly_append (see perfbench/README.md). The run
builds the program from `src/main/scala`
if needed, generates the workload's inputs from the seed, runs the JVM
side (`graft.perfbench.PerfBench`) at local[nproc], checks every output,
and prints a record line followed, as the last line, by the result
object: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. Everything it writes stays under `.bench_build/` and
`.bench_out/` in the current directory.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True

import build  # noqa: E402
import checks  # noqa: E402
import mefgen  # noqa: E402
import tablegen  # noqa: E402

WORKLOADS = ("full_load", "monthly_append")
# Input sizes, scaled from the 600,000-row sf0.1 MEF file whose star build
# takes 12-13 s warm on a 4-core host. full_load loads one seventh of it
# (5 files x 17,000 = 85,000 rows), enough that the per-row work of the
# CSV scan, Transform and Normalize is a measurable share of a load.
# monthly_append folds monthly batches of that seventh (85,000 / 12, about
# 7,000 rows) onto a base year the size of one full_load file. The
# catalogue cardinalities are in mefgen.py.
ROWS_PER_FILE = 17000
BASE_ROWS, MONTH_ROWS, N_MONTHS = 17000, 7000, 3
CATALOG_SCALE = 0.1
# Input generation is repeated and its median counts in setup_s; traced
# runs report no setup_s and generate once.
GEN_REPS = 3
# Catalogue representatives measured by traced runs, one per query class
# (star view, TPC-H join, window sessionize, iterative graph; a subset of
# CoreBench.Representatives).
REPRESENTATIVES = [
    "ytd_by_region", "tpch_q3_shipping_priority", "events_sessionize",
    "pagerank_supplier_customer",
]
READ_KINDS = ["a4", "a5", "a6", "a7", "a8",
              "vw_gasto_mensual", "vw_gasto_agregado_mensual", "vw_gasto_agregado_anual"]
JVM_TIMEOUT_S = 160


def cpus():
    return len(os.sched_getaffinity(0))


def tree_sha(root):
    h = hashlib.sha256()
    for p in sorted((root / "src").rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def git_sha(root):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def gen_inputs(workload, seed, trace, data):
    """Write the workload's inputs under `data`; return generator tallies."""
    if workload == "full_load":
        files = mefgen.full_load_files(str(data), seed, ROWS_PER_FILE)
        (data / "files.txt").write_text("".join(f"{data / t['name']}\n" for t in files))
        tallies = {"files": files}
    else:
        base, months = mefgen.monthly_files(str(data), seed, BASE_ROWS, MONTH_ROWS, N_MONTHS)
        files = [base] + months
        (data / "files.txt").write_text(f"{data / base['name']}\n" + "".join(
            f"{data / m['name']}\t{m['year']}\t{m['name'][5:7]}\n" for m in months))
        tallies = {"files": files, "base": base, "months": months}
    tallies["rows"] = sum(t["rows"] for t in files)
    tallies["bytes"] = sum(t["bytes"] for t in files)
    if trace:
        tallies.update(gen_trace_inputs(workload, seed, data, files))
    return tallies


def gen_trace_inputs(workload, seed, data, files):
    """Inputs of the traced runs' single-layer measurements, so that every
    layer is measured on every workload: the read-pass queries, the
    catalogue tables and order, and (full_load) one more month to append."""
    rng = random.Random(seed)
    years = sorted({t["year"] for t in files})
    sectors = sorted({s for t in files for s in t["totals"]})
    lines = []
    for k in READ_KINDS:  # every query type once, seeded parameters
        y = rng.choice(years)
        p2 = min(y + rng.randrange(0, 3), years[-1]) if k == "a8" else rng.randrange(1, 13)
        lines.append("\t".join([k, str(y), str(p2), rng.choice(sectors), str(rng.choice([5, 10, 20]))]))
    (data / "queries.txt").write_text("\n".join(lines) + "\n")
    tables = data / "tables"
    tables.mkdir(exist_ok=True)
    out = {"tables": tablegen.generate(str(tables), seed, CATALOG_SCALE)}
    order = list(REPRESENTATIVES)
    rng.shuffle(order)
    (data / "catalog.txt").write_text("\n".join(order) + "\n")
    if workload == "full_load":
        extra = mefgen.write_file(str(data / "2024-01-Gasto-Mensual.csv"), seed, 2024, [1], MONTH_ROWS)
        (data / "append.txt").write_text(f"{data / extra['name']}\n")
        out["extra_month"] = extra
    return out


def jvm_cmd(root, classes, jars, args):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    tmp = root / ".bench_out" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx3g"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={root / '.bench_out' / 'warehouse'}",
            "-Dspark.ui.enabled=false",
            "-cp", f"{classes}{os.pathsep}{jars}/*",
            "graft.perfbench.PerfBench"] + args
    return cmd


def overhead_vs_untraced(root, a, record, traced_op_s):
    """Traced op_s over the untraced op_s of the same workload, seed and
    sources, minus one, when an untraced run of them left its record in
    `.bench_out`; otherwise None."""
    path = root / ".bench_out" / f"{a.workload}-s{a.seed}-t0" / "record.json"
    try:
        untraced = json.loads(path.read_text())
    except (OSError, ValueError):
        return None
    if untraced.get("src_sha256") != record["src_sha256"]:
        return None
    named = {"full_load": "load_s", "monthly_append": "append_month_s"}[a.workload]
    return traced_op_s / untraced[named]["median"] - 1.0


def percentile_note(xs, unit="s"):
    """Median, the highest percentile with at least ten samples beyond it, and n."""
    xs = sorted(xs)
    n = len(xs)
    out = {"median": statistics.median(xs), "n": n, "unit": unit}
    if n >= 20:
        q = 1.0 - 10.0 / n
        out[f"p{int(q * 100)}"] = xs[min(n - 1, int(q * n))]
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = Path.cwd()
    if not (root / "src" / "main" / "scala").is_dir() or not (root / "build.sbt").is_file():
        print("perfbench: run from the repository root (src/main/scala and build.sbt not found)",
              file=sys.stderr)
        return 2
    classes, jars = build.ensure_built(root)
    started = time.monotonic()

    run_dir = root / ".bench_out" / f"{a.workload}-s{a.seed}-t{a.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = run_dir / "data", run_dir / "out"
    data.mkdir(parents=True)
    out.mkdir()
    gen_times = []
    for _ in range(1 if a.trace else GEN_REPS):  # byte-identical each time
        t = time.monotonic()
        tallies = gen_inputs(a.workload, a.seed, a.trace, data)
        gen_times.append(time.monotonic() - t)
    gen_s = statistics.median(gen_times)

    n = cpus()
    local = run_dir / "spark-local"
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(local))
    args = ["--workload", a.workload, "--data", str(data), "--out", str(out),
            "--trace", str(a.trace), "--cpus", str(n)]
    log = run_dir / "jvm.log"
    budget = JVM_TIMEOUT_S - (time.monotonic() - started)
    with open(log, "wb") as fh:
        try:
            proc = subprocess.run(jvm_cmd(root, classes, jars, args), stdout=fh, stderr=subprocess.STDOUT,
                                  env=env, timeout=max(30.0, budget))
        except subprocess.TimeoutExpired:
            print(f"perfbench: JVM run exceeded its time budget; see {log}", file=sys.stderr)
            return 1
    if proc.returncode != 0 or not (out / "result.json").is_file():
        sys.stderr.write(log.read_text(errors="replace")[-4000:])
        print(f"perfbench: JVM run failed (exit {proc.returncode}); see {log}", file=sys.stderr)
        return 1
    res = json.loads((out / "result.json").read_text())

    try:
        verdicts = checks.run(a.workload, res, tallies, data, out)
    except Exception as e:  # an output the checks need is missing or malformed
        verdicts = {"checks": [{"name": "checks", "ok": False, "detail": repr(e)}], "op_ok": {}}
    op_ok = [o["ok"] and verdicts["op_ok"].get(o["i"], True) for o in res["ops"]]
    attempted = len(op_ok) + len(verdicts["checks"])
    failed = op_ok.count(False) + sum(1 for c in verdicts["checks"] if not c["ok"])

    op_s = [o["s"] for o in res["ops"]]
    op_cpu_s = [o["cpu_s"] for o in res["ops"]]
    setup_s = res["session_start_s"] + gen_s + sum(res["setup_units_s"])
    stored_mb = res["outputs"].get("stored_bytes", 0) / 1e6
    end_to_end = {
        "op_s": {"value": statistics.median(op_s), "unit": "s"},
        "op_stages": {"value": statistics.median(o["stages"] for o in res["ops"]), "unit": "count"},
        "setup_s": {"value": setup_s, "unit": "s"},
        "stored_mb": {"value": stored_mb, "unit": "MB"},
        "correct_share": {"value": (attempted - failed) / attempted, "unit": "ratio"},
    }
    named = {"full_load": "load_s", "monthly_append": "append_month_s"}[a.workload]
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cpus": n, "git_sha": git_sha(root), "src_sha256": tree_sha(root),
        "spark_version": res["spark_version"], "jvm_version": res["jvm_version"],
        "input_rows": tallies["rows"], "input_bytes": tallies["bytes"],
        named: percentile_note(op_s), named.replace("_s", "_cpu_s"): percentile_note(op_cpu_s),
        named.replace("_s", "_stages"): percentile_note([o["stages"] for o in res["ops"]], "count"),
        "setup_s": {"value": setup_s, "unit": "s", "session_start_s": res["session_start_s"],
                    "gen_s": gen_times, "units_s": res["setup_units_s"]},
        "star_mb": {"value": stored_mb, "unit": "MB"},
        "error_rate": {"value": failed / attempted, "unit": "ratio"},
        "attempted": attempted, "failed": failed,
        "failed_checks": [c for c in verdicts["checks"] if not c["ok"]],
        "failed_ops": [o for o, ok in zip(res["ops"], op_ok) if not ok],
        "confs": res["confs"],
    }
    for k in ("catalog_pass_s", "redelivery_s"):
        if k in res["outputs"]:
            record[k] = {"value": res["outputs"][k], "unit": "s"}
    if a.trace:
        metrics, extra = checks.per_layer(a.workload, res, tallies, n)
        extra["overhead_vs_untraced"] = overhead_vs_untraced(root, a, record, extra["traced_op_s"])
        record["per_layer"] = metrics
        record["trace"] = extra
    else:
        metrics = end_to_end
    (run_dir / "record.json").write_text(json.dumps(record, indent=1, ensure_ascii=False))
    shutil.rmtree(data, ignore_errors=True)
    shutil.rmtree(local, ignore_errors=True)
    print(json.dumps(record, ensure_ascii=False))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
