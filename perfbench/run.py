"""graft's benchmark of record: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload analyst_reads --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark (perfbench/build.py), runs the workload's
closed loop in one JVM (perfbench/src/graftbench/Main.scala), checks
outputs, and prints every metric with its unit. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are BENCHMARK.json's end_to_end list; with --trace 1 they are
its per_layer list, and the traced run also writes a span file and a
per-layer report (perfbench/report.py) under .bench_out/.
"""
import argparse
import json
import math
import os
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # the checkout stays as git would commit it

import build  # noqa: E402

# BENCHMARK.json lists the workloads of record; analyst_reads and cdc_ingest run on demand
WORKLOADS = ["analyst_reads", "lake_writes", "curation_batch", "cdc_ingest"]
HEAP = "2g"
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg: str) -> None:
    print(f"benchmark failed: {msg}", file=sys.stderr)
    sys.exit(2)


def run_jvm(args, work: Path) -> dict:
    tmp = work.parent / f"{work.name}.tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Xss8m", "-XX:-UsePerfData",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", "-Dderby.system.home=" + str(tmp),
           "-cp", build.classpath(), "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", str(work)]
    log = work.parent / f"{work.name}.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=str(tmp))
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM timed out after {JVM_TIMEOUT_S}s (log: {log})")
    if code != 0:
        sys.stderr.write(log.read_text()[-6000:])
        fail(f"JVM exited with code {code} (log: {log})")
    errors = [l for l in log.read_text().splitlines() if "failed" in l or "mismatch" in l]
    for line in errors[:20]:
        print(f"  jvm: {line}", file=sys.stderr)
    return json.loads((work / "result.json").read_text())


def same(a, b) -> bool:
    """Cell equality across engines: exact for ints and strings, a cent for rounded floats."""
    if isinstance(a, bool) or isinstance(b, bool) or a is None or b is None:
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=0.0101)
    return str(a) == str(b)


def duck_check(result: dict) -> int:
    """Re-runs the JVM's sampled reads on DuckDB over the same parquet; returns mismatches."""
    import duckdb
    checks = Path(result["work"]) / "checks.jsonl"
    tables = Path(result["inputs"]) / "tables"
    con = duckdb.connect()
    for t in sorted(p.name[:-len(".parquet")] for p in tables.glob("*.parquet")):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables / (t + '.parquet')}/*.parquet')")
    bad = 0
    lines = checks.read_text().splitlines() if checks.exists() else []
    for line in lines:
        c = json.loads(line)
        want = [list(r) for r in con.execute(c["duck"]).fetchall()]
        got = c["rows"]
        ok = len(want) == len(got) and all(
            len(w) == len(g) and all(same(x, y) for x, y in zip(g, w)) for g, w in zip(got, want))
        if not ok:
            bad += 1
            print(f"  duckdb mismatch [{c['template']}]: graft {got[:3]} vs duckdb {want[:3]}", file=sys.stderr)
    con.close()
    print(f"duckdb checks: {len(lines) - bad}/{len(lines)} agree")
    return bad


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}; one of {', '.join(WORKLOADS)}")
    t0 = time.time()
    build.build()
    build_s = time.time() - t0
    work = ROOT / ".bench_out" / f"{args.workload}-s{args.seed}-t{args.trace}"
    res = run_jvm(args, work)

    failed = int(res["failed"])
    if args.workload == "analyst_reads":
        failed += duck_check(res)
    attempted = int(res["attempted"])

    host = res["host"]
    print(f"workload {res['workload']} seed {res['seed']} trace {args.trace}: {res['ops']} ops in "
          f"{res['wall_s']:.2f}s; tail = p{res['tail_pct']}; build {build_s:.1f}s")
    print("host: " + ", ".join(f"{k}={v}" for k, v in host.items()))
    for k, v in sorted(res["named"].items()):
        print(f"  {k:28s} {v['value']:14.4f} {v['unit']}")
    if args.trace == 1:
        import report
        report.main(work, res)

    section = "per_layer" if args.trace == 1 else "end_to_end"
    source = res[section]
    metrics = {}
    for m in spec[section]:
        v = source.get(m["name"], {"value": 0.0})["value"]
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
