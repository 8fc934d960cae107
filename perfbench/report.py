"""Per-layer report of a traced run (run.py --trace 1 calls it).

Reads the run's span file. Each op's wall split (job union, driver-only
time, driver-side planner time, commit-log reads and lists, manifests
published) is computed once by the JVM's tracer and carried on the op span;
this script groups it by op kind. It also attributes every microsecond of
each op's wall to exactly one layer for the self-time table: where spans of
several layers overlap, the innermost kind of work wins, in the order of
PRIORITY (a Spark job beats the planner, which beats the driver-side span
that launched both). What no span covers is the op's own self time. Writes
report.json next to the spans and prints a table.

Commit-log time covers the reads, lists and stats the timing filesystem
sees. Local manifest publishes bypass the Hadoop filesystem (a java.nio
write and hard link), so they are counted, not timed.

    python3 perfbench/report.py .bench_out/lake_writes-s1-t1
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

# innermost first: the layer that does the work wins an overlapped instant
PRIORITY = ["scheduler", "planner", "streaming", "pipeline", "sources", "action", "op"]
COMMIT_KINDS = {"insert", "update", "delete", "merge", "compact"}


def attribute(root: dict, spans: list) -> dict:
    """Exclusive time per layer inside the root span, in microseconds."""
    lo, hi = root["start_us"], root["end_us"]
    ivs = [(max(s["start_us"], lo), min(s["end_us"], hi), PRIORITY.index(s["layer"]))
           for s in spans if not s["attrs"].get("aggregate") and s["layer"] in PRIORITY]
    cuts = sorted({lo, hi, *[a for a, _, _ in ivs], *[b for _, b, _ in ivs]})
    out = defaultdict(int)
    for a, b in zip(cuts, cuts[1:]):
        if b <= a or a < lo or b > hi:
            continue
        cover = [p for s, e, p in ivs if s <= a and e >= b]
        out[PRIORITY[min(cover)] if cover else "op"] += b - a
    return out


def op_rows(spans: list) -> list:
    by_op = defaultdict(list)
    for s in spans:
        by_op[s["op"]].append(s)
    rows = []
    for op, ss in sorted(by_op.items()):
        root = next(s for s in ss if s["layer"] == "op")
        a = root["attrs"]
        wall = root["end_us"] - root["start_us"]
        self_us = attribute(root, [s for s in ss if s is not root])
        named = a["job_ms"] + a["planner_driver_ms"] + a["log_read_ms"]
        rows.append({
            "op": op, "kind": root["name"], "wall_ms": wall / 1e3,
            "self_ms": {k: v / 1e3 for k, v in sorted(self_us.items())},
            "job_ms": a["job_ms"], "driver_only_ms": a["driver_only_ms"],
            "planner_ms": a["planner_driver_ms"], "log_read_ms": a["log_read_ms"],
            "log_files_published": a["log_files_published"],
            # wall no span of any layer covers: the attribution's blind spot
            "unattributed_share": self_us.get("op", 0) / wall if wall else 0.0,
            # named layers (jobs, driver-side planning, commit-log reads) as a share of wall
            "named_share": named * 1e3 / wall if wall else 0.0,
        })
    return rows


def summarize(rows: list) -> dict:
    kinds = defaultdict(list)
    for r in rows:
        kinds[r["kind"]].append(r)
        if r["kind"] in COMMIT_KINDS:
            kinds["commit (all DML and CALL)"].append(r)
    out = {}
    for k, rs in sorted(kinds.items()):
        layers = sorted({l for r in rs for l in r["self_ms"]})
        mean = lambda f: sum(f(r) for r in rs) / len(rs)  # noqa: E731
        out[k] = {
            "n": len(rs),
            "wall_p50_ms": statistics.median(r["wall_ms"] for r in rs),
            "wall_mean_ms": mean(lambda r: r["wall_ms"]),
            "self_mean_ms": {l: mean(lambda r: r["self_ms"].get(l, 0.0)) for l in layers},
            "breakdown_mean_ms": {
                "planner": mean(lambda r: r["planner_ms"]),
                "scheduler.driver_only_ms": mean(lambda r: r["driver_only_ms"]),
                "scheduler.job_ms": mean(lambda r: r["job_ms"]),
                "sources.log_ms_per_op": mean(lambda r: r["log_read_ms"]),
            },
            "log_files_published_mean": mean(lambda r: r["log_files_published"]),
            "unattributed_share_mean": mean(lambda r: r["unattributed_share"]),
            "named_share_mean": mean(lambda r: r["named_share"]),
        }
    return out


def overhead(work: Path, res: dict) -> dict:
    """Traced minus untraced, as a share of untraced, per end-to-end metric."""
    base = work.parent / f"{res['workload']}-s{res['seed']}-t0" / "result.json"
    if not base.exists():
        cands = sorted(work.parent.glob(f"{res['workload']}-s*-t0/result.json"))
        if not cands:
            return {}
        base = cands[-1]
    ref = json.loads(base.read_text())
    out = {"untraced_run": str(base.parent.name)}
    for k, v in res["end_to_end"].items():
        r = ref["end_to_end"].get(k, {}).get("value")
        if r:
            out[k] = (v["value"] - r) / r
    return out


def main(work: Path, res: dict) -> None:
    spans = [json.loads(l) for l in (work / "spans.jsonl").read_text().splitlines() if l.strip()]
    rows = op_rows(spans)
    summary = summarize(rows)
    ovh = overhead(work, res)
    (work / "report.json").write_text(json.dumps(
        {"workload": res["workload"], "seed": res["seed"], "by_kind": summary,
         "tracing_overhead": ovh, "ops": rows}, indent=1))
    print(f"per-layer self time (mean ms per op; report: {work / 'report.json'})")
    for k, s in summary.items():
        selfs = ", ".join(f"{l} {v:.1f}" for l, v in s["self_mean_ms"].items())
        b = s["breakdown_mean_ms"]
        print(f"  {k} (n={s['n']}, wall p50 {s['wall_p50_ms']:.1f}, mean {s['wall_mean_ms']:.1f}): {selfs}")
        print(f"    wall = planner {b['planner']:.1f} + other driver-only "
              f"{b['scheduler.driver_only_ms'] - b['planner']:.1f} + job union {b['scheduler.job_ms']:.1f}; "
              f"commit-log reads/lists {b['sources.log_ms_per_op']:.1f} "
              f"(+{s['log_files_published_mean']:.1f} manifests published, untimed); "
              f"planner+jobs+log cover {s['named_share_mean']:.0%}; "
              f"unattributed {s['unattributed_share_mean']:.1%} (target <= 5%)")
    if ovh:
        print(f"tracing overhead vs {ovh['untraced_run']}: " + ", ".join(
            f"{k} {v:+.1%}" for k, v in ovh.items() if k != "untraced_run"))
    else:
        print("tracing overhead: no untraced run of this workload on record")
    for k, v in sorted(res["per_layer"].items()):
        print(f"  {k:36s} {v['value']:16.4f} {v['unit']}")


if __name__ == "__main__":
    d = Path(sys.argv[1])
    main(d, json.loads((d / "result.json").read_text()))
