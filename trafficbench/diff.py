"""Compare two outputs of the traffic benchmark, layer by layer.

    python3 trafficbench/diff.py BASE.txt NEW.txt [--top N]

Each file holds the standard output of one or more runs of
`trafficbench/run.py` (concatenated runs of one workload are reduced to the
median of each metric). The result line gives the end-to-end metrics of an
untraced run or the per-layer metrics of a traced one; the DETAIL line
gives the workload's named figures. Deltas are ranked by size and each is
named by the library layer its metric sits in. Comparing an untraced file
with a traced one of the same workload shows the tracing overhead.
"""
import argparse
import json
import os
import statistics

LAYERS = {
    "relational": "operators.Relational",
    "windows": "windows.TrailingFeatures",
    "functions": "functions (Holidays, DateTimeKit)",
    "e1": "pipelines.TrainingPipeline",
    "ml": "ml (Models, SegmentedModel)",
    "metrics": "metrics.Metrics",
    "geo": "geo (GeoOps, Crs, SpatialJoin)",
    "serving": "pipelines.ServingPipeline",
    "ingest": "streaming.IngestClient",
    "stream": "streaming.Streams",
    "jvm": "JVM",
}


def layer(name, kind):
    if kind == "detail":
        return "end-to-end (detail line)"
    prefix = name.split(".", 1)[0]
    return LAYERS.get(prefix, "end-to-end") if "." in name else "end-to-end"


def load(path):
    """{(kind, metric): [values]} and the workloads seen in one file."""
    values, workloads = {}, set()
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line.startswith("DETAIL "):
                d = json.loads(line[len("DETAIL "):])
                workloads.add(d.get("workload"))
                for name, m in d.get("metrics", []):
                    values.setdefault(("detail", name), []).append(m["value"])
            elif line.startswith("{") and '"metrics"' in line:
                r = json.loads(line)
                for name, m in r["metrics"].items():
                    values.setdefault(("result", name), []).append(m["value"])
                values.setdefault(("result", "failed_share"), []).append(r["failed"] / r["attempted"])
    return {k: statistics.median(v) for k, v in values.items()}, workloads


def better_map():
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
    try:
        with open(path) as f:
            b = json.load(f)
    except OSError:
        return {}
    return {m["name"]: m["better"] for m in b.get("end_to_end", []) + b.get("per_layer", [])}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--top", type=int, default=40)
    a = ap.parse_args()
    base, wa = load(a.base)
    new, wb = load(a.new)
    if wa != wb:
        print(f"warning: workloads differ: {sorted(map(str, wa))} vs {sorted(map(str, wb))}")
    better = better_map()
    rows = []
    for key in sorted(set(base) & set(new)):
        kind, name = key
        x, y = base[key], new[key]
        if x == 0 and y == 0:
            continue
        rel = (y - x) / abs(x) if x != 0 else float("inf")
        direction = better.get(name)
        verdict = ""
        if direction and y != x:
            verdict = "better" if (y < x) == (direction == "lower") else "worse"
        rows.append((abs(rel), name, layer(name, kind), x, y, rel, verdict))
    rows.sort(key=lambda r: -r[0])
    print(f"{'metric':38} {'layer':34} {'base':>12} {'new':>12} {'delta':>9}")
    for _, name, lay, x, y, rel, verdict in rows[:a.top]:
        delta = f"{100 * rel:+.1f}%" if rel != float("inf") else "new"
        print(f"{name:38} {lay:34} {x:12.4g} {y:12.4g} {delta:>9} {verdict}")
    only = sorted(set(base) ^ set(new))
    if only:
        print("in one file only: " + ", ".join(n for _, n in only))


if __name__ == "__main__":
    main()
