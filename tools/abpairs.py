#!/usr/bin/env python3
"""Alternating A/B pairs of one benchmark workload: a parent revision
against this checkout's working tree.

    python3 tools/abpairs.py <parent-rev> <workload> <seed> [<seed> ...]

Exports <parent-rev> with `git archive` into a fresh directory under /tmp
(the repository's .git and working tree stay untouched), then, for each
seed, runs `perfbench/run.py --workload <workload> --seed <seed> --trace 0`
in the export and then in this checkout: the parent runs first in every
pair. Each side builds its own engine on its first run (under its own
.bench_build/). Prints, for each end-to-end metric of BENCHMARK.json, both
medians, the parent's interquartile range and how many pairs the change
won (strictly better in the metric's `better` direction); then the same
medians for every `# <name> <number>` note line both sides print (the
per-kind p50 latencies and the like). The export is removed at the end.
"""
import json
import re
import statistics
import subprocess
import sys
import tarfile
import tempfile
import shutil
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
NOTE = re.compile(r"^# ([A-Za-z_][\w.]*) (-?[0-9.]+)\b")


def export(rev: str) -> Path:
    """`git archive` of `rev` extracted into a new directory under /tmp."""
    dest = Path(tempfile.mkdtemp(prefix="abpairs-parent-", dir="/tmp"))
    proc = subprocess.Popen(["git", "-C", str(ROOT), "archive", "--format=tar", rev],
                            stdout=subprocess.PIPE)
    with tarfile.open(fileobj=proc.stdout, mode="r|") as tar:
        if hasattr(tarfile, "data_filter"):
            tar.extractall(dest, filter="data")
        else:
            tar.extractall(dest)
    if proc.wait() != 0:
        shutil.rmtree(dest, ignore_errors=True)
        raise SystemExit(f"abpairs: git archive {rev} failed")
    return dest


def run(checkout: Path, workload: str, seed: int, seconds: float) -> dict:
    """One untraced run: its result JSON (None when it printed none) and
    its numeric note lines."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = out.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    notes = {}
    for line in lines:
        m = NOTE.match(line)
        if m:
            notes[m.group(1)] = float(m.group(2))
    return {"exit": out.returncode, "result": result, "notes": notes}


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def main() -> int:
    if len(sys.argv) < 4:
        print(__doc__, file=sys.stderr)
        return 2
    rev, workload, seeds = sys.argv[1], sys.argv[2], [int(s) for s in sys.argv[3:]]
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if workload not in [w["name"] for w in bench["workloads"]]:
        print(f"abpairs: unknown workload {workload}", file=sys.stderr)
        return 2
    parent = export(rev)
    runs = {"parent": [], "change": []}
    try:
        for seed in seeds:
            for side, checkout in (("parent", parent), ("change", ROOT)):
                r = run(checkout, workload, seed, bench["run_seconds"])
                runs[side].append(r)
                res = r["result"] or {}
                tp = res.get("metrics", {}).get("throughput_per_s", {}).get("value")
                print(f"# seed {seed} {side}: exit {r['exit']}, correct {res.get('correct')}, "
                      f"failed {res.get('failed')}/{res.get('attempted')}, throughput_per_s {tp}",
                      file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(parent, ignore_errors=True)

    def values(side, get):
        return [get(r) for r in runs[side]]

    def table(names, get, better):
        for name in names:
            p = values("parent", lambda r: get(r, name))
            c = values("change", lambda r: get(r, name))
            pairs = [(a, b) for a, b in zip(p, c) if a is not None and b is not None]
            if not pairs:
                continue
            ps, cs = [a for a, _ in pairs], [b for _, b in pairs]
            up = better(name) == "higher"
            wins = sum(1 for a, b in pairs if (b > a if up else b < a))
            print(f"{name:32s} parent {statistics.median(ps):12.4f}  change {statistics.median(cs):12.4f}"
                  f"  parent IQR {iqr(ps):10.4f}  change wins {wins}/{len(pairs)}"
                  f"  ({'higher' if up else 'lower'} is better)")

    def metric(r, name):
        v = ((r["result"] or {}).get("metrics", {}).get(name) or {}).get("value")
        return None if v is None else float(v)

    directions = {m["name"]: m["better"] for m in bench["end_to_end"]}
    print(f"{workload}: {len(seeds)} pairs, parent {rev} first in each pair")
    for side in ("parent", "change"):
        ok = sum(1 for r in runs[side] if r["result"] and r["result"].get("correct"))
        print(f"{side}: {ok}/{len(seeds)} runs correct")
    table(list(directions), metric, lambda n: directions[n])
    notes = sorted(set.intersection(*[set(r["notes"]) for r in runs["parent"] + runs["change"]]))
    if notes:
        print("notes (lower assumed better unless the name ends in _per_s or _qps):")
        table(notes, lambda r, n: r["notes"].get(n),
              lambda n: "higher" if n.endswith(("_per_s", "_qps")) else "lower")
    return 0


if __name__ == "__main__":
    sys.exit(main())
