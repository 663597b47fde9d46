#!/usr/bin/env python3
"""Per-query-kind Spark job view of a perfbench span file.

    python3 tools/trace_jobs.py .bench_build/traces/search_hot-seed1.jsonl
    python3 tools/trace_jobs.py <spans.jsonl> --tag setup   # ingest ops

A span file is what `python3 perfbench/run.py ... --trace 1` writes: one
JSON span per line, operation spans (kind `op`, named by operation kind:
bm25, and, append, compact, ...) with their Spark job spans as children
and stage spans under the jobs. For each operation kind in the chosen run
phase (`--tag`, default `window`: the timed queries) this prints

  - the op count and the median op wall time;
  - for every stage name, how many of the kind's ops ran a stage of that
    name, so a per-query job that should not be there shows up as a name
    every op carries. Stage names are Spark call sites. The jobs a
    `Searcher` runs itself are named by their step (`Searcher.termStats`,
    `Searcher.touchedSegments`, `Searcher.resolve`, ...); other stages that
    adaptive query execution submits, such as those of the caller's own
    collect, carry a `CompletableFuture.java` one;
  - for the op whose wall time is nearest the median, each job's offset
    from the op start, its duration, and its stage names. The gaps between
    jobs are driver time.
"""
import argparse
import json
import statistics
import sys
from collections import Counter, defaultdict


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("spans", help="perfbench span file (.jsonl)")
    p.add_argument("--tag", default="window",
                   help="run phase to show: window, setup, warmup, or all")
    a = p.parse_args()

    spans = load(a.spans)
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    ops = defaultdict(list)
    for s in spans:
        if s["kind"] == "op" and (a.tag == "all" or s["tag"] == a.tag):
            ops[s["name"]].append(s)
    if not ops:
        sys.exit(f"trace_jobs: no operation spans with tag {a.tag!r} in {a.spans}")

    def dur(s):
        return s["end_ms"] - s["start_ms"]

    def jobs(op):
        return sorted((c for c in kids[op["id"]] if c["kind"] == "job"),
                      key=lambda j: (j["start_ms"], j["id"]))

    def stage_names(job):
        return sorted(c["name"] for c in kids[job["id"]] if c["kind"] == "stage")

    for kind in sorted(ops):
        group = ops[kind]
        med = statistics.median(dur(o) for o in group)
        njobs = statistics.median(len(jobs(o)) for o in group)
        print(f"== {kind}: {len(group)} ops, median {med:.0f} ms, "
              f"median {njobs:g} jobs/op")
        seen = Counter()
        for o in group:
            seen.update({n for j in jobs(o) for n in stage_names(j)})
        for name, n in sorted(seen.items(), key=lambda kv: (-kv[1], kv[0])):
            print(f"   {n:4d}/{len(group)} ops  {name}")
        rep = min(group, key=lambda o: (abs(dur(o) - med), o["id"]))
        print(f"   representative op {rep['id']}: {dur(rep)} ms")
        for j in jobs(rep):
            print(f"     +{j['start_ms'] - rep['start_ms']:5d} ms  {dur(j):5d} ms  "
                  f"{j['name']}: {'; '.join(stage_names(j)) or '-'}")


if __name__ == "__main__":
    main()
