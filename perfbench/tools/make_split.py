#!/usr/bin/env python3
"""Write perfbench/catalog_split.tsv: each catalog query's workload, layer and
whether the benchmark times it.

Usage: python3 perfbench/tools/make_split.py PROBE_TSV

PROBE_TSV is the output of `perfbench.Tools split` (name, 1 when graft.sim
code takes part in the query). The rule:
  - workload: catalog_similarity when graft.sim takes part, otherwise
    catalog_analytics;
  - layer: the module (package under graft/) of the first program object
    the query's catalog entry calls. Entries that call no module object,
    only Spark and the core table readers, are SQL views written in the
    catalog itself and are filed under views, as are the few entries whose
    first object sits in a crawl module (frontier, scheduler, fetch);
  - timed: 1 for the queries ROADMAP's items target that fit the budget
    (TARGETS: q06, q96 and q107 among the analytics queries; q14, q84 and
    q85 among the similarity queries, the item 4 and 5 targets that share
    the text shingle frames),
    and in catalog_analytics for the first two other queries of each layer
    in catalog order. This keeps a run of each catalog workload near 35 s
    on a 4-core VM, inside the benchmark's time budget; the other queries
    are classified but not run.
"""
import os
import re
import sys

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = os.path.join(os.path.dirname(BENCH), "src", "main", "scala", "graft")
LAYERS = ("views", "etl", "text", "sources", "sim")
SKIP = {"core", "functions"}  # helpers every query uses, not entry modules
TARGETS = {"q06", "q14", "q84", "q85", "q96", "q107"}
PER_LAYER = {"catalog_analytics": 2, "catalog_similarity": 0}


def objects():
    """object name -> package under graft/ ('' for the root package)."""
    found = {}
    for d, _, files in os.walk(SRC):
        pkg = os.path.relpath(d, SRC).replace(os.sep, ".")
        pkg = "" if pkg == "." else pkg
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f)) as fh:
                    for name in re.findall(r"^object (\w+)", fh.read(), re.M):
                        found[name] = pkg
    return found


def main():
    probe = dict(l.rstrip("\n").split("\t") for l in open(sys.argv[1]) if l.strip())
    objs = {n: p for n, p in objects().items() if p and p.split(".")[0] not in SKIP}
    # comments between entries name other objects; drop them
    text = re.sub(r"//[^\n]*", "", open(os.path.join(SRC, "Catalog.scala")).read())
    starts = [(m.group(1), m.end()) for m in re.finditer(r'"(q\d+_\w+)" -> Entry\(', text)]
    ref = re.compile(r"\b(?:graft\.[\w.]+\.)?(" + "|".join(sorted(objs, key=len, reverse=True)) + r")\.\w")
    rows = []
    for i, (name, at) in enumerate(starts):
        end = starts[i + 1][1] if i + 1 < len(starts) else len(text)
        m = ref.search(text, at, end)
        module = objs[m.group(1)].split(".")[0] if m else "views"
        layer = module if module in LAYERS else "views"
        rows.append((name, "catalog_similarity" if probe[name] == "1" else "catalog_analytics", layer))
    missing = set(probe) - {r[0] for r in rows}
    if missing:
        sys.exit(f"queries without a catalog entry: {sorted(missing)}")
    for w, n in PER_LAYER.items():
        rest = [r for r in rows if r[1] == w and r[0].split("_")[0] not in TARGETS]
        timed = {r[0] for layer in LAYERS for r in [q for q in rest if q[2] == layer][:n]} | {r[0] for r in rows if r[1] == w and r[0].split("_")[0] in TARGETS}
        rows = [r + ("1" if r[0] in timed else "0",) if r[1] == w else r for r in rows]
    out = os.path.join(BENCH, "catalog_split.tsv")
    with open(out, "w") as f:
        f.write("# query\tworkload\tlayer\ttimed -- written by perfbench/tools/make_split.py\n")
        for r in sorted(rows, key=lambda r: int(r[0][1:].split("_")[0])):
            f.write("\t".join(r) + "\n")
    for w in PER_LAYER:
        print(w, sum(r[1] == w for r in rows), "queries,", sum(r[1] == w and r[3] == "1" for r in rows), "timed")


if __name__ == "__main__":
    main()
