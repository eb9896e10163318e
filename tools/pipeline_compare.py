#!/usr/bin/env python3
"""Compares pipeline output directories file by file.

    tools/pipeline_compare.py OLD NEW [OLD NEW ...]

Each OLD/NEW pair is two output directories of `DrugTargetPipeline`
(`graft.tools.RunPipeline`, `perfbench` or the specs), e.g. the same input
run by two versions of the program. For every file the report says one of:

  identical              the bytes are equal
  within 1e-10           same header, rows and text cells; every number
                         within relative distance REL_BOUND (1e-10) of the
                         other side's. The one exception is a cell that is
                         exactly 0.0 on one side and within ZERO_ABS_BOUND
                         (1e-15) of 0 on the other, e.g. a difference of two
                         equal means that is a rounding residue on one side
                         (relative distance 1 against an exact zero); every
                         such cell is printed. A GEXF may list its edges in
                         another order (said so) when the edge set is the
                         same.
  DIFFERS: ...           anything else

A pair passes when:
  - every table and the GEXF are identical or within the bound;
  - the gene set (gene_mapped, differential_results), the significant set,
    the edge set (GEXF and network_viz_edges) and the target ranking
    (network_targets by composite score, then gene) are identical;
  - summary.txt, final_targets, top_targets_barplot, network_viz_nodes,
    gene_mapped and metadata are byte-identical.
PNG figures are reported but not gated. Exit status 1 when a pair fails.
"""

import argparse
import csv
import io
import math
import os
import re
import sys

REL_BOUND = 1e-10       # gate (a): every number within this relative distance
ZERO_ABS_BOUND = 1e-15  # ... or 0.0 against a residue no larger than this

BYTE_IDENTICAL = ["summary.txt", "data/final_targets", "data/top_targets_barplot",
                  "data/network_viz_nodes", "data/gene_mapped", "data/metadata"]


def files(root):
    """Output path -> bytes; a CSV part file under its table directory."""
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.startswith((".", "_")) or f.endswith(".stderr"):
                continue
            rel = os.path.relpath(os.path.join(d, f), root)
            key = os.path.dirname(rel) if f.startswith("part-") else rel
            with open(os.path.join(d, f), "rb") as fh:
                out[key] = fh.read()
    return out


def as_float(s):
    try:
        return float(s)
    except ValueError:
        return None


def rel_dist(a, b):
    if a == b or (math.isnan(a) and math.isnan(b)):
        return 0.0
    if math.isinf(a) or math.isinf(b) or math.isnan(a) or math.isnan(b):
        return math.inf
    return abs(a - b) / max(abs(a), abs(b))


def zero_residue(a, b):
    """One side exactly 0.0, the other within ZERO_ABS_BOUND of it."""
    return (a == 0.0 or b == 0.0) and abs(a - b) <= ZERO_ABS_BOUND


class Dist:
    """Largest relative distance over numeric cells, plus the cells that
    pass only as a residue against an exact zero."""

    def __init__(self):
        self.worst, self.near_zero = 0.0, []
        self.reordered = False  # a GEXF listing its edges in another order

    def add(self, a, b):
        d = rel_dist(a, b)
        if d > REL_BOUND and zero_residue(a, b):
            self.near_zero.append(f"{a!r} vs {b!r}")
        else:
            self.worst = max(self.worst, d)

    def cells(self, xs, ys):
        """Adds paired cells; returns a reason when they differ as text."""
        for x, y in zip(xs, ys):
            if x == y:
                continue
            fx, fy = as_float(x), as_float(y)
            if fx is None or fy is None:
                return f"text cell {x!r} vs {y!r}"
            self.add(fx, fy)
        return None

    def note(self):
        s = f"max relative distance {self.worst:.3g}"
        if self.near_zero:
            s += (f"; {len(self.near_zero)} cells 0.0 against a residue within "
                  f"{ZERO_ABS_BOUND:g}: {', '.join(self.near_zero)}")
        return s


def compare_csv(a, b, dist):
    ra = list(csv.reader(io.StringIO(a.decode())))
    rb = list(csv.reader(io.StringIO(b.decode())))
    if not ra or not rb or ra[0] != rb[0]:
        return "header differs"
    if len(ra) != len(rb):
        return f"{len(ra) - 1} vs {len(rb) - 1} rows"
    for i, (x, y) in enumerate(zip(ra, rb)):
        if len(x) != len(y):
            return f"row {i}: {len(x)} vs {len(y)} cells"
        why = dist.cells(x, y)
        if why:
            return f"row {i}: {why}"
    return None


EDGE = re.compile(r'<edge source="(\d+)" target="(\d+)" id="(\d+)" weight="([^"]+)" />')


def compare_gexf(a, b, dist):
    sa, sb = a.decode(), b.decode()
    if EDGE.sub("", sa) != EDGE.sub("", sb):
        return "nodes or layout differ"
    ea, eb = EDGE.findall(sa), EDGE.findall(sb)
    wa = {(s, t): w for s, t, _, w in ea}
    wb = {(s, t): w for s, t, _, w in eb}
    if len(wa) != len(ea) or set(wa) != set(wb):
        return "edge set differs"
    if [e[:2] for e in ea] != [e[:2] for e in eb]:
        dist.reordered = True
    return dist.cells([wa[k] for k in sorted(wa)], [wb[k] for k in sorted(wa)])


def table(blob):
    return list(csv.DictReader(io.StringIO(blob.decode())))


def sets(fs):
    """The gated sets of one output directory."""
    out = {}
    if "data/gene_mapped" in fs:
        out["genes (gene_mapped)"] = sorted(r["gene"] for r in table(fs["data/gene_mapped"]))
    if "data/differential_results" in fs:
        out["genes (differential_results)"] = sorted(
            r["gene"] for r in table(fs["data/differential_results"]))
    if "data/significant_genes" in fs:
        out["significant"] = sorted(r["gene"] for r in table(fs["data/significant_genes"]))
    if "data/gene_network.gexf" in fs:
        g = fs["data/gene_network.gexf"].decode()
        label = dict(re.findall(r'<node id="(\d+)" label="([^"]*)" />', g))
        out["edges (gexf)"] = sorted((label[s], label[t]) for s, t, _, _ in EDGE.findall(g))
    if "data/network_viz_edges" in fs:
        out["edges (viz)"] = sorted((r["src"], r["dst"]) for r in table(fs["data/network_viz_edges"]))
    if "data/network_targets" in fs:
        rows = table(fs["data/network_targets"])
        out["ranking"] = [r["gene"] for r in sorted(
            rows, key=lambda r: (-float(r["composite_score"]), r["gene"]))]
    return out


def compare(old, new):
    fa, fb = files(old), files(new)
    ok = True
    print(f"== {old} vs {new}")
    for key in sorted(set(fa) | set(fb)):
        if key not in fa or key not in fb:
            print(f"  {key}: DIFFERS: only in {'new' if key in fb else 'old'}")
            ok = False
            continue
        a, b = fa[key], fb[key]
        if a == b:
            print(f"  {key}: identical")
            continue
        if key.endswith(".png"):
            print(f"  {key}: differs (figure, not gated)")
            continue
        dist = Dist()
        if not key.startswith("data/"):
            why = "bytes differ"
        else:
            why = (compare_gexf if key.endswith(".gexf") else compare_csv)(a, b, dist)
        if why is None and key in BYTE_IDENTICAL:
            why = "must be byte-identical; " + dist.note()
        elif why is None and dist.worst > REL_BOUND:
            why = dist.note()
        if why is None:
            order = "; edges listed in another order" if dist.reordered else ""
            print(f"  {key}: within {REL_BOUND:g} ({dist.note()}{order})")
        else:
            print(f"  {key}: DIFFERS: {why}")
            ok = False
    sa, sb = sets(fa), sets(fb)
    for name in sorted(set(sa) | set(sb)):
        same = sa.get(name) == sb.get(name)
        n = len(sa.get(name) or [])
        print(f"  set {name}: {'identical' if same else 'DIFFERS'} ({n})")
        ok = ok and same
    print(f"  => {'PASS' if ok else 'FAIL'}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dirs", nargs="+", help="OLD NEW [OLD NEW ...]")
    args = ap.parse_args()
    if len(args.dirs) % 2:
        ap.error("directories come in OLD NEW pairs")
    pairs = list(zip(args.dirs[::2], args.dirs[1::2]))
    results = [compare(o, n) for o, n in pairs]
    print(f"{sum(results)} of {len(results)} pairs pass")
    sys.exit(0 if all(results) else 1)


if __name__ == "__main__":
    main()
