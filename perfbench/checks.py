"""Output checks and latency percentiles for the benchmark.

Pipeline checks compare one run's output directory with the planted truth
written by `gen.py`; catalog checks compare each query's observed row count
and content digest with `catalog_expected.json`. Every check that fails is
one failed operation.
"""

import csv
import glob
import hashlib
import math
import os
import re

PIPELINE_TABLES = [
    "metadata", "gene_mapped", "differential_results", "volcano_data",
    "significant_genes", "correlation_matrix", "network_targets",
    "network_viz_nodes", "network_viz_edges", "top_targets_barplot",
    "final_targets",
]
PIPELINE_FILES = [
    "data/gene_network.gexf", "summary.txt", "figures/volcano_plot.png",
    "figures/network_visualization.png", "figures/top_targets.png",
]


def tail_rank(n):
    """Nearest-rank index (1-based) and percentile of the highest percentile
    that still has at least ten samples beyond it: p90 at n=100, p75 at n=40.
    Below 11 samples there is no such percentile; the maximum is used."""
    k = max(1, n - 10)
    return k, 100.0 * k / n


def percentile(values, pct):
    """Nearest-rank percentile; a failed operation is passed as +inf and
    sorts last, so failures push the percentile up and are never dropped."""
    xs = sorted(values)
    k = max(1, math.ceil(pct / 100.0 * len(xs)))
    return xs[k - 1]


def latencies(records, pass_name, expected):
    """Per-query latency (ms) of one pass; +inf where the query failed or
    returned wrong rows."""
    return [r["ms"] if not catalog_record_errors(r, expected) else math.inf
            for r in records if r["pass"] == pass_name]


def catalog_record_errors(rec, expected):
    exp = expected.get(rec["name"])
    if exp is None:
        return [f"{rec['name']}: no recorded expectation"]
    if "error" in rec:
        return [f"{rec['name']}/{rec['pass']}: {rec['error']}"]
    errs = []
    if rec.get("rows") != exp["rows"]:
        errs.append(f"{rec['name']}/{rec['pass']}: rows {rec.get('rows')} != {exp['rows']}")
    if exp.get("digest") is not None and rec.get("digest") != exp["digest"]:
        errs.append(f"{rec['name']}/{rec['pass']}: digest {rec.get('digest')} != {exp['digest']}")
    return errs


def read_bytes(path):
    with open(path, "rb") as f:
        return f.read()


def read_table(out_dir, name):
    """Rows (as dicts) of a CSV table the pipeline wrote with one part file."""
    parts = sorted(glob.glob(os.path.join(out_dir, "data", name, "part-*.csv")))
    if not parts:
        return None
    rows = []
    for p in parts:
        with open(p, newline="") as f:
            rows.extend(csv.DictReader(f))
    return rows


def read_gexf(path):
    if not os.path.exists(path):
        return None, None
    text = read_bytes(path).decode()
    labels = dict(re.findall(r'<node id="(\d+)" label="([^"]*)"', text))
    edges = [(labels.get(s), labels.get(t))
             for s, t in re.findall(r'<edge source="(\d+)" target="(\d+)"', text)]
    return list(labels.values()), edges


def read_summary(path):
    if not os.path.exists(path):
        return None
    text = read_bytes(path).decode()
    pat = {
        "samples": r"Samples: (\d+) \((\d+) case / (\d+) control\)",
        "probes": r"Probes: (\d+)", "genes": r"Genes after mapping: (\d+)",
        "significant": r"Significant genes: (\d+)", "up": r"Up-regulated: (\d+)",
        "down": r"Down-regulated: (\d+)", "nodes": r"Nodes: (\d+)",
        "edges": r"Edges: (\d+)",
    }
    out = {}
    for k, p in pat.items():
        m = re.search(p, text)
        if m is None:
            return None
        out[k] = tuple(int(x) for x in m.groups()) if k == "samples" else int(m.group(1))
    return out


def output_digest(out_dir):
    """sha256 over every output the pipeline writes, keyed by table or file
    name (part-file names carry a random id and are not part of it)."""
    h = hashlib.sha256()
    for t in PIPELINE_TABLES:
        for p in sorted(glob.glob(os.path.join(out_dir, "data", t, "part-*.csv"))):
            h.update(t.encode() + b"\0" + read_bytes(p) + b"\0")
    for f in PIPELINE_FILES:
        p = os.path.join(out_dir, f)
        if os.path.exists(p):
            h.update(f.encode() + b"\0" + read_bytes(p) + b"\0")
    return h.hexdigest()


def pipeline_errors(out_dir, truth):
    """Checks a pipeline output directory against the planted truth; returns
    the list of violated checks (empty when the output is correct)."""
    errs = []
    planted = truth["planted"]
    tables = {t: read_table(out_dir, t) for t in PIPELINE_TABLES}
    for t in PIPELINE_TABLES:
        if tables[t] is None:
            errs.append(f"missing table {t}")
    for f in PIPELINE_FILES:
        if not os.path.exists(os.path.join(out_dir, f)):
            errs.append(f"missing file {f}")

    sig = tables["significant_genes"] or []
    stray = [r["gene"] for r in sig if r["gene"] not in planted]
    if stray:
        errs.append(f"{len(stray)} significant genes not planted, e.g. {stray[:3]}")
    wrong = [r["gene"] for r in sig if r["gene"] in planted
             and (float(r["log2FC"]) > 0) != (planted[r["gene"]][1] > 0)]
    if wrong:
        errs.append(f"{len(wrong)} significant genes move against their plant, e.g. {wrong[:3]}")
    if len(sig) < 0.9 * len(planted):
        errs.append(f"only {len(sig)} of {len(planted)} planted genes significant")

    nodes, edges = read_gexf(os.path.join(out_dir, "data", "gene_network.gexf"))
    if edges is not None:
        cross = [(a, b) for a, b in edges
                 if a not in planted or b not in planted or planted[a][0] != planted[b][0]]
        if cross:
            errs.append(f"{len(cross)} network edges join genes of different modules, e.g. {cross[:2]}")
        if not edges:
            errs.append("network has no edges")

    s = read_summary(os.path.join(out_dir, "summary.txt"))
    if s is None:
        errs.append("summary.txt missing or unparseable")
    else:
        want = {
            "samples": (truth["samples"], truth["case"], truth["control"]),
            "probes": truth["probes"] - truth["dropped_rows"],
            "significant": len(sig),
            "up": sum(float(r["log2FC"]) > 0 for r in sig),
            "down": sum(float(r["log2FC"]) < 0 for r in sig),
        }
        if tables["gene_mapped"] is not None:
            want["genes"] = len(tables["gene_mapped"])
        if nodes is not None:
            want["nodes"], want["edges"] = len(nodes), len(edges)
        for k, v in want.items():
            if s[k] != v:
                errs.append(f"summary {k} = {s[k]}, outputs say {v}")
    ft = tables["final_targets"]
    if ft is not None and not ft:
        errs.append("final_targets is empty")
    return errs
