"""Seeded input generator for the pipeline workload.

Writes a GEO-shaped series matrix (gzipped, as GEO ships it), the
probe->gene mapping CSV, Ensembl and OpenTargets snapshots, and `truth.json`,
the planted ground truth that the correctness checks compare the pipeline's
output against.

The shape follows GSE46602, the paper's data set: 54,675 probes x 50 samples
(36 case / 14 control), about 81.6% of probes mapped, several probes per gene.
Differential genes are planted in co-expression modules that go up or down,
so the top-500 network has ~3.5k edges instead of one clique. A stated share
of cells is missing (`nan`, imputed by the pipeline), a few probes are too
sparse to pass the 20% non-null threshold, and a few rows carry a token that
the GEO parser rejects (the whole row is dropped).

Same (probes, seed) gives byte-identical files; the gzip header carries no
name or time stamp. `perfbench/run.py` calls `generate` for each seed.
"""

import gzip
import io
import json
import os

import numpy as np

N_CASE = 36
N_CONTROL = 14
MAP_FRAC = 0.816          # share of probes with a gene symbol
UP_FRAC = 768 / 54675     # planted up genes per probe (GSE46602: 768 up)
DOWN_FRAC = 526 / 54675   # planted down genes per probe (526 down)
MODULE_SIZE = 40          # planted genes per co-expression module
MISSING_FRAC = 0.02       # share of cells written as nan
SPARSE_FRAC = 0.005       # probes with 90% missing (fail the 20% threshold)
BAD_ROW_FRAC = 0.002      # rows with an unparseable token (dropped on parse)
DUP_MAP_FRAC = 0.005      # mapping rows repeated; the last occurrence wins

# Planted signal in units of the probe's standard deviation: a 1.4-SD
# case/control shift, a module factor of variance 0.5, small gene and probe
# noise. Within a module |r| ~ 0.9; across modules |r| ~ 0.4.
SHIFT = 1.4
MODULE_SD = 0.71
GENE_SD = 0.2
PROBE_SD = 0.25
NULL_MAX_Z = 0.4          # null probes: case/control shift capped at 0.4 SD


def _module_factors(rng, is_case, k):
    """k per-sample factors, mutually orthogonal, each with zero mean inside
    both groups and unit variance: a module adds nothing to its genes'
    case/control difference and nothing to another module's correlation."""
    f = rng.standard_normal((is_case.size, k))
    for grp in (is_case, ~is_case):
        f[grp] -= f[grp].mean(axis=0)
    q, _ = np.linalg.qr(f)
    return (q * np.sqrt(is_case.size)).T


def generate(out_dir, seed, probes=54675):
    rng = np.random.default_rng(seed)
    n = N_CASE + N_CONTROL
    os.makedirs(out_dir, exist_ok=True)

    is_case = np.zeros(n, dtype=bool)
    is_case[rng.choice(n, N_CASE, replace=False)] = True
    sample_ids = [f"GSM{1131000 + i}" for i in range(n)]

    # probes -> genes: 81.6% mapped, 1 + Poisson(1.2) probes per gene
    probe_ids = np.array([f"{100000 + k}_at" for k in rng.permutation(probes)])
    n_mapped = int(round(probes * MAP_FRAC))
    sizes = 1 + rng.poisson(1.2, size=n_mapped)
    sizes = sizes[np.cumsum(sizes) <= n_mapped]
    sizes = np.append(sizes, n_mapped - sizes.sum()) if sizes.sum() < n_mapped else sizes
    n_genes = sizes.size
    gene_of_probe = np.full(probes, -1)
    gene_of_probe[:n_mapped] = np.repeat(np.arange(n_genes), sizes)
    names = np.array([f"GN{x:05d}" for x in rng.choice(100000, n_genes, replace=False)])

    # planted genes in up/down modules
    n_up = max(2, int(round(probes * UP_FRAC)))
    n_down = max(2, int(round(probes * DOWN_FRAC)))
    planted = rng.choice(n_genes, n_up + n_down, replace=False)
    direction = np.zeros(n_genes)
    module = np.full(n_genes, -1)
    direction[planted[:n_up]] = 1.0
    direction[planted[n_up:]] = -1.0
    n_up_mod = max(1, n_up // MODULE_SIZE)
    n_down_mod = max(1, n_down // MODULE_SIZE)
    module[planted[:n_up]] = np.arange(n_up) % n_up_mod
    module[planted[n_up:]] = n_up_mod + np.arange(n_down) % n_down_mod
    factors = _module_factors(rng, is_case, n_up_mod + n_down_mod)

    # expression in probe-SD units, then shifted/scaled to a log2-like range
    g = gene_of_probe
    mapped = g >= 0
    x = rng.standard_normal((probes, n)) * PROBE_SD
    gene_noise = rng.standard_normal((n_genes, n)) * GENE_SD
    x[mapped] += gene_noise[g[mapped]]
    sig = mapped & (direction[np.maximum(g, 0)] != 0)
    sg = g[sig]
    x[sig] += SHIFT * direction[sg][:, None] * is_case[None, :]
    x[sig] += MODULE_SD * factors[module[sg]]
    null = ~sig
    # null probes: pure noise, rescaled to unit SD, shift capped
    x[null] /= x[null].std(axis=1, keepdims=True)
    diff = x[null][:, is_case].mean(axis=1) - x[null][:, ~is_case].mean(axis=1)
    excess = np.sign(diff) * np.maximum(np.abs(diff) - NULL_MAX_Z, 0.0)
    xn = x[null]
    xn[:, is_case] -= excess[:, None]
    x[null] = xn
    base = rng.uniform(4.0, 12.0, size=probes)
    scale = rng.uniform(0.3, 0.9, size=probes)
    values = base[:, None] + scale[:, None] * x

    # missing cells, sparse probes and unparseable rows (never on planted probes)
    missing = rng.random((probes, n)) < MISSING_FRAC
    free = np.flatnonzero(~sig)
    sparse = rng.choice(free, int(probes * SPARSE_FRAC), replace=False)
    rest = np.setdiff1d(free, sparse)
    bad = rng.choice(rest, int(probes * BAD_ROW_FRAC), replace=False)
    missing[sparse] = rng.random((sparse.size, n)) < 0.9

    # --- series matrix ---
    buf = io.StringIO()
    q = lambda xs: "\t".join(f'"{s}"' for s in xs)
    buf.write('!Series_title\t"Synthetic prostate cancer series (GSE46602 shape)"\n')
    buf.write('!Series_geo_accession\t"GSE900001"\n')
    buf.write("!Sample_title\t" + q(
        f"{'tumor' if c else 'normal'}_{i + 1}" for i, c in enumerate(is_case)) + "\n")
    buf.write("!Sample_geo_accession\t" + q(sample_ids) + "\n")
    buf.write("!Sample_characteristics_ch1\t" + q(
        "tissue: " + ("prostate cancer" if c else "benign prostate") for c in is_case) + "\n")
    buf.write("!Sample_characteristics_ch1\t" + q(
        f"age: {a}" for a in rng.integers(45, 80, size=n)) + "\n")
    buf.write("!series_matrix_table_begin\n")
    buf.write('"ID_REF"\t' + q(sample_ids) + "\n")
    values = np.round(values, 5)
    values[missing] = np.nan
    bad_col = dict(zip(bad.tolist(), rng.integers(0, n, size=bad.size).tolist()))
    fmt = "{:.5f}".format
    for k, (pid, row) in enumerate(zip(probe_ids.tolist(), values.tolist())):
        cells = list(map(fmt, row))
        if k in bad_col:
            cells[bad_col[k]] = "null"
        buf.write(f'"{pid}"\t' + "\t".join(cells) + "\n")
    buf.write("!series_matrix_table_end\n")
    data = buf.getvalue().encode()
    matrix = os.path.join(out_dir, "series_matrix.txt.gz")
    with open(matrix, "wb") as f, gzip.GzipFile(
            filename="", mode="wb", fileobj=f, mtime=0) as z:
        z.write(data)

    # --- probe mapping: mapped rows, NA rows, repeated rows (last wins) ---
    rows = [f"{probe_ids[k]},{names[g[k]]}" for k in range(n_mapped)]
    rows += [f"{probe_ids[k]},NA" for k in range(n_mapped, probes, 2)]
    dup = rng.choice(n_mapped, int(probes * DUP_MAP_FRAC), replace=False)
    decoys = [f"{probe_ids[k]},DECOY{k}" for k in dup]
    order = rng.permutation(len(rows))
    lines = decoys + [rows[i] for i in order]
    with open(os.path.join(out_dir, "probe_mapping.csv"), "w") as f:
        f.write("PROBEID,SYMBOL\n" + "\n".join(lines) + "\n")

    # --- Ensembl snapshot (every planted gene, half of the rest; some
    # symbols carry a second, larger id that the loader must drop) ---
    keep = np.zeros(n_genes, dtype=bool)
    keep[planted] = True
    keep |= rng.random(n_genes) < 0.5
    ens_of = {i: f"ENSG{10000000 + i * 7:011d}" for i in np.flatnonzero(keep)}
    with open(os.path.join(out_dir, "ensembl.csv"), "w") as f:
        f.write("symbol,ensembl_id\n")
        for i, e in ens_of.items():
            f.write(f"{names[i]},{e}\n")
            if rng.random() < 0.05:
                f.write(f"{names[i]},ENSG{99000000000 + i:011d}\n")

    # --- OpenTargets snapshot: ~70% of planted genes, ~10% of the rest ---
    is_planted = direction != 0
    with open(os.path.join(out_dir, "opentargets.json"), "w") as f:
        for i, e in ens_of.items():
            if rng.random() >= (0.7 if is_planted[i] else 0.1):
                continue
            nd = int(rng.integers(0, 20))
            na = int(rng.integers(0, 6))
            dis = [{"disease": {"id": f"D{i}_{j}", "name": f"disease {j}"},
                    "score": None if rng.random() < 0.1 else round(float(rng.random()), 4)}
                   for j in range(na)]
            f.write(json.dumps({
                "ensembl_id": e, "approvedSymbol": str(names[i]),
                "biotype": "protein_coding",
                "knownDrugs": {"count": nd, "rows": [
                    {"drug": {"id": f"CHEMBL{i}_{j}", "name": f"drug {j}"}}
                    for j in range(min(nd, 3))]},
                "associatedDiseases": {"count": na, "rows": dis},
            }, sort_keys=True) + "\n")

    truth = {
        "seed": seed, "probes": probes, "samples": n,
        "case": N_CASE, "control": N_CONTROL,
        "mapped_probes": n_mapped, "genes": int(n_genes),
        "dropped_rows": int(bad.size), "sparse_probes": int(sparse.size),
        "missing_cells": int(missing.sum()),
        "planted": {str(names[i]): [int(module[i]), int(direction[i])]
                    for i in sorted(planted, key=lambda i: names[i])},
    }
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return matrix

