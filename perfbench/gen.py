"""Seeded synthetic cohorts for the benchmark.

A cohort is one wide table: a row per sample, the predictor(s), the
dependents and a pool of covariates. The same (cohort, seed) always gives
the same values. The files the program reads are written once per
(cohort, seed) and cached next to a MANIFEST of every file's size and
SHA-256, so a partial or stale cache is rebuilt.

Binary dependents get a log-spaced prevalence grid, 2% random
missingness, and every 20th code is sex-specific (null for males); every
10th code (and every 10th continuous dependent) is too sparse to fit,
with fewer cases (observations) than the pipeline's min_case_count (20).
So the viability gates, the per-pair null drop and the per-pair
constant-covariate drop (sex is constant inside a sex-specific pair) all
do real work, and the share of failed pairs is the same for every seed.

Besides the program's input, each cohort directory holds `matrix.bin`
(every numeric column as little-endian float64, column-major, NaN for a
null, `cat3` as its level index) and `cohort.json`, which the harness
reads to refit sampled pairs independently of the program's readers.
"""
import hashlib
import json
import os
import shutil

import numpy as np

VERSION = "1"
NULL_MARKERS = ("NA", "-9")
FILE_PARTS = 8
CAT_LEVELS = ("a", "b", "c")

# Full-size cohorts. `phewas` is shared by phewas_k5 and phewas_k20.
# `prev` is the prevalence range of the common binary codes.
COHORTS = {
    "phewas": dict(n=1000, predictors=1, dependents=300, pcs=16, binary=True,
                   fmt="parquet", missing_cov=0.0, prev=(0.05, 0.30)),
    "biobank": dict(n=25000, predictors=1, dependents=20, pcs=2, binary=True,
                    fmt="parquet", missing_cov=0.0, prev=(0.004, 0.20)),
    "quant": dict(n=1500, predictors=20, dependents=20, pcs=3, binary=False,
                  fmt="tsv", missing_cov=0.02, prev=None),
}

# Smoke-test cohorts: the same structure at a tiny size. The biobank
# cohort stays above the in-task row bound (20,000 rows per pair), so
# its fits still take the gram path.
SMOKE = {
    "phewas": dict(COHORTS["phewas"], n=400, dependents=20),
    "biobank": dict(COHORTS["biobank"], n=23500, dependents=10),
    "quant": dict(COHORTS["quant"], n=300, predictors=3, dependents=10),
}


def pred_names(s):
    return ["snp"] if s["predictors"] == 1 else ["snp_%02d" % i for i in range(s["predictors"])]


def dep_names(s):
    return ["dep_%04d" % d for d in range(s["dependents"])]


def pc_names(s):
    return ["pc%d" % j for j in range(1, s["pcs"] + 1)]


def column_order(s):
    # `batch` is constant by design, so the constant-covariate drop has a
    # column to remove
    return (["sample_id"] + pred_names(s) + dep_names(s)
            + ["sex", "age", "bmi", "cat3", "batch"] + pc_names(s))


def generate(s, seed, name):
    """All columns as float64 arrays (NaN = null); cat3 as level index."""
    tag = int.from_bytes(hashlib.sha256(name.encode()).digest()[:4], "little")
    rng = np.random.default_rng([seed, tag])
    n = s["n"]
    r3 = lambda v: np.round(v * 1000.0) / 1000.0
    cols = {"sample_id": np.arange(n, dtype=np.float64)}
    sex = (rng.random(n) < 0.5).astype(np.float64)
    age_z = rng.standard_normal(n)
    cat = np.searchsorted([0.5, 0.8], rng.random(n), side="right").astype(np.float64)
    cols.update(sex=sex, age=r3(55.0 + 12.0 * age_z), bmi=r3(27.0 + 4.0 * rng.standard_normal(n)),
                cat3=cat, batch=np.ones(n))
    for pc in pc_names(s):
        cols[pc] = r3(rng.standard_normal(n))
    preds = []
    for p in pred_names(s):
        maf = 0.1 + 0.3 * rng.random()
        g = (rng.random((2, n)) < maf).sum(axis=0).astype(np.float64)
        g[rng.random(n) < 0.01] = np.nan
        cols[p] = g
        preds.append(g)
    g0 = np.nan_to_num(preds[0], nan=0.0)
    deps = dep_names(s)
    jitter = rng.random()
    for di, d in enumerate(deps):
        beta = 0.25 * rng.standard_normal()
        # every 10th code is too sparse to fit: a fixed number (< 20) of
        # cases, or of observations for a continuous dependent; so the
        # share of failed pairs is the same for every seed
        sparse = di % 10 == 3
        keep = 8 + (di // 10) % 10
        if s["binary"]:
            lo, hi = s["prev"]
            frac = (di + jitter) / len(deps)
            prev = np.exp(np.log(lo) + frac * (np.log(hi) - np.log(lo)))
            sex_specific = di % 20 == 7
            if sex_specific:
                prev = max(prev, 0.15)
            eta = np.log(prev / (1 - prev)) + beta * (g0 - 0.5) + 0.3 * age_z + 0.2 * sex + 0.15 * cat
            y = (rng.random(n) < 1.0 / (1.0 + np.exp(-eta))).astype(np.float64)
            if sparse:
                y[:] = 0.0
                y[rng.choice(n, keep, replace=False)] = 1.0
            drop = rng.random(n) < 0.02
            if sparse:
                drop &= y == 0.0
            if sex_specific:
                drop |= sex == 0.0
        else:
            y = r3(beta * g0 + 0.5 * age_z + 0.3 * sex + rng.standard_normal(n))
            drop = rng.random(n) < 0.03
            if sparse:
                drop = np.ones(n, dtype=bool)
                drop[rng.choice(n, keep, replace=False)] = False
        y[drop] = np.nan
        cols[d] = y
    if s["missing_cov"] > 0:
        for c in ("age", "bmi"):
            cols[c] = np.where(rng.random(n) < s["missing_cov"], np.nan, cols[c])
    return cols


def write_defs(s, path):
    with open(path, "w") as f:
        f.write("phecode,phenotype,sex,category,category_number\n")
        for i, d in enumerate(dep_names(s)):
            sex = "Female" if i % 20 == 7 else "Both"
            f.write("%s,phenotype %d,%s,category %d,%d\n" % (d, i, sex, i % 17, i % 17))


def write_parquet(s, cols, path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(path)
    names = column_order(s)
    n = s["n"]
    bounds = np.linspace(0, n, FILE_PARTS + 1).astype(int)
    for part in range(FILE_PARTS):
        a, b = bounds[part], bounds[part + 1]
        arrays = []
        for c in names:
            if c == "cat3":
                arrays.append(pa.array([CAT_LEVELS[int(v)] for v in cols[c][a:b]], pa.string()))
            else:
                v = cols[c][a:b]
                arrays.append(pa.array(v, pa.float64(), mask=np.isnan(v)))
        pq.write_table(pa.Table.from_arrays(arrays, names=names),
                       os.path.join(path, "part-%05d.parquet" % part))


def write_tsv(s, cols, path):
    """Nulls are written as the first marker only: the reader applies the
    second marker to string columns alone, so a `-9` in a numeric column
    would be read as the number -9 (README, finding d)."""
    names = column_order(s)
    text = []
    for c in names:
        v = cols[c]
        if c == "cat3":
            text.append([CAT_LEVELS[int(x)] for x in v])
        else:
            text.append([NULL_MARKERS[0] if x != x else repr(x) for x in v.tolist()])
    with open(path, "w") as f:
        f.write("\t".join(names) + "\n")
        for row in zip(*text):
            f.write("\t".join(row) + "\n")


def _files(d):
    out = []
    for root, _, files in os.walk(d):
        for f in files:
            if f != "MANIFEST":
                out.append(os.path.relpath(os.path.join(root, f), d))
    return sorted(out)


def _manifest(d, meta):
    lines = ["version " + VERSION, json.dumps(meta, sort_keys=True)]
    for rel in _files(d):
        p = os.path.join(d, rel)
        h = hashlib.sha256()
        with open(p, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
        lines.append("%s %d %s" % (rel, os.path.getsize(p), h.hexdigest()))
    return "\n".join(lines) + "\n"


def ensure(root, name, seed, smoke=False):
    """Write (or reuse) the files of cohort `name` at `seed`; returns its dir."""
    s = (SMOKE if smoke else COHORTS)[name]
    meta = dict(s, name=name, seed=seed)
    d = os.path.join(root, "%s%s-seed%d-v%s" % (name, "-smoke" if smoke else "", seed, VERSION))
    man = os.path.join(d, "MANIFEST")
    if os.path.isfile(man):
        with open(man) as f:
            if f.read() == _manifest(d, meta):
                return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    cols = generate(s, seed, name)
    names = column_order(s)
    if s["fmt"] == "parquet":
        write_parquet(s, cols, os.path.join(d, "cohort.parquet"))
        data = "cohort.parquet"
    else:
        write_tsv(s, cols, os.path.join(d, "cohort.tsv"))
        data = "cohort.tsv"
    write_defs(s, os.path.join(d, "phecode_defs.csv"))
    np.stack([cols[c] for c in names]).astype("<f8").tofile(os.path.join(d, "matrix.bin"))
    with open(os.path.join(d, "cohort.json"), "w") as f:
        json.dump(dict(meta, input=data, columns=names, predictor_names=pred_names(s),
                       dependent_names=dep_names(s), cat_levels=list(CAT_LEVELS)), f, indent=1)
    with open(man, "w") as f:
        f.write(_manifest(d, meta))
    return d
