"""A/B bit-identity battery for kernel changes (the CLAUDE.md
obligation made a tool, r13): load the OLD stats.py/association.py from
`git show HEAD:...`, run 51 (X, y) shapes x 4 model families plus 200
randomized kernel-level trials against the working tree, and require
bit-identical results (repr-equal floats, identical failure rows,
identical exception behavior). Run BEFORE committing any change to
functions/stats.py or the association kernels:

    python tools/ab_kernel_battery.py

Runs all three sections, then exits non-zero if any of them had a
mismatch. CI bounds tighter than the historical
contract (beta/se/pval bit-identical, CI <= 1e-6 relative): this battery
requires full bit equality, which every r13 change satisfies.

A second section is a TOLERANCE check, not a bit-identity one: it
groups each shape into a multi-column Y, fits it with the working
tree's batch (stats.firth_fit_many) and requires agreement with the OLD
per-pair firth_fit at rtol 1e-9 — the batch changes the floating-point
op order.
"""

import importlib.util
import math
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")

import numpy as np


def load_old(relpath, name):
    src = subprocess.check_output(
        ["git", "-C", ROOT, "show", f"HEAD:{relpath}"]).decode()
    d = tempfile.mkdtemp()
    p = os.path.join(d, name + ".py")
    open(p, "w").write(src)
    spec = importlib.util.spec_from_file_location(name, p)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


old_stats = load_old("polars_mas_spark/functions/stats.py", "old_stats")
import polars_mas_spark.functions.stats as new_stats

rng = np.random.default_rng(20260818)
cases = []
# Diverse shapes: n, k, prevalence, separation-ish, constants, collinear.
for n in (60, 300, 2000, 5000):
    for k in (0, 1, 5, 20):
        for prev in (0.5, 0.1, 0.02):
            X = rng.normal(size=(n, k + 1))
            eta = 0.8 * X[:, 0] + math.log(prev / (1 - prev))
            y = (rng.random(n) < 1 / (1 + np.exp(-eta))).astype(float)
            cases.append((X, y))
# Edge cases
n = 500
X = rng.normal(size=(n, 3)); X[:, 2] = 1.7  # constant covariate
y = (rng.random(n) < 0.3).astype(float)
cases.append((X, y))
X = rng.normal(size=(n, 3)); X[:, 2] = X[:, 1] * 2.0  # collinear
cases.append((X, y))
X = rng.normal(size=(n, 2)); y = (X[:, 0] > 0).astype(float)  # separation
cases.append((X, y))
# planted 2x2 structure (the r7 fixture class)
x0 = np.repeat([0.0, 1.0], n // 2)
X = np.column_stack([x0, rng.normal(size=n)])
y = np.concatenate([rng.random(n // 2) < 0.05, rng.random(n // 2) < 0.35]).astype(float)
cases.append((X, y))

bad = 0
for i, (X, y) in enumerate(cases):
    for fn in ("firth_fit", "logistic_fit", "ols_fit", "poisson_fit"):
        yy = y if fn != "poisson_fit" else np.floor(y * 3 + rng.poisson(1.0, len(y)))
        try:
            old = getattr(old_stats, fn)(X, yy)
            old_exc = None
        except Exception as e:
            old, old_exc = None, repr(e)
        try:
            new = getattr(new_stats, fn)(X, yy)
            new_exc = None
        except Exception as e:
            new, new_exc = None, repr(e)
        if old_exc or new_exc:
            if old_exc != new_exc:
                print(f"case {i} {fn}: EXC MISMATCH old={old_exc} new={new_exc}")
                bad += 1
            continue
        for key in old:
            ov, nv = old[key], new[key]
            same = (ov == nv) or (
                isinstance(ov, float) and isinstance(nv, float)
                and math.isnan(ov) and math.isnan(nv)
            ) or (
                isinstance(ov, float) and isinstance(nv, float)
                and repr(ov) == repr(nv)
            )
            if not same:
                print(f"case {i} {fn} {key}: old={ov!r} new={nv!r}")
                bad += 1
print(f"stats battery: {len(cases)} cases x 4 models, mismatches={bad}")

# ---- batch tolerance check: new firth_fit_many vs old per-pair firth_fit ----
# Not a bit-identity check: the batch fits the columns of Y together
# with a different floating-point op order, so it must agree with the
# per-pair kernel to rtol 1e-9 (equal infinite/NaN values, equal
# converged flags). Each shape becomes a multi-column Y: its y plus
# two permutations of it (same design, same prevalence). The last
# batch is a PheWAS-shaped chunk: n = 1,000, five covariates, 48
# dependents at prevalence 1-8%.
batches = [
    (X, np.column_stack([y, rng.permutation(y), rng.permutation(y)]))
    for X, y in cases
]
n = 1000
X = np.column_stack([
    rng.normal(size=n), rng.normal(55.0, 12.0, n), rng.integers(0, 2, n),
    rng.normal(size=(n, 3)),
])
Y = np.empty((n, 48))
for b in range(Y.shape[1]):
    prev = rng.uniform(0.01, 0.08)
    eta = rng.normal(0.0, 0.3) * X[:, 0] + rng.normal(0.0, 0.15) * X[:, 3]
    Y[:, b] = rng.random(n) < 1 / (1 + np.exp(-(eta + math.log(prev / (1 - prev)))))
batches.append((X, Y))
tbad = 0
n_cols = 0
worst = 0.0
for i, (X, Y) in enumerate(batches):
    got = new_stats.firth_fit_many(X, list(Y.T))
    for b in range(Y.shape[1]):
        n_cols += 1
        want = old_stats.firth_fit(X, np.ascontiguousarray(Y[:, b]))
        if got[b]["converged"] != want["converged"]:
            print(f"batch case {i} col {b} converged: "
                  f"old={want['converged']} new={got[b]['converged']}")
            tbad += 1
        for key in ("pval", "beta", "se", "OR", "ci_low", "ci_high"):
            ov, nv = want[key], got[b][key]
            if not math.isfinite(ov):
                ok = (ov == nv) or (math.isnan(ov) and math.isnan(nv))
            else:
                rel = abs(nv - ov) / abs(ov) if ov else abs(nv)
                worst = max(worst, rel)
                ok = rel <= 1e-9
            if not ok:
                print(f"batch case {i} col {b} {key}: old={ov!r} new={nv!r}")
                tbad += 1
print(f"batch tolerance check (rtol 1e-9): {n_cols} columns, "
      f"worst rel diff {worst:.1e}, mismatches={tbad}")

# ---- kernel-level battery: old make_array_kernel vs new make_array_kernel ----
# One dependent per call, as a per-pair fit: NaN predictor cells reach
# the fit (keep=None) and must fail the pair identically on both sides.
src = subprocess.check_output(
    ["git", "-C", ROOT, "show",
     "HEAD:polars_mas_spark/operators/association.py"]).decode()
p = os.path.join(tempfile.mkdtemp(), "old_assoc.py")
open(p, "w").write(src)
spec = importlib.util.spec_from_file_location("old_assoc", p)
old_assoc = importlib.util.module_from_spec(spec)
sys.modules["old_assoc"] = old_assoc
spec.loader.exec_module(old_assoc)

import polars_mas_spark.operators.association as new_assoc

rng = np.random.default_rng(7)
kbad = 0
for trial in range(200):
    n = int(rng.integers(0, 400))
    covs = [f"c{j}" for j in range(int(rng.integers(0, 4)))]
    model = rng.choice(["firth", "logistic", "linear", "poisson"])
    quantitative = model in ("linear", "poisson")
    x = rng.choice([0.0, 1.0, 2.0, np.nan], size=n,
                   p=[0.4, 0.3, 0.25, 0.05]).astype(float)
    y = ((rng.random(n) < 0.3).astype(float)
         if not quantitative else rng.normal(size=n))
    data = {}
    for c in covs:
        kind = rng.integers(0, 4)
        if kind == 0:
            data[c] = rng.normal(size=n)
        elif kind == 1:
            data[c] = np.full(n, 3.3)  # constant
        elif kind == 2:
            data[c] = rng.integers(0, 3, size=n).astype(np.int64)
        else:
            arr = rng.normal(size=n)
            arr[rng.random(n) < 0.1] = np.nan
            data[c] = arr
    sex_restr = None
    sex_col = None
    if covs and rng.random() < 0.3:
        sex_col = covs[0]
        data[covs[0]] = rng.choice([0.0, 1.0], size=n)
        sex_restr = {"dep0": 1.0}
    cov_arrays = [(c, c, data[c]) for c in covs]
    min_cc = int(rng.choice([1, 5, 20]))
    results = []
    for assoc in (old_assoc, new_assoc):
        akernel = assoc.make_array_kernel(model, covs, quantitative, min_cc,
                                          sex_restr, sex_col)
        try:
            (row,) = akernel("pred0", x.copy(), cov_arrays, ["dep0"],
                             lambda _d: y.copy())
            results.append((row, None))
        except Exception as e:
            results.append((None, repr(e)))
    (ro, e_old), (rn, e_new) = results
    if e_old or e_new:
        if e_old != e_new:
            print(f"trial {trial}: EXC MISMATCH old={e_old} new={e_new}")
            kbad += 1
        continue
    for kk in ro:
        ov, nv = ro[kk], rn[kk]
        same = (ov == nv) or (
            isinstance(ov, float) and isinstance(nv, float)
            and ((math.isnan(ov) and math.isnan(nv)) or repr(ov) == repr(nv))
        )
        if not same:
            print(f"trial {trial} model={model} field {kk}: old={ov!r} new={nv!r}")
            kbad += 1
print(f"kernel battery: 200 trials, mismatches={kbad}")
failed = [name for name, count in (
    ("stats battery", bad), ("batch tolerance check", tbad),
    ("kernel battery", kbad)) if count]
if failed:
    sys.exit("FAILED: " + ", ".join(failed))
print("ALL GREEN")
