"""Self-test of the benchmark's output checks, without Spark.

    python3 perfbench/selftest.py [seed]

For every check of every workload it plants defects in the expected
columns and shows that the digest comparison rejects each one: one
dropped row, and one perturbed value in every column (a float moved by
one ULP, an integer by one, a flag flipped, a string extended). It
also shows that a row permutation still passes, and that a rejected
digest counts as failed operations in the workload's result. Exit code
0 when every planted defect was caught.
"""

from __future__ import annotations

import sys

import numpy as np

import datagen
import reference
import workloads


def perturbed(col: np.ndarray, i: int) -> np.ndarray:
    out = np.array(col, copy=True)
    kind = out.dtype.kind
    if kind == "f":
        out[i] = 1.0 if np.isnan(out[i]) else np.nextafter(out[i], np.inf)
    elif kind in "iu":
        out[i] += 1
    elif kind == "b":
        out[i] = not out[i]
    else:
        out[i] = f"{out[i]}x"
    return out


def main(argv: list[str]) -> int:
    seed = int(argv[0]) if argv else 1
    rng = np.random.default_rng(seed)
    caught = planted = 0
    for workload, columns in reference.COLUMNS.items():
        for name, cols in columns(seed, datagen.SIZES[workload]).items():
            want = reference.digest(cols)
            n = len(cols[0])
            perm = rng.permutation(n)
            if reference.digest([c[perm] for c in cols]) != want:
                print(f"FAIL {workload}/{name}: a row permutation changed the digest")
                return 1
            i = int(rng.integers(n))
            defects = {"drop row": [np.delete(c, i) for c in cols]}
            for j in range(len(cols)):
                defects[f"perturb column {j}"] = [
                    perturbed(c, i) if k == j else c for k, c in enumerate(cols)
                ]
            for label, bad in defects.items():
                planted += 1
                ctx = workloads.Ctx(None, "", "", {"expected": {name: want}}, 1, None)
                ctx.check(name, reference.digest(bad), 1)
                if ctx.res.failed == 1 and ctx.res.mismatches:
                    caught += 1
                else:
                    print(f"FAIL {workload}/{name}: {label} (row {i}) passed the check")
            print(f"{workload}/{name}: {n} rows, {len(defects)} planted defects")
    print(f"caught {caught} of {planted} planted defects")
    return 0 if caught == planted else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
