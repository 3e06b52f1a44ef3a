"""The exact primitives the embedding kernels share are closure-complete.

`similarity._exact_ops` returns them as nested functions, so a kernel
builder's closure carries them BY VALUE and an executor that cannot
import this package still runs them.  A module-level helper would
pickle by reference and fail there with ``ModuleNotFoundError``.

Checked without a JVM: the primitives are pickled with PySpark's
cloudpickle (what Spark ships in a task's command), then unpickled and
run in a fresh interpreter whose cwd, ``sys.path`` and ``PYTHONPATH``
exclude the repository.  The inputs hit the exact paths: values on a
10-dp HALF_UP boundary (where ``np.rint`` would round half to even)
and a two-centroid distance tie (→ the lower cid).
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys

import numpy as np
import pandas as pd
from pyspark import cloudpickle

from healthkit_to_sqlite_spark.operators.similarity import _exact_ops

#: 2.5e-10 and ±x.xxxxxxxxx5 sit on a 10-dp rounding boundary: HALF_UP
#: gives 3, 1234567891 and −10000000001 units of 1e-10 (half-even
#: ``np.rint`` would give 2 and 1234567890)
BOUNDARY = np.array([2.5e-10, 0.12345678905, -1.00000000005, 0.3])
#: one row equidistant (1.0) from cid 7 and cid 3
TIE_X = np.array([[0.0, 0.0], [0.9, 0.1]])
TIE_C = np.array([[1.0, 0.0], [-1.0, 0.0]])
TIE_CIDS = np.array([7, 3], dtype=np.int64)
SERIES = pd.Series([np.array([0.5, -1.25], dtype=np.float32),
                    np.array([3.0, 0.1], dtype=np.float32)])


#: (primitive, args) — applied alike in-process and in the child
CALLS = [
    ("matrix", (SERIES, 2)),
    ("l2sq", (TIE_X, TIE_C)),
    ("nearest", (TIE_X, TIE_C, TIE_CIDS)),
    ("quantize", (BOUNDARY, 10)),
    ("quantize", (np.array([0.0200000005, 1.0]), 9)),
]


def _run(ops):
    return [getattr(ops, name)(*args) for name, args in CALLS]


#: the child: refuse to run if this package is importable, then unpickle
#: the primitives + calls from stdin and pickle the results to stdout
CHILD = """
import importlib.util, pickle, sys
if importlib.util.find_spec("healthkit_to_sqlite_spark") is not None:
    sys.exit("the package is importable from the child")
ops, calls = pickle.loads(sys.stdin.buffer.read())
out = [getattr(ops, name)(*args) for name, args in calls]
sys.stdout.buffer.write(pickle.dumps(out))
"""


def test_exact_paths_take_half_up_and_lowest_cid():
    _, _, (idx, dist), q10, q9 = _run(_exact_ops())
    assert q10.tolist() == [3, 1234567891, -10000000001, 3000000000]
    assert q9.tolist() == [20000001, 1000000000]
    assert TIE_CIDS[idx].tolist() == [3, 7]
    assert dist.tolist() == [1.0, 0.02]


def test_primitives_run_where_the_package_is_not_importable(tmp_path):
    payload = cloudpickle.dumps((_exact_ops(), CALLS))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-I", "-c", CHILD], input=payload,
        capture_output=True, cwd=tmp_path, env=env, timeout=120)
    assert proc.returncode == 0, proc.stderr.decode()[-2000:]
    remote = pickle.loads(proc.stdout)
    local = _run(_exact_ops())
    assert len(remote) == len(local)
    for (name, _), r, loc in zip(CALLS, remote, local):
        pairs = zip(r, loc) if name == "nearest" else [(r, loc)]
        for r_arr, loc_arr in pairs:
            assert r_arr.dtype == loc_arr.dtype, name
            assert np.array_equal(r_arr, loc_arr), name
