"""Unit tests of the worker-side kernel helpers (``kernels.py``): the
bounded md5 memo, the fold-order dot, the PQ coder, and the module's
import footprint on a Python worker."""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys

import numpy as np

from parallel_map_reduce_spark import kernels
from parallel_map_reduce_spark.kernels import fold_dot, md5_memo, pq_codes

_KEYS = ["a b c", "x", "a b c", "y", "z", "x", "café", "z", "a b c"]


def _md5_i32(key: str) -> int:
    return int(hashlib.md5(key.encode("utf-8")).hexdigest()[:8], 16)


def test_md5_memo_values_match_hashlib_across_the_cap(monkeypatch):
    """With cap 2 the stream stores 'a b c' and 'x' and hashes every
    later key directly; values on both sides of the cap (stored hits,
    unstored repeats, non-ASCII keys) equal hashlib.md5."""
    monkeypatch.setattr(kernels, "MD5_MEMO_CAP", 2)
    prefix = md5_memo()
    full = md5_memo(full_hex=True)
    for doc in (_KEYS[:3], _KEYS[3:], _KEYS):
        assert prefix(doc) == [_md5_i32(k) for k in doc]
        assert full(doc) == [
            hashlib.md5(k.encode("utf-8")).hexdigest() for k in doc
        ]


def test_fold_dot_keeps_the_sequential_fold_order():
    """Each entry equals a left-to-right Python fold from 0.0, the
    order the JVM ``dot`` aggregate adds in."""
    rng = np.random.default_rng(7)
    a = rng.normal(size=(5, 64))
    b = rng.normal(size=(3, 64))
    got = fold_dot(a, b)
    for i in range(5):
        for j in range(3):
            acc = 0.0
            for x, y in zip(a[i], b[j]):
                acc = acc + x * y
            assert got[i, j] == acc


def test_pq_codes_keep_the_fold_order_and_first_minimum():
    """Each code equals a Python loop over the codebook that folds the
    squared distance left to right from 0.0 and keeps the first
    strict minimum; duplicated codebook rows plant exact ties, which
    go to the lower index."""
    rng = np.random.default_rng(11)
    m, k, w = 3, 6, 4
    books = rng.normal(size=(m, k, w))
    books[:, 4] = books[:, 1]
    x = rng.normal(size=(40, m * w))
    x[:5, :] = books[:, 1].reshape(-1)
    got = pq_codes(x, books.tolist())
    assert got.shape == (40, m) and got.dtype == np.int32
    for i in range(40):
        for s in range(m):
            best, best_d = 0, None
            for j in range(k):
                d = 0.0
                for a, c in zip(x[i, s * w : (s + 1) * w], books[s, j]):
                    d = d + (a - c) * (a - c)
                if best_d is None or d < best_d:
                    best, best_d = j, d
            assert got[i, s] == best
    assert (got[:5] == 1).all()


def test_kernel_closure_runs_without_the_package_on_path(tmp_path):
    """Kernel closures carry the kernels.py helpers by value: a Python
    process that cannot import this package still runs the minhash
    kernel and gets the same rows as this one."""
    import pyarrow as pa
    from pyspark import cloudpickle

    from parallel_map_reduce_spark.operators.dedup import _minhash_rows_fn

    batch = pa.record_batch(
        [
            pa.array([1, 2, 3], type=pa.int64()),
            pa.array(["the quick brown fox jumps", "a b", "Don't stop-me now, ok"]),
        ],
        names=["doc_id", "text"],
    )
    fn_path, batch_path = tmp_path / "fn.pkl", tmp_path / "batch.pkl"
    fn_path.write_bytes(cloudpickle.dumps(_minhash_rows_fn()))
    batch_path.write_bytes(cloudpickle.dumps(batch))
    code = (
        "import pickle, sys; "
        "assert 'parallel_map_reduce_spark' not in sys.modules; "
        "fn = pickle.loads(open(sys.argv[1], 'rb').read()); "
        "b = pickle.loads(open(sys.argv[2], 'rb').read()); "
        "print([o.to_pylist() for o in fn(iter([b]))]); "
        "assert not any(m.startswith('parallel_map_reduce_spark') for m in sys.modules)"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code, str(fn_path), str(batch_path)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    assert out == str([o.to_pylist() for o in _minhash_rows_fn()(iter([batch]))])


def test_kernels_module_imports_no_pyspark():
    """kernels.py loads the package's docstring-only ``__init__`` and
    nothing else from the engine, and never pyspark."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys, parallel_map_reduce_spark.kernels; "
        "print(sorted(m for m in sys.modules if m.startswith("
        "('pyspark', 'py4j', 'pyarrow', 'parallel_map_reduce_spark'))))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=repo,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    assert out == "['parallel_map_reduce_spark', 'parallel_map_reduce_spark.kernels']"
