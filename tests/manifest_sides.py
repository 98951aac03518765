"""Run manifest-source tests on both sides of the driver-read bound.

``read_manifest_documents`` reads a manifest on the driver when its
entries sum to at most ``inverted_index.SMALL_CORPUS_BYTES`` and scans
it with ``spark.read.text`` above that. Test corpora are small, so the
distributed side is reached by lowering the bound to 0 (the reader
looks it up on every call).
"""

from __future__ import annotations

import contextlib
import functools
import importlib

import pytest

# By module path: the package re-exports a function of the same name.
inverted_index = importlib.import_module("parallel_map_reduce_spark.operators.inverted_index")

SIDES = ("driver", "distributed")


@contextlib.contextmanager
def manifest_side(side: str):
    """Read manifests on ``side`` ("driver" or "distributed") inside."""
    assert side in SIDES, side
    with pytest.MonkeyPatch.context() as mp:
        if side == "distributed":
            mp.setattr(inverted_index, "SMALL_CORPUS_BYTES", 0)
        yield


def on_sides(*sides: str):
    """Run the decorated test once per side, under the test's own id; a
    failure carries a note naming the side it happened on."""

    def wrap(test):
        @functools.wraps(test)
        def run(*args, **kwargs):
            for side in sides:
                with manifest_side(side):
                    try:
                        test(*args, **kwargs)
                    except BaseException as exc:
                        exc.add_note(f"manifest read on the {side} side")
                        raise

        return run

    return wrap
