import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from parallel_map_reduce_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")
    spark = get_spark(app_name="pmrs-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


_REF_CORPUS_PARQUET = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "refdata",
    "reference_corpus.parquet",
)


@pytest.fixture(scope="session")
def reference_manifest(tmp_path_factory):
    """Path of a manifest of the reference's 355-chapter corpus.

    The real ``checker/test.txt`` is preferred whenever it exists and is
    returned unchanged. Otherwise the 355 texts of the committed
    ``refdata/reference_corpus.parquet`` (the manifest-order copy landed
    by ``tools/land_reference_corpus.py``) are written out as files,
    with a manifest in the reference's format (``N``, then N paths
    relative to the manifest; see ``parse_manifest``)."""
    import pyarrow.parquet as pq

    from parallel_map_reduce_spark.queries.core import _REF_MANIFEST

    if os.path.exists(_REF_MANIFEST):
        return _REF_MANIFEST

    rows = pq.read_table(_REF_CORPUS_PARQUET).sort_by("doc_id").to_pylist()
    base = tmp_path_factory.mktemp("reference_corpus")
    rels = []
    for r in rows:
        rel = f"chapter_{r['doc_id']}.txt"
        (base / rel).write_bytes(r["text"].encode("utf-8"))
        rels.append(rel)
    manifest = base / "test.txt"
    manifest.write_text("\n".join([str(len(rels)), *rels]) + "\n", encoding="utf-8")
    return str(manifest)
