"""The drop-in CLI must reproduce the reference binary's contract:
same invocation shape, same 26 letter files, golden-equal content,
output independent of the mapper/reducer arguments."""

from __future__ import annotations

import os
import string

import pytest
from manifest_sides import SIDES, manifest_side

from parallel_map_reduce_spark.__main__ import main

REF_SMALL_MANIFEST = "/root/reference/checker/test_small.txt"
REF_SMALL_GOLDEN_DIR = "/root/reference/checker/test_out_small"

needs_reference = pytest.mark.skipif(
    not os.path.exists(REF_SMALL_MANIFEST), reason="reference corpus not present"
)


def _read(path: str) -> list[str]:
    if not os.path.exists(path):
        return []
    with open(path, encoding="utf-8", errors="replace") as fh:
        return [" ".join(ln.split()) for ln in fh.read().splitlines()]


@needs_reference
@pytest.mark.parametrize("mappers", [1, 2, 4])
@pytest.mark.parametrize("reducers", [1, 2, 4])
def test_cli_matches_reference_goldens_full_mr_sweep(spark, tmp_path, mappers, reducers):
    # The reference checker's own gate diffs EVERY M×R in {1,2,4}²
    # against one golden set (checker/checker.sh:141-247); this is the
    # same 9-config sweep on the same small fixture (VERDICT r10 task
    # 6). The spark fixture keeps the shared session; main()
    # getOrCreate()s onto it, so shuffle_partitions becomes a no-op
    # conf set — fine: the CONTRACT is that M/R never affect bytes.
    out = tmp_path / f"m{mappers}r{reducers}"
    assert main([str(mappers), str(reducers), REF_SMALL_MANIFEST, "--out", str(out)]) == 0
    for letter in string.ascii_lowercase:
        golden = _read(os.path.join(REF_SMALL_GOLDEN_DIR, f"{letter}.txt"))
        got = _read(str(out / f"{letter}.txt"))
        assert got == golden, (
            f"{letter}.txt diverges from reference golden at M={mappers} R={reducers}"
        )


def test_cli_rejects_bad_args(tmp_path):
    with pytest.raises(SystemExit):
        main(["0", "1", REF_SMALL_MANIFEST])
    with pytest.raises(SystemExit):
        main(["1", "1", str(tmp_path / "missing.txt")])


def _reference_letter_files(texts: list[str]) -> dict[str, bytes]:
    """The reference's algorithm, inline: each document's distinct
    cleaned words (split on space/tab/newline, keep ASCII letters,
    lowercase, drop empties), posting lists in id order, each letter's
    rows ordered df DESC then word ASC, one ``word:[ids]`` line each."""
    import re

    postings: dict[str, list[int]] = {}
    for doc_id, text in enumerate(texts, 1):
        words = {re.sub("[^A-Za-z]", "", t).lower() for t in re.split("[ \t\n]+", text)}
        for word in words - {""}:
            postings.setdefault(word, []).append(doc_id)
    files = {letter: "" for letter in string.ascii_lowercase}
    for word, ids in sorted(postings.items(), key=lambda kv: (-len(kv[1]), kv[0])):
        files[word[0]] += f"{word}:[{' '.join(map(str, ids))}]\n"
    return {letter: body.encode() for letter, body in files.items()}


@pytest.mark.parametrize("side", SIDES)
def test_cli_mr_sweep_matches_inline_reference(spark, tmp_path, side):
    """The M×R determinism contract without the reference checkout: 60
    documents of refdata/reference_corpus.parquet as files, and every
    (M, R) in {1, 4}² must write the inline reference's 26 files byte
    for byte, on both sides of the manifest's driver-read bound."""
    import pyarrow.parquet as pq

    corpus = os.path.join(os.path.dirname(__file__), "..", "refdata", "reference_corpus.parquet")
    texts = pq.read_table(corpus).sort_by("doc_id").column("text").to_pylist()[:60]
    names = []
    for i, text in enumerate(texts):
        (tmp_path / f"doc{i:03d}.txt").write_text(text, encoding="utf-8")
        names.append(f"doc{i:03d}.txt")
    manifest = tmp_path / "manifest.txt"
    manifest.write_text(f"{len(names)}\n" + "\n".join(names) + "\n")
    want = _reference_letter_files(texts)
    assert sum(map(len, want.values())) > 1000
    with manifest_side(side):
        for mappers, reducers in [(1, 1), (1, 4), (4, 1), (4, 4)]:
            out = tmp_path / f"m{mappers}r{reducers}"
            assert main([str(mappers), str(reducers), str(manifest), "--out", str(out)]) == 0
            got = {letter: (out / f"{letter}.txt").read_bytes() for letter in want}
            assert got == want, f"M={mappers} R={reducers}"
