"""Self-test of the benchmark's own machinery; needs no Spark session.

    python3 perfbench/selftest.py      # from the repo root

- The generator is a function of the seed: the same seed writes the
  same bytes, another seed writes different ones.
- The output checks catch a planted error: one corrupted posting in a
  letter file, one dropped near-duplicate pair, one wrong BM25 score.
"""

from __future__ import annotations

import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402


def _digests(seed: int, tmp: str, tag: str) -> dict[str, str]:
    out = {}
    for w in ("index_build", "neardup", "serve"):
        d = os.path.join(tmp, f"{tag}-{w}")
        gen.generate(seed, ROOT, d, w)
        out[w] = gen.tree_digest(d)
    return out


def main() -> int:
    failures = []
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".perfbench_selftest_") as tmp:
        a, b, c = _digests(7, tmp, "a"), _digests(7, tmp, "b"), _digests(8, tmp, "c")
        for w in a:
            if a[w] != b[w]:
                failures.append(f"{w}: same seed gave different inputs")
            if a[w] == c[w]:
                failures.append(f"{w}: different seeds gave the same inputs")

        # index_build: the program's files, as a correct run leaves them.
        texts = checks.read_corpus(os.path.join(tmp, "a-index_build", "corpus", "manifest.txt"))
        files = checks.letter_files(texts)
        want = checks.letter_digests(files)
        out = os.path.join(tmp, "out")
        os.makedirs(out)
        for letter, body in files.items():
            with open(os.path.join(out, f"{letter}.txt"), "wb") as fh:
                fh.write(body)
        if checks.letter_mismatches(want, checks.read_letter_digests(out)):
            failures.append("index_build: correct letter files were rejected")
        # Corrupt one posting: the last id of the first multi-document row.
        lines = files["t"].decode().splitlines(keepends=True)
        i = next(i for i, ln in enumerate(lines) if " " in ln)
        word, ids = lines[i].rstrip("]\n").split(":[")
        ids = ids.split(" ")
        ids[-1] = str(int(ids[-1]) + 1)
        lines[i] = f"{word}:[{' '.join(ids)}]\n"
        with open(os.path.join(out, "t.txt"), "w") as fh:
            fh.write("".join(lines))
        if checks.letter_mismatches(want, checks.read_letter_digests(out)) != ["t"]:
            failures.append("index_build: a corrupted posting was not caught")

        # neardup: drop one expected pair.
        info = gen.write_neardup(7, ROOT, os.path.join(tmp, "nd"))
        cand, jac = checks.neardup_expected(info["documents"])
        got_jac = sorted((a, b, j) for (a, b), j in jac.items())
        if not checks.neardup_ok(sorted(cand), got_jac, cand, jac):
            failures.append("neardup: the oracle's own pairs were rejected")
        if checks.neardup_ok(sorted(cand)[1:], got_jac, cand, jac):
            failures.append("neardup: a dropped candidate pair was not caught")

        # serve: nudge one BM25 score.
        bm25 = checks.Bm25(texts)
        terms = bm25.requests(7, 1)[0]
        ranked = bm25.rank(terms)
        bad = [(d, s + 0.01 * (k == 0), r) for k, (d, s, r) in enumerate(ranked)]
        if not checks.bm25_ok(ranked, bm25.rank(terms)) or checks.bm25_ok(bad, ranked):
            failures.append("serve: BM25 comparison is not exact enough")

    for f in failures:
        print("FAIL", f)
    print("selftest", "failed" if failures else "ok")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
