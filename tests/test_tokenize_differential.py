"""Differential tests of the tokenization contract (split on space/tab/
newline, keep ASCII letters lowercased, drop empties — reference
src/tema1.cpp:88-99,142-166) over a seeded random corpus that stresses
edge shapes the parquet fixtures don't contain. Two subjects: the Spark
pipeline vs an independent pure-Python reference, and the Arrow kernels'
tokenizer (``kernels.ascii_words``) vs the JVM word arrays."""

from __future__ import annotations

import random
import string

from parallel_map_reduce_spark.kernels import ascii_words
from parallel_map_reduce_spark.operators.dedup import clean_words_array
from parallel_map_reduce_spark.operators.tokenize import doc_word_pairs


def _python_reference(text: str) -> set[str]:
    words = set()
    for tok in text.replace("\n", " ").replace("\t", " ").split(" "):
        w = "".join(ch.lower() for ch in tok if ch.isalpha() and ch.isascii())
        if w:
            words.add(w)
    return words


def _random_corpus(n_docs: int, seed: int = 1234) -> list[tuple[int, str]]:
    rng = random.Random(seed)
    alphabet = (
        string.ascii_letters + string.digits + "  \t\n" + "'-,.!?:;()[]" + "éüñ中文🎉"
    )
    docs = []
    for i in range(n_docs):
        n = rng.randint(0, 400)
        docs.append((i + 1, "".join(rng.choice(alphabet) for _ in range(n))))
    # deliberate edge shapes
    docs += [
        (n_docs + 1, ""),
        (n_docs + 2, "   \t\n  "),
        (n_docs + 3, "123 456 !!!"),
        (n_docs + 4, "don't well-known Hello, WORLD"),
        (n_docs + 5, "a" * 5000),
        (n_docs + 6, "x y " * 500),
        # Python lowers both of these to ASCII letters ("İ" -> "i" plus
        # a combining dot, Kelvin sign -> "k"): only strip-then-lower
        # drops them, as the engine does.
        (n_docs + 7, "\u0130stanbul \u0130 caf\u0130e"),
        (n_docs + 8, "273\u212a \u212aelvin a\u212ab"),
    ]
    return docs


def test_tokenizer_matches_python_reference(spark):
    docs = _random_corpus(200)
    sdf = spark.createDataFrame(docs, schema="doc_id LONG, text STRING")
    got: dict[int, set[str]] = {}
    for r in doc_word_pairs(sdf).collect():
        got.setdefault(r.doc_id, set()).add(r.word)
    for doc_id, text in docs:
        want = _python_reference(text)
        assert got.get(doc_id, set()) == want, f"doc {doc_id}: {text[:60]!r}"


def test_kernel_tokenizer_matches_jvm_word_arrays(spark):
    """The Arrow kernels' tokenizer must give the JVM
    ``clean_words_array`` list, in order, for every document."""
    docs = _random_corpus(200)
    sdf = spark.createDataFrame(docs, schema="doc_id LONG, text STRING")
    got = {r.doc_id: list(r.words) for r in clean_words_array(sdf).collect()}
    assert len(got) == len(docs)
    for doc_id, text in docs:
        assert ascii_words(text) == got[doc_id], f"doc {doc_id}: {text[:60]!r}"
