from pyspark import cloudpickle

from .. import kernels

# Ship kernels.py inside each Arrow kernel closure that calls it, so a
# Python worker needs no import path to this package.
cloudpickle.register_pickle_by_value(kernels)

from .tokenize import (
    tokenize,
    normalize_tokens,
    filter_empty,
    distinct_pairs,
    doc_word_pairs,
    clean_word_col,
)
from .inverted_index import (
    build_postings,
    rank_within_letter,
    format_index_rows,
    inverted_index,
)

__all__ = [
    "tokenize",
    "normalize_tokens",
    "filter_empty",
    "distinct_pairs",
    "doc_word_pairs",
    "clean_word_col",
    "build_postings",
    "rank_within_letter",
    "format_index_rows",
    "inverted_index",
]
