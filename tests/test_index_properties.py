"""Property tests for the index-build variants: on ARBITRARY corpora
(hypothesis-generated text, including digits/punctuation/non-ASCII that
stress normalization) and arbitrary chunk granularities, the chunked
build must reassemble to the plain build."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from parallel_inverted_index_map_reduce_spark.operators.index import (
    assemble_chunked_index,
    build_index,
    build_index_chunked,
)

ALPHABET = "abc ZB1.-ä'   "
texts = st.lists(
    st.text(alphabet=ALPHABET, min_size=0, max_size=40), min_size=1, max_size=8
)


def _assembled_rows(df):
    return sorted(
        (r.letter, r.word, r.df, tuple(r.postings), r.rank) for r in df.collect()
    )


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(txts=texts, chunk=st.integers(1, 5))
def test_chunked_build_equals_plain_on_random_corpora(spark, txts, chunk):
    docs = spark.createDataFrame(
        list(enumerate(txts)), "doc_id long, text string"
    )
    plain = _assembled_rows(build_index(docs))
    chunked = build_index_chunked(docs, chunk_size=chunk)
    assert _assembled_rows(assemble_chunked_index(chunked)) == plain
