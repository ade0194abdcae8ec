"""Property tests for the index-build variants: on ARBITRARY corpora
(hypothesis-generated text, including digits/punctuation/non-ASCII that
stress normalization, and few distinct words so df and rank ties are
common), the decomposed-rank build must equal the plain build."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from parallel_inverted_index_map_reduce_spark.operators.index import (
    build_index,
    build_index_scalable,
)

ALPHABET = "abc ZB1.-ä'   "
texts = st.lists(
    st.text(alphabet=ALPHABET, min_size=0, max_size=40), min_size=1, max_size=8
)


def _index_rows(df):
    return sorted(
        (r.letter, r.word, r.df, tuple(r.postings), r.rank) for r in df.collect()
    )


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(txts=texts)
def test_scalable_build_equals_plain_on_random_corpora(spark, txts):
    docs = spark.createDataFrame(
        list(enumerate(txts)), "doc_id long, text string"
    )
    assert _index_rows(build_index_scalable(docs)) == _index_rows(build_index(docs))
