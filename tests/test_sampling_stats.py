"""Corpus statistics operators: token heavy hitters and TF-IDF top terms."""

import pytest


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.01/documents.parquet")


class TestCorpusStats:
    def test_heavy_hitters_ordering(self, docs):
        from hadoop_bam_spark.operators.text import token_heavy_hitters

        rows = token_heavy_hitters(docs, k=10).collect()
        assert len(rows) == 10
        ns = [r.n for r in rows]
        assert ns == sorted(ns, reverse=True)

    def test_tfidf_rare_term_beats_common(self, spark):
        from hadoop_bam_spark.operators.text import tf_idf_top_terms

        df = spark.createDataFrame(
            [
                (1, "common common common unique1"),
                (2, "common common filler fill"),
                (3, "common filler other text"),
            ],
            ["doc_id", "text"],
        )
        rows = tf_idf_top_terms(df, top_terms=1, min_token_len=4).collect()
        top = {r.doc_id: r.token for r in rows}
        # 'common' appears in every doc -> idf 0; doc 1's top term is unique1
        assert top[1] == "unique1"
