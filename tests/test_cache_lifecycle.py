"""Cache lifecycle: no public operator leaves a cached plan behind.

Every persist and local checkpoint in the package goes through
``session.cached`` (the operator owns the cache and releases it before it
returns) or ``session.snapshot`` (an eager local checkpoint whose blocks
live as long as the result frame). So after an operator's result has been
consumed, the session's CacheManager must be empty again. For operators
that only use ``cached``, the persisted-RDD census must not have grown
either (a snapshot's checkpoint RDD legitimately stays registered until
the result frame is garbage-collected, so it is not counted for them).
"""

import pytest

TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy dog again",
    "a lazy dog sleeps all day under the old brown tree",
    "low lower lowest newer newest wider widest",
    None,
]


def _docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string")


def _vectors(spark, n=24, start=0):
    return spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) - 2.0 for j in range(4)])
         for i in range(start, start + n)],
        "vec_id long, embedding array<double>")


def _pairs(spark):
    return spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 5)], "id_a long, id_b long")


def _nested(spark):
    from nested_pandas_spark import NestedFrame

    child = spark.createDataFrame(
        [(i % 3, float(i), float(i * 2)) for i in range(12)],
        "id long, t double, flux double")
    objects = spark.createDataFrame([(i,) for i in range(3)], "id long")
    return NestedFrame(objects).join_nested(child, "nested", on="id").df


def _bpe_train_distributed(spark, tmp_path):
    from nested_pandas_spark.pipeline.text import bpe_train

    # 3 steps at checkpoint_every=2: step 2 is a snapshot, step 3 a
    # persisted state the trainer must hand back as a snapshot
    m, v = bpe_train(_docs(spark), 3, driver_threshold=0, checkpoint_every=2)
    return m.count() + v.count()


def _byte_bpe_train_distributed(spark, tmp_path):
    from nested_pandas_spark.pipeline.text import byte_bpe_train

    m, v = byte_bpe_train(
        _docs(spark), 3, driver_threshold=0, checkpoint_every=2)
    return m.count() + v.count()


def _wordpiece_train_distributed(spark, tmp_path):
    from nested_pandas_spark.pipeline.wordpiece import wordpiece_train

    m, v = wordpiece_train(
        _docs(spark), 3, driver_threshold=0, checkpoint_every=2)
    return m.count() + v.count()


def _bpe_encode_vocab(spark, tmp_path):
    from nested_pandas_spark.pipeline.text import bpe_encode_vocab, bpe_train

    m, v = bpe_train(_docs(spark), 4)
    return bpe_encode_vocab(_docs(spark), v, m).count()


def _unigram_logprob(spark, tmp_path):
    from nested_pandas_spark.pipeline.text import unigram_logprob

    return unigram_logprob(_docs(spark)).count()


def _bigram_logprob(spark, tmp_path):
    from nested_pandas_spark.pipeline.text import bigram_logprob

    return bigram_logprob(_docs(spark)).count()


def _kn_bigram_logprob(spark, tmp_path):
    from nested_pandas_spark.pipeline.text import kn_bigram_logprob

    return kn_bigram_logprob(_docs(spark)).count()


def _connected_components(threshold):
    def run(spark, tmp_path):
        from nested_pandas_spark.pipeline.dedup import connected_components

        return connected_components(
            _pairs(spark), small_graph_threshold=threshold).count()
    return run


def _ngram_jaccard_candidates(spark, tmp_path):
    from nested_pandas_spark.pipeline.dedup import ngram_jaccard_pairs

    cands = spark.createDataFrame([(0, 1), (1, 2)], "id_a long, id_b long")
    return ngram_jaccard_pairs(
        _docs(spark), "doc_id", threshold=0.1, candidates=cands).count()


def _pack_sequences(spark, tmp_path):
    from nested_pandas_spark.pipeline.corpus import pack_sequences

    return pack_sequences(_docs(spark), capacity=8).count()


def _clean_corpus(spark, tmp_path):
    from nested_pandas_spark.pipeline.corpus import clean_corpus

    return clean_corpus(
        _docs(spark), min_quality=0.0, num_hashes=8, bands=4,
        min_bigram_logprob=-100.0).count()


def _pagerank(spark, tmp_path):
    from nested_pandas_spark.pipeline.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long")
    return pagerank(edges, iters=2).count()


def _rebin(spark, tmp_path):
    from nested_pandas_spark import rebin

    return rebin(_nested(spark), "nested", "t", 4.0).count()


def _unigram_train(spark, tmp_path):
    from nested_pandas_spark.pipeline.unigram import unigram_train

    return unigram_train(_docs(spark), 16, n_iters=2).count()


def _train_quality_classifier(spark, tmp_path):
    from pyspark.sql import functions as F

    from nested_pandas_spark.pipeline.classifier import (
        train_quality_classifier,
    )

    docs = _docs(spark).withColumn("y", (F.col("doc_id") % 2).cast("double"))
    return train_quality_classifier(docs, "y", dim=8, epochs=2).count()


def _pq_codebooks_refined(spark, tmp_path):
    from nested_pandas_spark.pipeline.similarity import pq_codebooks

    return len(pq_codebooks(
        _vectors(spark), n_sub=2, n_centroids=3, n_iters=2))


def _ivf_write_append(spark, tmp_path):
    from nested_pandas_spark.sources.ivf_store import (
        append_ivf_index,
        write_ivf_index,
    )

    path = str(tmp_path / "ivf")
    write_ivf_index(_vectors(spark), path, n_centroids=3, n_iters=2)
    return append_ivf_index(_vectors(spark, 6, start=100), path)


def _lsh_write_append(spark, tmp_path):
    from nested_pandas_spark.sources.lsh_store import (
        append_lsh_index,
        write_lsh_index,
    )

    path = str(tmp_path / "lsh")
    write_lsh_index(_vectors(spark), path, num_planes=4)
    return append_lsh_index(_vectors(spark, 6, start=100), path)


# (operator, uses only operator-owned caches)
CASES = {
    "bpe_train": (_bpe_train_distributed, False),
    "byte_bpe_train": (_byte_bpe_train_distributed, False),
    "wordpiece_train": (_wordpiece_train_distributed, False),
    "bpe_encode_vocab": (_bpe_encode_vocab, False),
    "unigram_logprob": (_unigram_logprob, False),
    "bigram_logprob": (_bigram_logprob, False),
    "kn_bigram_logprob": (_kn_bigram_logprob, False),
    "connected_components_distributed": (_connected_components(0), False),
    "connected_components_small": (_connected_components(100), True),
    "ngram_jaccard_pairs_candidates": (_ngram_jaccard_candidates, False),
    "pack_sequences": (_pack_sequences, False),
    "clean_corpus": (_clean_corpus, False),
    "pagerank": (_pagerank, False),
    "rebin": (_rebin, True),
    "unigram_train": (_unigram_train, True),
    "train_quality_classifier": (_train_quality_classifier, True),
    "pq_codebooks_refined": (_pq_codebooks_refined, True),
    "ivf_write_append": (_ivf_write_append, True),
    "lsh_write_append": (_lsh_write_append, True),
}


@pytest.fixture
def clean_cache(spark):
    spark.catalog.clearCache()
    return spark


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("name", list(CASES))
def test_operator_leaves_no_cache(clean_cache, tmp_path, name):
    spark = clean_cache
    run, operator_owned = CASES[name]
    before = _persistent_rdds(spark)
    run(spark, tmp_path)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), name
    if operator_owned:
        assert _persistent_rdds(spark) <= before, name
