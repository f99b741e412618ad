"""Trainer small-vocab driver fast path: exact parity with the
distributed merge loop.

The collect-and-finish path (text.py ``_driver_merge_loop``) must pick
the IDENTICAL merge sequence — same argmax, same tie-breaks, same
early-stop — and leave the identical post-merge vocab table as the
per-step distributed loop, for all three merge-trained families
(char BPE, byte BPE, WordPiece). ``driver_threshold=0`` forces the
distributed loop; the default routes these tiny fixtures through the
driver path, so comparing the two runs both."""

import pytest

from nested_pandas_spark.plans.inspect import plan_nodes

TEXTS = [
    "low lower lowest low low",
    "newer newest new low wide",
    None,
    "aaaa haha hahahaha .... aaaa aaaa haha",
    "the quick brown fox jumps over the lazy dog",
    "",
    "repeat repeat repeat unaffable",
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        list(enumerate(TEXTS)), "id long, text string"
    )


def _merge_rows(m):
    return [tuple(r) for r in m.orderBy("step").collect()]


def _vocab_rows(v):
    return sorted((r["word"], r["wc"], r["syms"]) for r in v.collect())


def test_bpe_driver_path_matches_distributed(spark, docs):
    from nested_pandas_spark.pipeline.text import bpe_train

    m_fast, v_fast = bpe_train(docs, 6)
    m_slow, v_slow = bpe_train(docs, 6, driver_threshold=0)
    assert _merge_rows(m_fast) == _merge_rows(m_slow)
    assert _vocab_rows(v_fast) == _vocab_rows(v_slow)
    v_fast.unpersist()
    v_slow.unpersist()


def test_byte_bpe_driver_path_matches_distributed(spark, docs):
    from nested_pandas_spark.pipeline.text import byte_bpe_train

    m_fast, v_fast = byte_bpe_train(docs, 5)
    m_slow, v_slow = byte_bpe_train(docs, 5, driver_threshold=0)
    assert _merge_rows(m_fast) == _merge_rows(m_slow)
    assert _vocab_rows(v_fast) == _vocab_rows(v_slow)
    v_fast.unpersist()
    v_slow.unpersist()


def test_wordpiece_driver_path_matches_distributed(spark, docs):
    from nested_pandas_spark.pipeline.wordpiece import wordpiece_train

    m_fast, v_fast = wordpiece_train(docs, 6)
    m_slow, v_slow = wordpiece_train(docs, 6, driver_threshold=0)
    assert _merge_rows(m_fast) == _merge_rows(m_slow)
    assert _vocab_rows(v_fast) == _vocab_rows(v_slow)
    v_fast.unpersist()
    v_slow.unpersist()


def test_driver_path_early_stop_parity(spark, docs):
    # min_pair_count high enough that training stops before the budget;
    # both paths must stop at the same step
    from nested_pandas_spark.pipeline.text import bpe_train

    m_fast, v_fast = bpe_train(docs, 20, min_pair_count=4)
    m_slow, v_slow = bpe_train(docs, 20, min_pair_count=4,
                               driver_threshold=0)
    assert _merge_rows(m_fast) == _merge_rows(m_slow)
    assert m_fast.count() < 20
    v_fast.unpersist()
    v_slow.unpersist()


def test_threshold_boundary_forces_distributed(spark, docs):
    # threshold below the distinct-word count: the probe must route to
    # the distributed loop (observable: the returned vocab is a snapshot,
    # a checkpointed LogicalRDD, not the driver path's LocalRelation — and
    # never a persisted plan)
    from pyspark import StorageLevel

    from nested_pandas_spark.pipeline.text import bpe_train

    m, v = bpe_train(docs, 2, driver_threshold=1)
    assert next(plan_nodes(v, "analyzed")).name == "LogicalRDD"
    assert v.storageLevel == StorageLevel.NONE
    assert m.count() == 2


def test_driver_loop_wordpiece_scores_are_exact_longs(spark, docs):
    # merge rows carry exact integer n/lc/rc (never floats), driver path
    from nested_pandas_spark.pipeline.wordpiece import wordpiece_train

    m, v = wordpiece_train(docs, 3)
    v.unpersist()
    for r in m.collect():
        assert isinstance(r["n"], int)
        assert isinstance(r["lc"], int) and isinstance(r["rc"], int)
        assert r["n"] <= r["lc"] and r["n"] <= r["rc"]
