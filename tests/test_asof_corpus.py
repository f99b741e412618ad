"""as-of join, range join, and corpus-cleaning composition tests."""

import pytest
from pyspark.sql import functions as F

from nested_pandas_spark.operators.asof import asof_join, range_join
from nested_pandas_spark.pipeline.corpus import clean_corpus


@pytest.fixture(scope="module")
def trades_quotes(spark):
    trades = spark.createDataFrame(
        [(1, "A", 100), (2, "A", 205), (3, "B", 150), (4, "B", 90)],
        "trade_id long, sym string, ts long",
    )
    quotes = spark.createDataFrame(
        [("A", 50, 10.0), ("A", 200, 11.0), ("B", 100, 20.0), ("B", 150, 21.0)],
        "sym string, ts long, px double",
    )
    return trades, quotes


def test_asof_join_directions(trades_quotes):
    trades, quotes = trades_quotes
    fwd = asof_join(trades, quotes, on="sym", ts="ts", right_cols=["px"],
                    direction="forward")
    d = {r["trade_id"]: (r["px_right"], r["ts_right"]) for r in fwd.collect()}
    assert d[1] == (11.0, 200)   # A@100 -> next quote@200
    assert d[2] == (None, None)  # A@205: nothing at-or-after
    assert d[3] == (21.0, 150)   # inclusive
    assert d[4] == (20.0, 100)   # B@90 -> quote@100
    near = asof_join(trades, quotes, on="sym", ts="ts", right_cols=["px"],
                     direction="nearest")
    n = {r["trade_id"]: r["ts_right"] for r in near.collect()}
    assert n[1] == 50     # |100-50| = 50 < |200-100|
    assert n[2] == 200
    assert n[3] == 150
    assert n[4] == 100


def test_asof_join_matches_pandas_merge_asof(spark):
    """Golden parity with pandas.merge_asof on randomized data, across all
    directions x strict x tolerance."""
    import random

    import pandas as pd

    rng = random.Random(7)
    left_rows = sorted(
        (rng.choice("AB"), rng.randrange(0, 1000)) for _ in range(60)
    )
    # unique right ts per key: merge_asof's pick among equal-ts duplicates
    # is positional, not value-deterministic
    right_ts = {k: rng.sample(range(0, 1000), 25) for k in "AB"}
    right_rows = [(k, t, float(t) / 10) for k in "AB" for t in right_ts[k]]
    lp = pd.DataFrame(left_rows, columns=["sym", "ts"]).sort_values("ts")
    lp["lid"] = range(len(lp))
    rp = pd.DataFrame(right_rows, columns=["sym", "ts", "px"]).sort_values("ts")
    ls = spark.createDataFrame(lp, "sym string, ts long, lid long")
    rs = spark.createDataFrame(rp, "sym string, ts long, px double")

    for direction in ("backward", "forward", "nearest"):
        for strict in (False, True):
            for tol in (None, 50):
                if direction == "nearest" and strict:
                    continue  # merge_asof forbids this combination
                want_df = pd.merge_asof(
                    lp, rp, on="ts", by="sym", direction=direction,
                    allow_exact_matches=not strict, tolerance=tol,
                )
                want = {
                    int(r.lid): (None if pd.isna(r.px) else r.px)
                    for r in want_df.itertuples()
                }
                got_df = asof_join(
                    ls, rs, on="sym", ts="ts", right_cols=["px"],
                    direction=direction, strict=strict, tolerance=tol,
                )
                got = {r["lid"]: r["px_right"] for r in got_df.collect()}
                assert got == want, (direction, strict, tol)


def test_asof_join_basic(trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(trades, quotes, on="sym", ts="ts", right_cols=["px"])
    d = {r["trade_id"]: (r["px_right"], r["ts_right"]) for r in out.collect()}
    assert d[1] == (10.0, 50)    # A@100 -> quote@50
    assert d[2] == (11.0, 200)   # A@205 -> quote@200
    assert d[3] == (21.0, 150)   # B@150 -> quote@150 (inclusive)
    assert d[4] == (None, None)  # B@90: no quote at-or-before 90


def test_asof_join_no_match_is_null(trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(trades, quotes, on="sym", ts="ts", right_cols=["px"])
    d = {r["trade_id"]: r["px_right"] for r in out.collect()}
    assert d[4] is None  # B@90 has no earlier quote


def test_asof_join_strict(trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(trades, quotes, on="sym", ts="ts", right_cols=["px"], strict=True)
    d = {r["trade_id"]: r["px_right"] for r in out.collect()}
    assert d[3] == 20.0  # B@150 must NOT see the equal-ts quote


def test_asof_join_tolerance(trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(trades, quotes, on="sym", ts="ts", right_cols=["px"], tolerance=10)
    d = {r["trade_id"]: r["px_right"] for r in out.collect()}
    assert d[1] is None   # gap 50 > 10
    assert d[2] == 11.0   # gap 5 <= 10


def test_range_join(spark):
    points = spark.createDataFrame(
        [(1, "A", 105), (2, "A", 250), (3, "A", 400)], "pid long, k string, ts long"
    )
    intervals = spark.createDataFrame(
        [("A", 100, 200, "i1"), ("A", 240, 260, "i2")],
        "k string, s long, e long, label string",
    )
    out = range_join(points, intervals, on="k", left_ts="ts",
                     right_start="s", right_end="e", bucket=50)
    d = {r["pid"]: r["label"] for r in out.collect()}
    assert d == {1: "i1", 2: "i2"}  # pid 3 matches nothing


def test_range_join_negative_ts(spark):
    """Bucket assignment must floor-divide: truncation toward zero would
    put -1 and +1 in the same bucket and miss boundary intervals."""
    points = spark.createDataFrame(
        [(1, "A", -105), (2, "A", -1), (3, "A", 1)], "pid long, k string, ts long"
    )
    intervals = spark.createDataFrame(
        [("A", -150, -100, "neg"), ("A", -10, 10, "cross")],
        "k string, s long, e long, label string",
    )
    out = range_join(points, intervals, on="k", left_ts="ts",
                     right_start="s", right_end="e", bucket=50)
    d = {r["pid"]: r["label"] for r in out.collect()}
    assert d == {1: "neg", 2: "cross", 3: "cross"}


def test_range_join_epoch_nano_exact(spark):
    """Bucket arithmetic on int64 epoch-nano-scale values (~2^60) must be
    exact: a double round-trip has ulp ~256 at this magnitude, so a point
    sitting within fp-error of a bucket boundary can land one bucket off
    its containing interval and silently miss. Brute force is the oracle."""
    import random

    rng = random.Random(42)
    base = 1 << 60
    bucket = 86_400_000_000_000  # one day in ns
    pts, ivs = [], []
    for i in range(200):
        # half the points sit exactly on / within a few ns of a bucket edge
        edge = base + rng.randrange(0, 50) * bucket
        delta = rng.choice([-2, -1, 0, 1, 2]) if i % 2 == 0 else rng.randrange(bucket)
        pts.append((i, "K", edge + delta))
    for j in range(80):
        s = base + rng.randrange(0, 50) * bucket + rng.choice(
            [0, -1, 1, rng.randrange(bucket)])
        e = s + rng.randrange(1, 3 * bucket)
        ivs.append(("K", s, e, j))
    points = spark.createDataFrame(pts, "pid long, k string, ts long")
    intervals = spark.createDataFrame(ivs, "k string, s long, e long, iid long")
    out = range_join(points, intervals, on="k", left_ts="ts",
                     right_start="s", right_end="e", bucket=bucket)
    got = sorted((r["pid"], r["iid"]) for r in out.collect())
    want = sorted(
        (pid, iid)
        for pid, _, ts in pts
        for _, s, e, iid in ivs
        if s <= ts < e
    )
    assert got == want


def test_interval_join_epoch_nano_exact(spark):
    """interval_join overlap pairs vs brute force on ~2^60 int64 bounds;
    also proves the first-live-bucket dedup emits each pair exactly once."""
    import random

    from nested_pandas_spark.operators.asof import interval_join

    rng = random.Random(7)
    base = 1 << 60
    bucket = 3_600_000_000_000  # one hour in ns
    aa, bb = [], []
    for i in range(120):
        s = base + rng.randrange(0, 30) * bucket + rng.choice([-1, 0, 1])
        e = s + rng.randrange(1, 4 * bucket)
        aa.append((i, "K", s, e))
    for j in range(120):
        s = base + rng.randrange(0, 30) * bucket + rng.choice([-1, 0, 1])
        e = s + rng.randrange(1, 4 * bucket)
        bb.append((j, "K", s, e))
    a = spark.createDataFrame(aa, "aid long, k string, s long, e long")
    b = spark.createDataFrame(bb, "bid long, k string, s long, e long")
    out = interval_join(a, b, "k", "s", "e", "s_right", "e_right",
                        bucket=bucket)
    got = [(r["aid"], r["bid"]) for r in out.collect()]
    assert len(got) == len(set(got)), "duplicate pair emissions"
    want = sorted(
        (ai, bi)
        for ai, _, as_, ae in aa
        for bi, _, bs, be in bb
        if as_ < be and bs < ae
    )
    assert sorted(got) == want


def test_range_join_rejects_fractional_bucket_on_int64(spark):
    from nested_pandas_spark.operators.asof import interval_join

    points = spark.createDataFrame([(1, "A", 5)], "pid long, k string, ts long")
    intervals = spark.createDataFrame([("A", 0, 10, "i")],
                                      "k string, s long, e long, label string")
    with pytest.raises(ValueError, match="positive integer"):
        range_join(points, intervals, on="k", left_ts="ts",
                   right_start="s", right_end="e", bucket=0.5)
    a = spark.createDataFrame([(1, "A", 0, 10)], "aid long, k string, s long, e long")
    with pytest.raises(ValueError, match="positive integer"):
        interval_join(a, a.withColumnRenamed("aid", "bid"), "k",
                      "s", "e", "s_right", "e_right", bucket=2.5)


def test_range_join_float_axis_still_works(spark):
    points = spark.createDataFrame(
        [(1, "A", 105.5), (2, "A", 250.25)], "pid long, k string, ts double"
    )
    intervals = spark.createDataFrame(
        [("A", 100.0, 200.0, "i1"), ("A", 240.0, 260.0, "i2")],
        "k string, s double, e double, label string",
    )
    out = range_join(points, intervals, on="k", left_ts="ts",
                     right_start="s", right_end="e", bucket=50)
    d = {r["pid"]: r["label"] for r in out.collect()}
    assert d == {1: "i1", 2: "i2"}


def test_clean_corpus(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and then it runs far away "
        "into the woods where it was seen for a long time by many other animals "
    ) * 3
    rows = [
        (1, base),
        (2, base),                          # exact dup of 1 -> dropped
        (3, base + "with one tiny change"), # near dup of 1 -> dropped
        (4, "zz!!"),                        # low quality -> dropped
        (5, ("completely different text about engines and data processing that is "
             "long enough to pass the quality gate and it is full of the usual "
             "english stopwords so that it scores well on that axis too ") * 3),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = clean_corpus(docs, min_quality=0.5, near_dup_threshold=0.6,
                       num_hashes=8, bands=4, shingle_n=3)
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [1, 5]

    # classifier stage: an impossible threshold empties the corpus, a
    # trivial one changes nothing
    none_kept = clean_corpus(docs, min_quality=0.5, near_dup_threshold=0.6,
                             num_hashes=8, bands=4, shingle_n=3,
                             model_threshold=1.1)
    assert none_kept.count() == 0
    same = clean_corpus(docs, min_quality=0.5, near_dup_threshold=0.6,
                        num_hashes=8, bands=4, shingle_n=3,
                        model_threshold=0.0)
    assert sorted(r["doc_id"] for r in same.collect()) == [1, 5]


def test_decontaminate(spark):
    from nested_pandas_spark.pipeline.corpus import decontaminate

    leak = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words = one 8-gram
    docs = spark.createDataFrame(
        [
            (1, f"prefix words here {leak} and a suffix tail"),  # contaminated
            (2, "totally unrelated text about engines and parquet data files"),
            (3, "short"),                                        # < n words
            (4, f"{leak} {leak}"),                               # multiple hits
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, f"question: {leak} answer: irrelevant")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_bench_ngrams"], r["contaminated"])
        for r in decontaminate(docs, bench, ngram_n=8).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert out[1][1] and out[1][0] >= 1
    assert out[2] == (0, False)
    assert out[3] == (0, False)
    assert out[4][1]


def test_decontaminate_min_hits(spark):
    from nested_pandas_spark.pipeline.corpus import decontaminate

    leak = "one two three four five"
    docs = spark.createDataFrame(
        [(1, f"{leak} unrelated trailing words follow here")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(9, leak)], "doc_id long, text string")
    # exactly one shared distinct 5-gram -> below a min_hits=2 bar
    out = decontaminate(docs, bench, ngram_n=5, min_hits=2).collect()[0]
    assert out["n_bench_ngrams"] == 1 and not out["contaminated"]


def test_pack_sequences(spark):
    from nested_pandas_spark.pipeline.corpus import pack_sequences

    # token counts: 3, 4, 5, 2  -> starts 0, 3, 7, 12 at capacity 5
    docs = spark.createDataFrame(
        [
            (1, "a b c"),
            (2, "d e f g"),
            (3, "h i j k l"),
            (4, "m n"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["bin_id"], r["bin_offset"])
        for r in pack_sequences(docs, capacity=5).collect()
    }
    assert out == {1: (3, 0, 0), 2: (4, 0, 3), 3: (5, 1, 2), 4: (2, 2, 2)}

    # NULL text has no token count and adds nothing to the stream, also
    # when a range partition holds only NULL-text docs
    for rows, want in (
        ([(1, "a b"), (2, None), (3, "c")],
         {1: (2, 0, 0), 2: (None, None, None), 3: (1, 0, 2)}),
        ([(1, None), (2, None)],
         {1: (None, None, None), 2: (None, None, None)}),
    ):
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: (r["n_tokens"], r["bin_id"], r["bin_offset"])
            for r in pack_sequences(docs, capacity=5).collect()
        }
        assert out == want


def test_pack_sequences_checkpoint_identical(spark, tmp_path):
    """checkpoint=True must produce the exact same offsets as the snapshot
    path (it pins the same partitioned projection, reliably), and must
    demand a checkpoint dir up front."""
    from nested_pandas_spark.pipeline.corpus import assign_shards, pack_sequences

    docs = spark.createDataFrame(
        [(i, "w " * (i % 7 + 1)) for i in range(60)], "doc_id long, text string"
    )
    sc = spark.sparkContext
    had = sc.getCheckpointDir()
    if had is None:
        with pytest.raises(ValueError, match="setCheckpointDir"):
            pack_sequences(docs, 16, checkpoint=True).collect()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    plain = sorted(map(tuple, pack_sequences(docs, 16).collect()))
    ckpt = sorted(map(tuple, pack_sequences(docs, 16, checkpoint=True).collect()))
    assert ckpt == plain
    sh_plain = sorted(map(tuple, assign_shards(docs, 32).collect()))
    sh_ckpt = sorted(map(tuple, assign_shards(docs, 32, checkpoint=True).collect()))
    assert sh_ckpt == sh_plain


def test_pack_sequences_matches_single_window(spark):
    """The two-stage prefix sum must equal the naive global-window cumsum."""
    from pyspark.sql import Window

    from nested_pandas_spark.pipeline.corpus import pack_sequences
    from nested_pandas_spark.pipeline.text import token_count

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        r["doc_id"]: (r["n_tokens"], r["bin_id"], r["bin_offset"])
        for r in pack_sequences(docs, capacity=256).collect()
    }
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    naive = (
        docs.select("doc_id", token_count("text").cast("long").alias("t"))
        .withColumn("e", F.sum("t").over(w))
        .collect()
    )
    want = {
        r["doc_id"]: (r["t"], (r["e"] - r["t"]) // 256, (r["e"] - r["t"]) % 256)
        for r in naive
    }
    assert got == want


def test_pack_segments(spark):
    from nested_pandas_spark.pipeline.corpus import pack_segments

    # token counts 3, 4, 5, 2 -> starts 0, 3, 7, 12 at capacity 5:
    # doc 2 spans bins 0-1 (seg 2+2), doc 3 spans bins 1-2 (seg 3+2)
    docs = spark.createDataFrame(
        [
            (1, "a b c"),
            (2, "d e f g"),
            (3, "h i j k l"),
            (4, "m n"),
            (5, ""),  # zero tokens -> no segments
        ],
        "doc_id long, text string",
    )
    rows = sorted(
        (r["doc_id"], r["bin_id"], r["doc_offset"], r["bin_offset"], r["seg_tokens"])
        for r in pack_segments(docs, capacity=5).collect()
    )
    assert rows == [
        (1, 0, 0, 0, 3),
        (2, 0, 0, 3, 2),
        (2, 1, 2, 0, 2),
        (3, 1, 0, 2, 3),
        (3, 2, 3, 0, 2),
        (4, 2, 0, 2, 2),
    ]
    # segment bookkeeping: per-doc segments cover the doc exactly; per-bin
    # loads never exceed capacity
    per_doc, per_bin = {}, {}
    for d, b, _, _, s in rows:
        per_doc[d] = per_doc.get(d, 0) + s
        per_bin[b] = per_bin.get(b, 0) + s
    assert per_doc == {1: 3, 2: 4, 3: 5, 4: 2}
    assert all(v <= 5 for v in per_bin.values())


def test_assign_shards_matches_single_window(spark):
    """The hash-shuffled distributed prefix sum must equal the naive
    global-window cumsum over the same md5 order."""
    from pyspark.sql import Window

    from nested_pandas_spark.pipeline.corpus import assign_shards

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        r["doc_id"]: (r["n_tokens"], r["shard_id"])
        for r in assign_shards(docs, 8000, tokens_col="n_chars").collect()
    }
    w = Window.orderBy(F.md5(F.col("doc_id").cast("string"))).rowsBetween(
        Window.unboundedPreceding, 0
    )
    naive = (
        docs.select("doc_id", F.col("n_chars").cast("long").alias("t"))
        .withColumn("e", F.sum("t").over(w))
        .collect()
    )
    want = {r["doc_id"]: (r["t"], (r["e"] - r["t"]) // 8000) for r in naive}
    assert got == want


def test_assign_shards_balanced(spark):
    """Every shard except the last must land within one max-doc-size of the
    target (greedy fill property), and unshuffled order follows doc_id."""
    from nested_pandas_spark.pipeline.corpus import assign_shards

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    target = 8000
    out = assign_shards(docs, target, tokens_col="n_chars").collect()
    sizes = {}
    for r in out:
        sizes[r["shard_id"]] = sizes.get(r["shard_id"], 0) + r["n_tokens"]
    max_doc = max(r["n_tokens"] for r in out)
    last = max(sizes)
    for sid, sz in sizes.items():
        if sid != last:
            # a shard stops filling only once it crosses target; the doc
            # that crossed it contributes at most max_doc overshoot
            assert target <= sz + max_doc
            assert sz <= target + max_doc

    seq = assign_shards(docs, target, tokens_col="n_chars", shuffle=False)
    rows = sorted(
        ((r["doc_id"], r["shard_id"]) for r in seq.collect())
    )
    shard_seq = [s for _, s in rows]
    assert shard_seq == sorted(shard_seq)  # monotone in id order


def test_write_sharded_roundtrip(spark, tmp_path):
    from nested_pandas_spark.pipeline.corpus import write_sharded

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "shards")
    write_sharded(docs, path, 16000, tokens_col="n_chars")
    back = spark.read.parquet(path)
    assert back.count() == docs.count()
    assert "shard_id" in back.columns
    # no document lost or duplicated across shard directories
    assert back.select("doc_id").distinct().count() == docs.count()

    # each shard file is internally ordered by the deterministic shuffle
    # key (the docstring's claim, backed by sortWithinPartitions): read
    # each file stand-alone and check md5(doc_id) is non-decreasing
    import glob
    import hashlib

    import pyarrow.parquet as pq

    files = glob.glob(f"{path}/shard_id=*/*.parquet")
    assert files
    for f in files:
        ids = pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist()
        keys = [hashlib.md5(str(i).encode()).hexdigest() for i in ids]
        assert keys == sorted(keys), f"shard file {f} not key-ordered"


def test_mixture_weights(spark):
    from nested_pandas_spark.pipeline.corpus import mixture_weights

    docs = spark.createDataFrame(
        [
            (1, "web", "a b c d e f g h"),     # web: 8 tokens
            (2, "code", "x y"),                # code: 2 tokens
            (3, "books", "p q r s t u"),       # books: 6 tokens
        ],
        "doc_id long, source string, text string",
    )
    out = {
        r["source"]: r
        for r in mixture_weights(
            docs, {"web": 0.25, "code": 0.25, "books": 0.5}
        ).collect()
    }
    # demand: web .25/.5=.5, code .25/.125=2.0, books .5/.375=1.333..
    # code is most over-demanded -> fraction 1.0; others scale down
    assert out["code"]["fraction"] == 1.0
    assert abs(out["web"]["fraction"] - 0.25) < 1e-6
    assert abs(out["books"]["fraction"] - 0.666666667) < 1e-6
    # a source missing from the target mixture is dropped outright
    out2 = mixture_weights(docs, {"web": 1.0}).collect()
    assert {r["source"]: r["fraction"] for r in out2}["code"] == 0.0


def test_asof_join_equal_ts_deterministic(spark):
    # two right rows at the SAME ts: the tie-break (payload ascending, last
    # wins) must pick the max payload, identically on every run
    trades = spark.createDataFrame([(1, "A", 100)], "trade_id long, sym string, ts long")
    quotes = spark.createDataFrame(
        [("A", 100, 10.0), ("A", 100, 30.0), ("A", 100, 20.0)],
        "sym string, ts long, px double",
    )
    for _ in range(3):
        out = asof_join(trades, quotes, on="sym", ts="ts", right_cols=["px"])
        assert out.collect()[0]["px_right"] == 30.0


def test_connected_components(spark):
    from nested_pandas_spark.pipeline.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (21, 20), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    cc = {r["node"]: r["component"]
          for r in connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_long_chain(spark):
    from nested_pandas_spark.pipeline.dedup import connected_components

    # a 16-node path: needs real propagation, not just one neighbor hop
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 16)], "id_a long, id_b long"
    )
    cc = {r["node"]: r["component"]
          for r in connected_components(pairs).collect()}
    assert cc == {i: 1 for i in range(1, 17)}


def test_connected_components_distributed_path_matches_fast_path(spark):
    """small_graph_threshold=0 forces the distributed label-propagation
    path; it must produce exactly the union-find fast path's labels on a
    graph mixing chains, cliques, and singleton pairs."""
    from nested_pandas_spark.pipeline.dedup import connected_components

    edges = (
        [(i, i + 1) for i in range(1, 16)]           # long chain
        + [(100, 101), (101, 102), (100, 102)]       # triangle
        + [(200, 201)]                               # isolated pair
        + [(301, 300), (302, 300)]                   # star, reversed edges
    )
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {r["node"]: r["component"]
            for r in connected_components(pairs).collect()}
    dist = {r["node"]: r["component"]
            for r in connected_components(
                pairs, small_graph_threshold=0).collect()}
    assert fast == dist
    assert dist[15] == 1 and dist[102] == 100 and dist[302] == 300


def test_resolve_duplicates_transitive(spark):
    from nested_pandas_spark.pipeline.dedup import resolve_duplicates

    docs = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (9, "unrelated")],
        "doc_id long, text string",
    )
    # pairwise drop-id_b would keep {1, 2, 9}: 2 never appears as id_b even
    # though 2~3~1 makes {1,2,3} one group. Component-min keeps {1, 9}.
    pairs = spark.createDataFrame([(2, 3), (1, 3)], "id_a long, id_b long")
    kept = sorted(
        r["doc_id"] for r in resolve_duplicates(docs, pairs, "doc_id").collect()
    )
    assert kept == [1, 9]


def test_split_by_cluster_no_leakage(spark):
    from nested_pandas_spark.pipeline.corpus import split_by_cluster

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 40)], "doc_id long, text string"
    )
    # {1,2,3} are transitive near-dups; {10,11} a pair; rest singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    out = split_by_cluster(docs, pairs, "doc_id", test_frac=0.3, buckets=10)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 39
    # cluster members share a representative AND a side
    assert {rows[i]["cluster_rep"] for i in (1, 2, 3)} == {1}
    assert len({rows[i]["split"] for i in (1, 2, 3)}) == 1
    assert rows[10]["split"] == rows[11]["split"]
    # singletons represent themselves; both sides are populated
    assert rows[9]["cluster_rep"] == 9
    sides = {r["split"] for r in rows.values()}
    assert sides == {"train", "test"}
    # deterministic across reruns
    again = {r["doc_id"]: r["split"] for r in split_by_cluster(
        docs, pairs, "doc_id", test_frac=0.3, buckets=10).collect()}
    assert again == {k: v["split"] for k, v in rows.items()}


def test_boilerplate_ngrams(spark):
    from nested_pandas_spark.pipeline.corpus import boilerplate_ngrams

    shared = "the quick brown fox jumps"           # one 5-gram, in 3 docs
    docs = spark.createDataFrame(
        [
            (1, shared + " alpha beta gamma delta"),
            (2, shared + " epsilon zeta eta theta"),
            (3, shared),
            (4, "totally different words here now"),
            (5, "tiny"),                            # no 5-grams -> zeros
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in boilerplate_ngrams(
        docs, ngram_n=5, min_df=3).collect()}
    assert len(out) == 5
    assert out[3]["n_grams"] == 1 and out[3]["n_common"] == 1
    assert out[3]["common_ratio"] == 1.0
    # docs 1/2 have 5 distinct 5-grams, exactly one corpus-common
    assert out[1]["n_grams"] == 5 and out[1]["n_common"] == 1
    assert out[1]["common_ratio"] == 0.2
    assert out[4]["n_common"] == 0 and out[4]["common_ratio"] == 0.0
    assert out[5]["n_grams"] == 0 and out[5]["common_ratio"] == 0.0


def test_interval_join_matches_bruteforce(spark):
    import random

    rng = random.Random(11)
    L = [(i, rng.randint(0, 2), rng.randint(0, 500)) for i in range(40)]
    R = [(100 + i, rng.randint(0, 2), rng.randint(0, 500)) for i in range(40)]
    lrows = [(i, k, s, s + rng.randint(1, 80)) for i, k, s in L]
    rrows = [(i, k, s, s + rng.randint(1, 80)) for i, k, s in R]
    from nested_pandas_spark.operators.asof import interval_join

    l = spark.createDataFrame(lrows, "lid long, k long, ls long, le long")
    r = spark.createDataFrame(rrows, "rid long, k long, rs long, re long")
    got = sorted((x["lid"], x["rid"]) for x in
                 interval_join(l, r, "k", "ls", "le", "rs", "re",
                               bucket=64).collect())
    want = sorted(
        (li, ri)
        for li, lk, ls, le in lrows
        for ri, rk, rs, re in rrows
        if lk == rk and ls < re and rs < le
    )
    assert got == want  # exactly once per overlapping pair, none missed


def test_interval_join_no_duplicates_across_buckets(spark):
    # a pair spanning MANY shared buckets must emit exactly once
    from nested_pandas_spark.operators.asof import interval_join

    l = spark.createDataFrame([(1, 0, 0, 1000)], "lid long, k long, ls long, le long")
    r = spark.createDataFrame([(2, 0, 500, 1500)], "rid long, k long, rs long, re long")
    rows = interval_join(l, r, "k", "ls", "le", "rs", "re", bucket=10).collect()
    assert len(rows) == 1
    # touching-but-not-overlapping (half-open) excluded
    r2 = spark.createDataFrame([(3, 0, 1000, 1100)], "rid long, k long, rs long, re long")
    assert interval_join(l, r2, "k", "ls", "le", "rs", "re", bucket=10).count() == 0


def test_bucket_joins_mixed_integral_float_axes(spark):
    """Round-4 advice regression: an integral-axis table joined to a
    float-axis table must not route greatest(bigint, double) into the
    int64 DIV bucket path (DATATYPE_MISMATCH) — mixed axes fall back to
    the consistent double path on BOTH sides."""
    from nested_pandas_spark.operators.asof import interval_join, range_join

    l = spark.createDataFrame([(1, 0, 0, 10), (2, 0, 30, 40)],
                              "lid long, k long, ls long, le long")
    r = spark.createDataFrame([(10, 0, 5.0, 15.0), (11, 0, 100.5, 120.5)],
                              "rid long, k long, rs double, re double")
    got = sorted((x["lid"], x["rid"]) for x in
                 interval_join(l, r, "k", "ls", "le", "rs", "re",
                               bucket=8).collect())
    assert got == [(1, 10)]
    # fractional bucket is legal on the (now-double) mixed path
    got2 = sorted((x["lid"], x["rid"]) for x in
                  interval_join(l, r, "k", "ls", "le", "rs", "re",
                                bucket=7.5).collect())
    assert got2 == [(1, 10)]
    # one side mixing an integral start with a float end
    r3 = spark.createDataFrame([(20, 0, 8, 12.5), (21, 0, 50, 60.0)],
                               "rid long, k long, rs long, re double")
    got3 = sorted((x["lid"], x["rid"]) for x in
                  interval_join(l, r3, "k", "ls", "le", "rs", "re",
                                bucket=8).collect())
    assert got3 == [(1, 20)]
    # range_join: integral points against float intervals
    pts = spark.createDataFrame([(1, 0, 7), (2, 0, 99)],
                                "pid long, k long, ts long")
    iv = spark.createDataFrame([(10, 0, 5.0, 15.0)],
                               "iid long, k long, s double, e double")
    got4 = [(x["pid"], x["iid"]) for x in
            range_join(pts, iv, "k", "ts", "s", "e", bucket=8).collect()]
    assert got4 == [(1, 10)]
    # all-integral axes still enforce integer buckets (exact path kept)
    import pytest
    with pytest.raises(ValueError):
        interval_join(l, spark.createDataFrame(
            [(30, 0, 5, 15)], "rid long, k long, rs long, re long"),
            "k", "ls", "le", "rs", "re", bucket=7.5)


def test_asof_join_null_right_values_not_stitched(spark):
    """A matched right row whose value is NULL must yield a NULL value —
    not inherit a stale value from an OLDER right row (the per-column
    last(ignorenulls) carry bug): the match is one atomic row."""
    from nested_pandas_spark.operators.asof import asof_join

    trades = spark.createDataFrame([("A", 10), ("A", 30)], "sym string, ts long")
    quotes = spark.createDataFrame(
        [("A", 5, 1.0, 100), ("A", 25, None, 200)],
        "sym string, ts long, px double, qty long")
    out = {r["ts"]: (r["px_right"], r["qty_right"], r["ts_right"])
           for r in asof_join(trades, quotes, on="sym", ts="ts").collect()}
    assert out[10] == (1.0, 100, 5)
    # ts=30 matches the quote at 25: px is genuinely NULL there; qty=200.
    # The old carry stitched px=1.0 (from ts=5) onto qty=200 (from ts=25).
    assert out[30] == (None, 200, 25)
    # forward + nearest directions share the carry
    outf = {r["ts"]: (r["px_right"], r["ts_right"])
            for r in asof_join(trades, quotes, on="sym", ts="ts",
                               direction="forward").collect()}
    assert outf[10] == (None, 25)
    outn = {r["ts"]: (r["px_right"], r["ts_right"])
            for r in asof_join(trades, quotes, on="sym", ts="ts",
                               direction="nearest").collect()}
    assert outn[30] == (None, 25)


def test_range_join_mixed_axis_boundary_precision(spark):
    """Mixed integral/double axes take the double bucket path, where an
    int64 value within ~1 ulp of a bucket boundary can round into the
    adjacent bucket; the ±1 span widening must keep every true match
    (round-5 advice). Checked against an exact theta join over int64
    points clustered at bucket boundaries near 2^60 (double ulp = 256)."""
    from nested_pandas_spark.operators.asof import range_join

    b = 512
    base = 1 << 60
    pts = [
        base + k * b + off
        for k in range(-3, 4)
        for off in (-2, -1, 0, 1, 2, 255, 256, 257)
    ]
    left = spark.createDataFrame(
        [(1, int(t)) for t in pts], "k long, ts long"
    )
    ivals = [
        (1, float(base + k * b - 300), float(base + k * b + 300))
        for k in range(-3, 4)
    ] + [(1, float(base - 5 * b), float(base + 5 * b))]
    right = spark.createDataFrame(ivals, "k long, s double, e double")
    got = sorted(
        (r["ts"], r["s"], r["e"])
        for r in range_join(left, right, on="k", left_ts="ts",
                            right_start="s", right_end="e",
                            bucket=b).collect()
    )
    want = sorted(
        (r["ts"], r["s"], r["e"])
        for r in left.crossJoin(
            right.withColumnRenamed("k", "k2")
        ).where("s <= ts AND ts < e AND k = k2").collect()
    )
    assert got == want and len(want) > 0
