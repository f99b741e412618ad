"""Tests for dedup / similarity / text / multimodal pipeline operators."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from nested_pandas_spark.pipeline import dedup as dd
from nested_pandas_spark.pipeline import multimodal as mm
from nested_pandas_spark.pipeline import similarity as sim
from nested_pandas_spark.pipeline import text as tx
from nested_pandas_spark.plans.inspect import find_nodes, plan_nodes, plan_tree


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs away fast"),
        (2, "the quick brown fox jumps over the lazy dog and runs away fast"),  # exact dup
        (3, "the quick brown fox jumps over the lazy dog and walks away fast"),  # near dup
        (4, "der hund läuft und das ist von dem haus nicht weit zu gehen"),
        (5, "completely different content about spark engines and data pipelines here"),
        (6, "tiny"),
        (7, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_counts(docs):
    out = docs.select("doc_id", tx.token_count("text").alias("n")).collect()
    d = {r["doc_id"]: r["n"] for r in out}
    assert d[1] == 13
    assert d[6] == 1
    assert d[7] is None


def test_lang_id(docs):
    out = docs.select("doc_id", tx.lang_id("text")).collect()
    d = {r["doc_id"]: r["lang_pred"] for r in out}
    assert d[1] == "en"
    assert d[4] == "de"
    assert d[6] == "und"


def test_fingerprint_normalizes_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, " hello   WORLD ")],
        "id int, text string",
    )
    fps = [r[0] for r in df.select(tx.fingerprint("text")).collect()]
    assert fps[0] == fps[1] == fps[2]


def test_exact_dedup(docs):
    out = dd.exact_dedup(docs, "doc_id")
    groups = {r["doc_id"]: r["n_dups"] for r in out.collect()}
    assert groups[1] == 2  # docs 1 & 2 identical, keep min id
    assert 2 not in groups


def test_dedup_against(spark, docs):
    # ref corpus holds doc 1's text; the new batch re-submits it (id 11,
    # and whitespace-variant id 12), plus an internal dup pair (13/14)
    ref = docs.where(F.col("doc_id").isin(1, 4, 5))
    new = spark.createDataFrame(
        [
            (11, "the quick brown fox jumps over the lazy dog and runs away fast"),
            (12, "  The quick   brown fox jumps over the lazy dog and runs away FAST "),
            (13, "fresh unseen content one"),
            (14, "fresh   unseen CONTENT one"),
            (15, "another novel document"),
            (16, None),
            (17, None),
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"] for r in dd.dedup_against(new, ref).collect()
    )
    # 11/12 match ref; 14 loses within-batch to 13; NULL texts form one
    # within-batch group (16 kept, 17 dropped) and never match the ref side
    assert kept == [13, 15, 16]
    kept_nb = sorted(
        r["doc_id"]
        for r in dd.dedup_against(new, ref, within_batch=False).collect()
    )
    assert kept_nb == [13, 14, 15, 16, 17]
    # broadcast path must agree
    kept_bc = sorted(
        r["doc_id"]
        for r in dd.dedup_against(new, ref, broadcast_ref=True).collect()
    )
    assert kept_bc == kept


def test_lsh_candidate_pairs_between(spark, docs):
    ref = docs.where(F.col("doc_id").isin(1, 4))
    new = docs.where(F.col("doc_id").isin(2, 3, 5))
    pairs = sorted(
        (r["new_id"], r["ref_id"])
        for r in dd.lsh_candidate_pairs_between(
            new, ref, num_hashes=8, bands=4
        ).collect()
    )
    assert (2, 1) in pairs          # exact dup across the corpora
    assert (3, 1) in pairs          # near dup shares a band
    assert all(r == 1 for _, r in pairs)  # never ref x ref or new x new
    assert (5, 1) not in pairs      # unrelated content


def test_quality_model_score(spark):
    import math

    rows = [
        (1, "the cat sat on the mat and it was good for the day"),
        (2, "!!! ??? ;;; ,,, ... !!!"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["q"]
        for r in df.select(
            "doc_id", tx.quality_model_score("text", alias="q")
        ).collect()
    }
    # hand-computed for doc 1: t=12, c=51, sw=6 ('the' x3,'and','it','was','for'->7?)
    text = rows[0][1]
    w = text.split()
    t, c = float(len(w)), float(len(text))
    sw = float(sum(1 for x in w if x in tx.STOPWORDS["en"]))
    z = -1.5 + 0.35 * math.log1p(t) + 0.12 * (c / t) + 2.5 * (sw / t)
    assert abs(out[1] - 1.0 / (1.0 + math.exp(-z))) < 1e-9
    assert out[2] < out[1]  # punctuation soup scores lower
    assert out[3] is None   # NULL text -> NULL score


def test_minhash_identical_docs_same_signature(docs):
    sigs = docs.select(
        "doc_id", dd.minhash_signature("text", 8, 3).alias("sig")
    ).collect()
    d = {r["doc_id"]: r["sig"] for r in sigs}
    assert d[1] == d[2]
    assert d[1] != d[5]
    assert d[6] is None and d[7] is None


def test_lsh_finds_dup_pair(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in
             dd.lsh_candidate_pairs(docs, "doc_id", num_hashes=8, bands=4).collect()}
    assert (1, 2) in pairs


def test_ngram_jaccard(docs):
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           dd.ngram_jaccard_pairs(docs, "doc_id", shingle_n=3, threshold=0.3).collect()}
    assert out[(1, 2)] == pytest.approx(1.0)
    assert (1, 3) in out  # near dup above 0.3
    assert all(v >= 0.3 for v in out.values())


def test_simhash_near_pairs(docs):
    sh = {r["doc_id"]: r["simhash"] for r in dd.simhash_df(docs, "doc_id").collect()}
    assert sh[1] == sh[2]
    assert sh[7] is None
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             dd.simhash_near_pairs(docs, "doc_id", max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0


def test_brute_force_topk_self_similarity(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),   # closest to 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.9, 0.1]),   # closest to 3
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = sim.brute_force_topk(emb, emb, k=1)
    nn = {r["query_id"]: r["neighbor_id"] for r in out.collect()}
    assert nn[1] == 2 and nn[2] == 1
    assert nn[3] == 4 and nn[4] == 3


def test_lsh_topk_subset_of_bruteforce(spark):
    rng = np.random.RandomState(0)
    rows = [(i, rng.randn(16).astype(float).tolist()) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where(F.col("vec_id") < 3)
    approx = sim.lsh_topk(emb, q, k=3, num_planes=2)
    rows_a = approx.collect()
    assert len(rows_a) > 0
    # every approx neighbor must share the query's bucket by construction;
    # ranks are 1..k
    assert all(1 <= r["rank"] <= 3 for r in rows_a)


def test_lsh_topk_multi_table_recall(spark):
    """More tables can only widen the candidate set: every single-table
    result pair must appear among the multi-table candidates, and ranks
    stay valid with no duplicate (query, neighbor) pairs."""
    rng = np.random.RandomState(1)
    rows = [(i, rng.randn(16).astype(float).tolist()) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where(F.col("vec_id") < 3)
    multi = sim.lsh_topk(emb, q, k=50, num_planes=4, num_tables=3).collect()
    single = sim.lsh_topk(emb, q, k=50, num_planes=4, num_tables=1).collect()
    mpairs = {(r["query_id"], r["neighbor_id"]) for r in multi}
    spairs = {(r["query_id"], r["neighbor_id"]) for r in single}
    assert spairs <= mpairs
    assert len(mpairs) == len(multi)  # no duplicate pairs
    assert all(1 <= r["rank"] <= 50 for r in multi)


def test_srp_bucket_deterministic(spark):
    emb = spark.createDataFrame(
        [(1, [0.5, -0.25, 1.0, 0.1])], "vec_id long, embedding array<float>"
    )
    b1 = emb.select(sim.srp_bucket(F.col("embedding"), 8).alias("b")).collect()[0]["b"]
    b2 = emb.select(sim.srp_bucket(F.col("embedding"), 8).alias("b")).collect()[0]["b"]
    assert b1 == b2
    assert 0 <= b1 < 256


def test_ivf_topk_matches_bruteforce_at_full_probe(spark):
    """Probing EVERY centroid makes IVF exhaustive: it must equal the
    brute-force top-k exactly."""
    rng = np.random.RandomState(3)
    rows = [(i, rng.randn(8).astype(float).tolist()) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where(F.col("vec_id") < 4)
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in sim.brute_force_topk(emb, q, k=3).collect()
    }
    ivf = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in sim.ivf_topk(emb, q, k=3, n_centroids=4, n_probe=4).collect()
    }
    assert ivf == exact


def test_ivf_centroids_deterministic(spark):
    rows = [(i, [float(i), 1.0]) for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    c1 = sim.ivf_centroids(emb, n_centroids=3)
    c2 = sim.ivf_centroids(emb, n_centroids=3)
    assert c1 == c2 and len(c1) == 3


def _partition_filters(df):
    """The PartitionFilters of every scan in ``df``'s physical plan."""
    return " ".join(n.meta.get("PartitionFilters", "")
                    for n in find_nodes(df, "Scan"))


def _clustered_embeddings(spark, n_clusters=4, per_cluster=25, dim=8, seed=5):
    rng = np.random.RandomState(seed)
    centers = rng.randn(n_clusters, dim) * 4
    rows = []
    for i in range(n_clusters * per_cluster):
        c = centers[i % n_clusters]
        rows.append((i, (c + rng.randn(dim) * 0.5).astype(float).tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_refine_reduces_quantization_error(spark):
    """Lloyd rounds monotonically reduce within-cluster SSE (up to the 1e-6
    rounding) — the property k-means optimizes, checked on the L2 path that
    backs PQ codebook refinement."""
    emb = _clustered_embeddings(spark)
    data = np.array([r["embedding"] for r in emb.collect()], dtype=float)

    def sse(cents):
        c = np.array([v for _, v in cents])
        d2 = ((data[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        return d2.min(axis=1).sum()

    seeds = sim.ivf_centroids(emb, n_centroids=4)
    refined = sim.kmeans_refine(emb, seeds, n_iters=3, metric="l2")
    assert sse(refined) <= sse(seeds) + 1e-6


def test_kmeans_refine_deterministic_and_empty_cluster_keeps_seed(spark):
    emb = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(5)], "vec_id long, embedding array<float>"
    )
    seeds = [(0, [1.0, 0.0]), (1, [-50.0, 0.0])]
    r1 = sim.kmeans_refine(emb, seeds, n_iters=2, metric="l2")
    r2 = sim.kmeans_refine(emb, seeds, n_iters=2, metric="l2")
    assert r1 == r2
    # every point assigns to centroid 0; the empty cluster keeps its seed
    assert r1[0] == (0, [1.0, 0.0])
    assert r1[1] == (1, [-50.0, 0.0])


def test_ivf_refined_recall_not_worse(spark):
    """With clustered data and a limited probe budget, k-means-refined
    centroids must recall at least as much of the exact top-k as the raw
    md5 seeds (the production claim behind n_iters)."""
    emb = _clustered_embeddings(spark)
    q = emb.where(F.col("vec_id") < 8)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.brute_force_topk(emb, q, k=3).collect()
    }

    def recall(n_iters):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in sim.ivf_topk(
                emb, q, k=3, n_centroids=4, n_probe=1, n_iters=n_iters
            ).collect()
        }
        return len(got & truth) / len(truth)

    assert recall(2) >= recall(0)


def test_pq_codebooks_refined_deterministic(spark):
    emb = _clustered_embeddings(spark)
    b1 = sim.pq_codebooks(emb, n_sub=2, n_centroids=4, n_iters=2)
    b2 = sim.pq_codebooks(emb, n_sub=2, n_centroids=4, n_iters=2)
    assert b1 == b2
    assert len(b1) == 2 and len(b1[0]) == 4 and len(b1[0][0]) == 4


def test_embedding_neardup_finds_planted_dup(spark):
    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(16).astype(float).tolist()) for i in range(40)]
    # vec 100 is a scaled copy of vec 0: cosine exactly 1, identical
    # projection signs, so it collides in EVERY hash table — guaranteed hit
    rows.append((100, [2.0 * x for x in rows[0][1]]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = dd.embedding_neardup(
        emb, threshold=0.95, num_planes=4, num_tables=2, dim=16
    ).collect()
    pairs = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in out}
    assert pairs == {(0, 100): 1.0}


def test_embedding_neardup_multi_table_dedupes(spark):
    # two identical vectors land in the same bucket of BOTH tables; the pair
    # must still come out exactly once
    rows = [(1, [1.0, 2.0, 3.0, 4.0]), (2, [1.0, 2.0, 3.0, 4.0]),
            (3, [-1.0, 5.0, -2.0, 0.5])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = dd.embedding_neardup(
        emb, threshold=0.99, num_planes=2, num_tables=3, dim=4
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in out] == [(1, 2)]


def test_semantic_dedup_drops_within_cluster_neardup(spark):
    rng = np.random.RandomState(11)
    rows = [(i, rng.randn(16).astype(float).tolist()) for i in range(30)]
    # 200 is a scaled copy of 0 (cosine exactly 1) -> same cluster as 0,
    # dropped; 0 keeps (smallest id in its near-dup group)
    rows.append((200, [3.0 * x for x in rows[0][1]]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = dd.semantic_dedup(
        emb, n_centroids=4, n_iters=1, threshold=0.95
    ).collect()
    by_id = {r["vec_id"]: r for r in out}
    assert len(by_id) == 31
    assert not by_id[200]["kept"] and by_id[0]["kept"]
    assert by_id[200]["cid"] == by_id[0]["cid"]
    # near-orthogonal randoms all survive
    assert sum(1 for r in out if not r["kept"]) == 1


def test_semantic_dedup_deterministic(spark):
    rng = np.random.RandomState(3)
    rows = [(i, rng.randn(8).astype(float).tolist()) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = sorted(map(tuple, dd.semantic_dedup(emb, n_centroids=3, n_iters=2).collect()))
    b = sorted(map(tuple, dd.semantic_dedup(emb, n_centroids=3, n_iters=2).collect()))
    assert a == b


def test_multimodal_decode_and_features(spark):
    bdf = spark.createDataFrame(
        [(1, bytearray(b"payload-a")), (2, None)], "id int, payload binary"
    )
    meta = mm.attach_media_meta(bdf, "payload", "image", "png")
    m = {r["id"]: r["payload_meta"] for r in meta.collect()}
    assert m[1]["size_bytes"] == 9 and m[1]["media_type"] == "image"
    decoded = mm.decode_image(bdf, height=2, width=2, channels=1)
    rows = {r["id"]: r["pixels"] for r in decoded.collect()}
    assert len(rows[1]) == 4 and rows[2] is None
    feats = mm.image_features(decoded.where("pixels IS NOT NULL"))
    f = feats.collect()[0]
    assert f["feat_min"] <= f["feat_mean"] <= f["feat_max"]


def test_multimodal_strict_raises(spark):
    bdf = spark.createDataFrame([(1, bytearray(b"x"))], "id int, payload binary")
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        mm.decode_image(bdf, strict=True).collect()


def _make_bmp(pixels, bottom_up=True):
    """Reference 24-bit BMP writer (RGB ndarray in, bytes out)."""
    import struct

    h, w, _ = pixels.shape
    row_size = (w * 3 + 3) // 4 * 4
    data = bytearray()
    rows = range(h - 1, -1, -1) if bottom_up else range(h)
    for y in rows:
        row = bytearray()
        for x in range(w):
            r, g, b = pixels[y, x]
            row += bytes([b, g, r])  # BGR on disk
        row += b"\x00" * (row_size - len(row))
        data += row
    raw_h = h if bottom_up else -h
    header = b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
    header += struct.pack("<IiiHHIIiiII", 40, w, raw_h, 1, 24, 0,
                          len(data), 2835, 2835, 0, 0)
    return bytes(header + data)


def _make_wav(samples, rate=8000, channels=1):
    """Reference PCM-16 WAV writer (int16 list in, bytes out)."""
    import struct

    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2,
                      channels * 2, 16)
    return (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)


def test_decode_bmp_real():
    rng = np.random.RandomState(5)
    px = rng.randint(0, 256, size=(3, 5, 3), dtype=np.uint8)  # w=5: rows pad
    assert np.array_equal(mm.decode_bmp(_make_bmp(px, bottom_up=True)), px)
    assert np.array_equal(mm.decode_bmp(_make_bmp(px, bottom_up=False)), px)
    with pytest.raises(ValueError, match="not a BMP"):
        mm.decode_bmp(b"JUNKJUNK" * 10)
    with pytest.raises(ValueError, match="truncated"):
        mm.decode_bmp(_make_bmp(px)[:-4])
    bad = bytearray(_make_bmp(px))
    bad[28] = 8  # bpp=8 (paletted) needs a codec library
    with pytest.raises(ValueError, match="unsupported BMP"):
        mm.decode_bmp(bytes(bad))


def test_decode_ppm_real():
    rng = np.random.RandomState(6)
    px = rng.randint(0, 256, size=(2, 3, 3), dtype=np.uint8)
    payload = b"P6\n# a comment\n3 2\n255\n" + px.tobytes()
    assert np.array_equal(mm.decode_ppm(payload), px)
    with pytest.raises(ValueError, match="truncated"):
        mm.decode_ppm(payload[:-1])
    with pytest.raises(ValueError, match="not a binary PPM"):
        mm.decode_ppm(b"P3\n1 1\n255\n1 2 3")


def test_decode_wav_real():
    samples = [0, 1000, -1000, 32767, -32768, 5]
    x, rate = mm.decode_wav(_make_wav(samples, rate=16000))
    assert rate == 16000
    assert np.allclose(x * 32768.0, samples)
    # stereo mixes down by averaging
    x2, _ = mm.decode_wav(_make_wav([100, 300, -50, 50], channels=2))
    assert np.allclose(x2 * 32768.0, [200.0, 0.0])
    with pytest.raises(ValueError, match="not a RIFF"):
        mm.decode_wav(b"nope")
    bad = bytearray(_make_wav(samples))
    bad[20] = 3  # IEEE-float format tag
    with pytest.raises(ValueError, match="unsupported WAV"):
        mm.decode_wav(bytes(bad))


def _make_y4m(planes, cspace=b"C420jpeg"):
    """Reference Y4M writer: list of (h, w) uint8 luma planes; chroma
    planes (when the colorspace has them) are zero-filled."""
    h, w = planes[0].shape
    out = b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 %s\n" % (w, h, cspace)
    if cspace.startswith(b"Cmono"):
        chroma = 0
    elif cspace.startswith(b"C420"):
        chroma = 2 * ((w // 2) * (h // 2))
    elif cspace.startswith(b"C444"):
        chroma = 2 * w * h
    else:
        raise AssertionError(cspace)
    for p in planes:
        out += b"FRAME\n" + p.tobytes() + b"\x00" * chroma
    return out


def test_decode_y4m_real():
    rng = np.random.RandomState(8)
    planes = [rng.randint(0, 256, size=(4, 6), dtype=np.uint8)
              for _ in range(5)]
    for cs in (b"Cmono", b"C420jpeg", b"C444"):
        got, (w, h) = mm.decode_y4m(_make_y4m(planes, cs))
        assert (w, h) == (6, 4)
        assert len(got) == 5
        for g, p in zip(got, planes):
            assert np.array_equal(g, p), cs
    with pytest.raises(ValueError, match="not a YUV4MPEG2"):
        mm.decode_y4m(b"RIFFxxxx")
    with pytest.raises(ValueError, match="truncated Y4M frame"):
        # cut into the last frame's LUMA plane (chroma is 12 bytes here;
        # a chroma-only truncation is tolerated since chroma is skipped)
        mm.decode_y4m(_make_y4m(planes)[:-20])
    with pytest.raises(ValueError, match="unsupported Y4M colorspace"):
        mm.decode_y4m(b"YUV4MPEG2 W2 H2 C411\nFRAME\n\x00\x00\x00\x00")


def test_sample_video_frames_real_y4m(spark):
    rng = np.random.RandomState(9)
    planes = [rng.randint(0, 256, size=(2, 2), dtype=np.uint8)
              for _ in range(6)]
    bdf = spark.createDataFrame(
        [(1, bytearray(_make_y4m(planes, b"Cmono")))], "id int, payload binary"
    )
    # strict=True must decode genuinely; 3 frames sampled evenly: 0, 2, 4
    [r] = mm.sample_video_frames(bdf, n_frames=3, strict=True).collect()
    got = {f["frame_idx"]: f["pixels"] for f in r["frames"]}
    assert sorted(got) == [0, 2, 4]
    for i in got:
        assert got[i] == planes[i].ravel().tolist()
    # clip shorter than n_frames -> every frame once
    short = spark.createDataFrame(
        [(1, bytearray(_make_y4m(planes[:2], b"Cmono")))],
        "id int, payload binary")
    [r] = mm.sample_video_frames(short, n_frames=4, strict=True).collect()
    assert sorted(f["frame_idx"] for f in r["frames"]) == [0, 1]
    junk = spark.createDataFrame([(1, bytearray(b"mp4data"))],
                                 "id int, payload binary")
    with pytest.raises(Exception, match="NotImplementedError|ffmpeg"):
        mm.sample_video_frames(junk, strict=True).collect()


def test_decode_image_sniffs_real_formats(spark):
    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(2, 2, 3), dtype=np.uint8)
    bdf = spark.createDataFrame(
        [(1, bytearray(_make_bmp(px))),
         (2, bytearray(b"P6\n2 2\n255\n" + px.tobytes())),
         (3, None)],
        "id int, payload binary",
    )
    # strict=True must NOT raise for genuinely decodable formats
    rows = {r["id"]: r["pixels"]
            for r in mm.decode_image(bdf, strict=True).collect()}
    assert rows[1] == px.ravel().tolist()
    assert rows[2] == px.ravel().tolist()
    assert rows[3] is None


def test_audio_features_real_wav(spark):
    samples = [16384, -16384, 16384, 0]
    bdf = spark.createDataFrame(
        [(1, bytearray(_make_wav(samples)))], "id int, payload binary"
    )
    [r] = mm.audio_features(bdf, strict=True).collect()
    x = np.array(samples, dtype=np.float64) / 32768.0
    assert r["rms"] == pytest.approx(float(np.sqrt(np.mean(x ** 2))))
    assert r["zcr"] == pytest.approx(float(np.mean(np.diff(np.sign(x)) != 0)))
    # non-WAV payload in strict mode still raises
    junk = spark.createDataFrame([(1, bytearray(b"mp3data"))],
                                 "id int, payload binary")
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        mm.audio_features(junk, strict=True).collect()


def test_video_frames_nested_contract(spark):
    bdf = spark.createDataFrame([(1, bytearray(b"vid"))], "id int, payload binary")
    out = mm.sample_video_frames(bdf, n_frames=3)
    from nested_pandas_spark import NestedFrame

    ndf = NestedFrame(out)
    assert "frames" in ndf.nested_columns  # plugs into every nested operator
    assert ndf.count_nested("frames").collect()[0]["n_frames"] == 3


def test_topk_two_stage_tournament(spark):
    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(16).astype(float).tolist()) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where(F.col("vec_id") < 3)
    out = sim.brute_force_topk(emb, q, k=5, partial_buckets=8)
    # stage-1 window partitions by (query_id, salt); stage-2 by query_id only
    assert len(find_nodes(out, "Window")) >= 2
    assert find_nodes(out, text="__salt")
    # tournament must equal the single-window exact top-k
    single = sim.brute_force_topk(emb, q, k=5, partial_buckets=1)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, single.collect()))


def test_resize_image_nearest_neighbor(spark):
    # 4x4x1 image with pixel value == flat index: resize to 2x2 picks
    # (0,0)->0, (0,2)->2, (2,0)->8, (2,2)->10 (floor sampling)
    df = spark.createDataFrame([(1, list(range(16)))], "id long, pixels array<int>")
    out = mm.resize_image(df, in_height=4, in_width=4, channels=1,
                          out_height=2, out_width=2)
    assert out.collect()[0]["pixels"] == [0, 2, 8, 10]


def test_resize_image_multichannel_and_null(spark):
    # 2x2x3 -> 1x1x3 keeps the top-left pixel's three channels
    df = spark.createDataFrame(
        [(1, list(range(12))), (2, None)], "id long, pixels array<int>"
    )
    out = mm.resize_image(df, in_height=2, in_width=2, channels=3,
                          out_height=1, out_width=1)
    rows = {r["id"]: r["pixels"] for r in out.collect()}
    assert rows[1] == [0, 1, 2]
    assert rows[2] is None


def test_resize_image_is_jvm_only(spark):
    df = spark.createDataFrame([(1, list(range(16)))], "id long, pixels array<int>")
    out = mm.resize_image(df, in_height=4, in_width=4, channels=1,
                          out_height=2, out_width=2)
    assert not find_nodes(out, "ArrowEvalPython", "BatchEvalPython")


def test_redact_pii(spark):
    from nested_pandas_spark.pipeline.text import redact_pii

    df = spark.createDataFrame(
        [(1, "mail me at jane.doe+x@corp.example.org or call +1 (555) 123-4567"),
         (2, "server 10.0.42.1 holds 123-45-6789"),
         (3, "clean text, nothing to scrub")],
        "id long, text string",
    )
    out = {r["id"]: r["t"] for r in df.select("id", redact_pii("text", alias="t")).collect()}
    assert "<EMAIL>" in out[1] and "<PHONE>" in out[1]
    assert "jane" not in out[1] and "555" not in out[1]
    assert "<IP>" in out[2] and "<ID>" in out[2]
    assert out[3] == "clean text, nothing to scrub"


def test_repetition_ratio(spark):
    from nested_pandas_spark.pipeline.text import repetition_ratio

    df = spark.createDataFrame(
        [(1, "buy now buy now buy now buy now"),
         (2, "each word here is completely different"),
         (3, "")],
        "id long, text string",
    )
    out = {r["id"]: r["rep"] for r in
           df.select("id", repetition_ratio("text", alias="rep")).collect()}
    assert out[1] > 0.7
    assert out[2] == 0.0
    assert out[3] == 0.0


def test_stratified_sample(spark):
    from nested_pandas_spark.pipeline.corpus import stratified_sample

    rows = [(i, "en" if i % 10 else "fr") for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, lang string")
    out = stratified_sample(df, "lang", {"en": 0.1, "fr": 1.0}, seed=7)
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts["fr"] == 100  # fraction 1.0 keeps every row
    assert 40 <= counts.get("en", 0) <= 180  # ~10% of 900, Bernoulli spread
    # default_fraction=0 drops unlisted strata
    dropped = stratified_sample(df, "lang", {"fr": 1.0})
    assert dropped.where("lang = 'en'").count() == 0


def test_pq_roundtrip_and_topk(spark):
    import math
    import random

    from nested_pandas_spark.pipeline import similarity as sim

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cbs = sim.pq_codebooks(emb, n_sub=4, n_centroids=4)
    assert len(cbs) == 4 and len(cbs[0]) == 4 and len(cbs[0][0]) == 4

    enc = sim.pq_encode(emb, cbs)
    codes = {r["vec_id"]: r["pq_code"] for r in enc.collect()}
    assert all(len(c) == 4 and all(0 <= x < 4 for x in c) for c in codes.values())

    # decode(encode(seed_vector)) == the seed vector exactly: a codebook
    # vector's nearest centroid in every subspace is itself
    recon = enc.select("vec_id", sim.pq_decode(F.col("pq_code"), cbs).alias("r"))
    rec = {r["vec_id"]: r["r"] for r in recon.collect()}
    seeds = sim.ivf_centroids(emb, n_centroids=4)
    seed_vecs = {tuple(v) for _, v in seeds}
    exact_hits = sum(1 for i, v in rows if tuple(rec[i]) == tuple(v))
    assert exact_hits >= 4  # at least the 4 seed vectors reconstruct exactly
    assert all(len(r) == 16 for r in rec.values())

    out = sim.pq_topk(emb, emb.where("vec_id < 3"), k=3, n_sub=4,
                      n_centroids=4, refine=4)
    got = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in out.collect()}
    assert len(got) == 9  # 3 queries x top-3
    # determinism
    out2 = sim.pq_topk(emb, emb.where("vec_id < 3"), k=3, n_sub=4,
                       n_centroids=4, refine=4)
    got2 = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in out2.collect()}
    assert got == got2
    # with refine covering the whole corpus, PQ == exact L2 top-k
    full = sim.pq_topk(emb, emb.where("vec_id < 3"), k=3, n_sub=4,
                       n_centroids=4, refine=14)
    brute = {}
    for qi, qv in rows[:3]:
        d = sorted(
            (sum((a - b) ** 2 for a, b in zip(qv, cv)), ci)
            for ci, cv in rows if ci != qi
        )
        for rk, (_, ci) in enumerate(d[:3], 1):
            brute[(qi, rk)] = ci
    gotf = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in full.collect()}
    assert gotf == brute


def test_bm25_topk(spark):
    import math

    from nested_pandas_spark.pipeline.search import bm25_topk, build_postings

    docs = spark.createDataFrame(
        [
            (1, "spark join spark join spark"),
            (2, "spark filter scan"),
            (3, "window sort order by window"),
            (4, "join the customer table with the orders table"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(10, "spark join"), (20, "window")], "query_id long, query string"
    )
    out = bm25_topk(docs, queries, k=2)
    got = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"]) for r in out.collect()}
    # q10: doc1 mentions both terms, repeatedly -> first; docs 2 & 4 have one
    # term each; q20: only doc3 matches at all
    assert got[(10, 1)][0] == 1
    assert got[(20, 1)][0] == 3
    assert (20, 2) not in got  # no other doc contains 'window'

    # hand-computed BM25 for the single-term query (N=4, df=1, doc3: tf=2, dl=5)
    avgdl = (5 + 3 + 5 + 8) / 4
    idf = math.log(1 + (4 - 1 + 0.5) / (1 + 0.5))
    tfc = 2 * (1.2 + 1) / (2 + 1.2 * (1 - 0.75 + 0.75 * 5 / avgdl))
    assert abs(got[(20, 1)][1] - idf * tfc) < 1e-9

    # precomputed-postings path gives identical results
    pre = build_postings(docs)
    out2 = bm25_topk(docs, queries, k=2, postings=pre)
    got2 = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"]) for r in out2.collect()}
    assert got == got2


def test_ivf_store_search_matches_inline_ivf(spark, tmp_path):
    """ivf_search over a materialized index returns exactly what the
    inline ivf_topk computes with the same centroids (same seeds, same
    refinement), and its scan prunes non-probed partitions at planning
    time (PartitionFilters on the literal probe set)."""
    from nested_pandas_spark.sources.ivf_store import (
        ivf_search,
        read_ivf_centroids,
        write_ivf_index,
    )

    emb = _clustered_embeddings(spark)
    q = emb.where(F.col("vec_id") < 6)
    path = str(tmp_path / "ivf_index")
    cents = write_ivf_index(emb, path, n_centroids=4, n_iters=2)
    assert read_ivf_centroids(path) == cents

    inline = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in sim.ivf_topk(
            emb, q, k=3, n_centroids=4, n_probe=2, n_iters=2
        ).collect()
    }
    stored = ivf_search(spark, path, q, k=3, n_probe=2)
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"] for r in stored.collect()
    }
    assert got == inline
    assert "__cid" in _partition_filters(stored)


def test_ivf_store_probe_reads_fraction_of_files(spark, tmp_path):
    """A 1-probe search against a single query must plan a scan over a
    strict subset of the index's partition directories."""
    from nested_pandas_spark.sources.ivf_store import ivf_search, write_ivf_index

    emb = _clustered_embeddings(spark)
    path = str(tmp_path / "ivf_index2")
    write_ivf_index(emb, path, n_centroids=4, n_iters=1)
    q = emb.where(F.col("vec_id") == 0)
    out = ivf_search(spark, path, q, k=2, n_probe=1)
    out.collect()
    assert "__cid" in _partition_filters(out)


def test_lsh_multi_probe_widens_candidates(spark):
    """multi_probe can only ADD candidates (base bucket always probed
    first), and every extra candidate really shares a Hamming-1 bucket;
    recall of the exact top-k must not decrease."""
    rng = np.random.RandomState(11)
    rows = [(i, rng.randn(16).astype(float).tolist()) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where(F.col("vec_id") < 4)

    base = sim.lsh_topk(emb, q, k=60, num_planes=5)
    probed = sim.lsh_topk(emb, q, k=60, num_planes=5, multi_probe=2)
    bp = {(r["query_id"], r["neighbor_id"]) for r in base.collect()}
    pp = {(r["query_id"], r["neighbor_id"]) for r in probed.collect()}
    assert bp <= pp
    assert len(pp) > len(bp)  # flips really probe new buckets on this data

    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.brute_force_topk(emb, q, k=5).collect()
    }
    r_base = len(bp & truth) / len(truth)
    r_probe = len(pp & truth) / len(truth)
    assert r_probe >= r_base

    # the first probe bucket IS the query's own bucket
    first = emb.select(
        sim.srp_probe_buckets(F.col("embedding"), 5, 2)[0].alias("b0"),
        sim.srp_bucket(F.col("embedding"), 5).alias("b"),
    ).collect()
    assert all(r["b0"] == r["b"] for r in first)


def test_kmeans_refine_zero_iters_and_empty_seeds(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    seeds = [(0, [1.0, 2.0])]
    assert sim.kmeans_refine(emb, seeds, n_iters=0) == seeds
    assert sim.kmeans_refine(emb, [], n_iters=3) == []


def test_ivf_store_missing_sidecar_raises(spark, tmp_path):
    from nested_pandas_spark.sources.ivf_store import read_ivf_centroids

    with pytest.raises(FileNotFoundError):
        read_ivf_centroids(str(tmp_path / "nonexistent"))


def test_lsh_store_search_matches_inline_lsh(spark, tmp_path):
    """lsh_search over a materialized bucket-partitioned index returns
    exactly what the inline lsh_topk computes with the same planes, and
    its scan prunes non-probed posting lists at planning time."""
    from nested_pandas_spark.sources.lsh_store import (
        lsh_search,
        read_lsh_params,
        write_lsh_index,
    )

    emb = _clustered_embeddings(spark)
    q = emb.where(F.col("vec_id") < 6)
    path = str(tmp_path / "lsh_index")
    write_lsh_index(emb, path, num_planes=4, num_tables=2)
    assert read_lsh_params(path)["num_tables"] == 2

    for mp in (0, 2):
        inline = {
            (r["query_id"], r["rank"]): r["neighbor_id"]
            for r in sim.lsh_topk(
                emb, q, k=3, num_planes=4, num_tables=2, multi_probe=mp
            ).collect()
        }
        stored = lsh_search(spark, path, q, k=3, multi_probe=mp)
        got = {
            (r["query_id"], r["rank"]): r["neighbor_id"]
            for r in stored.collect()
        }
        assert got == inline, f"multi_probe={mp}"

    assert "__bucket" in _partition_filters(stored)


def test_lsh_store_missing_sidecar_raises(spark, tmp_path):
    from nested_pandas_spark.sources.lsh_store import read_lsh_params

    with pytest.raises(FileNotFoundError):
        read_lsh_params(str(tmp_path / "nonexistent"))


def test_strip_boilerplate_lines(spark):
    from nested_pandas_spark.pipeline.corpus import strip_boilerplate_lines

    banner = "subscribe to our newsletter"
    rows = [
        (1, f"intro one\n{banner}\n\nbody of doc one"),
        (2, f"{banner}\nbody of doc two"),
        (3, f"body of doc three\n  {banner}  "),  # trimmed form matches
        (4, "unique content only\n\nsecond paragraph"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in strip_boilerplate_lines(docs, min_df=3).collect()
    }
    # banner removed everywhere (df=3 across docs 1-3), incl. padded form
    assert out[1]["clean_text"] == "intro one\n\nbody of doc one"
    assert out[2]["clean_text"] == "body of doc two"
    assert out[3]["clean_text"] == "body of doc three"
    # untouched doc keeps text verbatim, blank line preserved
    assert out[4]["clean_text"] == "unique content only\n\nsecond paragraph"
    assert out[1]["n_lines"] == 4 and out[1]["n_removed"] == 1
    assert out[4]["n_removed"] == 0


def test_strip_boilerplate_lines_df_is_per_doc_not_per_occurrence(spark):
    from nested_pandas_spark.pipeline.corpus import strip_boilerplate_lines

    # the same line 3x in ONE doc is df=1, not df=3 -> kept
    docs = spark.createDataFrame(
        [(1, "echo\necho\necho"), (2, "other")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in strip_boilerplate_lines(docs, min_df=3).collect()}
    assert out[1]["clean_text"] == "echo\necho\necho"
    assert out[1]["n_removed"] == 0


def test_strip_boilerplate_lines_literal_separator(spark):
    # sep is documented literal, not regex: '.' must not match every char
    from nested_pandas_spark.pipeline.corpus import strip_boilerplate_lines

    docs = spark.createDataFrame(
        [(1, "ad.keep one"), (2, "ad.keep two"), (3, "ad.keep three")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           strip_boilerplate_lines(docs, sep=".", min_df=3).collect()}
    # 'ad' (df=3) stripped; the distinct 'keep N' parts survive
    assert out[1]["clean_text"] == "keep one"
    assert out[1]["n_lines"] == 2 and out[1]["n_removed"] == 1


def test_strip_boilerplate_lines_idempotent(spark):
    from nested_pandas_spark.pipeline.corpus import strip_boilerplate_lines

    rows = [(i, "common line\nunique %d" % i) for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    once = strip_boilerplate_lines(docs, min_df=3).select(
        "doc_id", F.col("clean_text").alias("text"))
    twice = strip_boilerplate_lines(once, min_df=3)
    assert twice.where(F.col("n_removed") > 0).count() == 0
    got = {r["doc_id"]: r["clean_text"] for r in twice.collect()}
    assert got == {i: "unique %d" % i for i in range(5)}


def test_source_stats_triage(spark):
    from nested_pandas_spark.pipeline.corpus import source_stats

    good = "the and for with that this from they have " * 30  # stopword-dense
    rows = [(i, "spamA", "zzz") for i in range(3)] + \
           [(i + 10, "siteB", good) for i in range(3)] + \
           [(99, "lonely", good)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["source"]: r for r in
           source_stats(docs, min_docs=2, min_avg_quality=0.6).collect()}
    assert out["siteB"]["keep"] and out["siteB"]["n_docs"] == 3
    assert not out["spamA"]["keep"]          # low quality
    assert not out["lonely"]["keep"]         # below min_docs
    assert out["siteB"]["total_tokens"] == 3 * 270  # 9 words x 30


def test_vocab_counts_and_tiebreak(spark):
    from nested_pandas_spark.pipeline.text import vocab

    docs = spark.createDataFrame(
        [(1, "aa bb aa"), (2, "bb cc"), (3, "AA")],
        "doc_id long, text string",
    )
    rows = vocab(docs).collect()
    d = {r["token"]: (r["n"], r["df"]) for r in rows}
    assert d["aa"] == (3, 2)   # case-folded; df counts docs not occurrences
    assert d["bb"] == (2, 2)
    assert d["cc"] == (1, 1)
    # equal-count ties order by token asc
    top = vocab(docs, top_k=2).collect()
    assert [r["token"] for r in top] == ["aa", "bb"]
    # min_count prunes the tail before any sort
    assert {r["token"] for r in vocab(docs, min_count=2).collect()} == {"aa", "bb"}


def test_strip_boilerplate_lines_null_text(spark):
    from nested_pandas_spark.pipeline.corpus import strip_boilerplate_lines

    docs = spark.createDataFrame(
        [(1, "keep\ncommon"), (2, "common\nother"), (3, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           strip_boilerplate_lines(docs, min_df=2).collect()}
    # NULL text stays NULL with zero counts; the invariant holds on all rows
    assert out[3]["clean_text"] is None
    assert out[3]["n_lines"] == 0 and out[3]["n_removed"] == 0
    assert out[1]["clean_text"] == "keep" and out[1]["n_removed"] == 1


def test_vocab_no_topk_unsorted_and_topk_zero(spark):
    from nested_pandas_spark.pipeline.text import vocab

    docs = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
    assert vocab(docs, top_k=0).count() == 0      # 0 means zero rows
    assert not find_nodes(vocab(docs), "Sort")    # no global sort by default


def test_knn_join_self_neighbors(spark):
    rng = np.random.RandomState(7)
    base = [rng.randn(16).astype(float) for _ in range(20)]
    rows = [(i, v.tolist()) for i, v in enumerate(base)]
    # clones of vector 0 and 1: guaranteed same buckets, cosine 1.0
    rows += [(100, base[0].tolist()), (101, base[1].tolist())]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = sim.knn_join(emb, k=3, num_planes=4, num_tables=2)
    nn = {r["query_id"]: r["neighbor_id"]
          for r in out.collect() if r["rank"] == 1}
    assert nn[0] == 100 and nn[100] == 0     # each clone finds its twin
    assert nn[1] == 101 and nn[101] == 1
    # every vector got ranked neighbors, ranks within 1..3, no self pairs
    rowsc = out.collect()
    assert all(1 <= r["rank"] <= 3 for r in rowsc)
    assert all(r["query_id"] != r["neighbor_id"] for r in rowsc)


def test_hard_negatives_cross_label_only(spark):
    rng = np.random.RandomState(9)
    base = [rng.randn(16).astype(float) for _ in range(20)]
    rows = [(i, v.tolist(), i % 3) for i, v in enumerate(base)]
    # clone of vector 0 with a DIFFERENT label: its hardest negative
    rows.append((100, base[0].tolist(), 1))
    # clone of vector 1 with the SAME label: must never be 1's negative
    rows.append((101, base[1].tolist(), 1 % 3))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = sim.hard_negatives(emb, "label", k=3, num_planes=4, num_tables=2)
    rowsc = out.collect()
    assert all(r["query_label"] != r["neighbor_label"] for r in rowsc)
    assert all(1 <= r["rank"] <= 3 for r in rowsc)
    nn = {r["query_id"]: r["neighbor_id"] for r in rowsc if r["rank"] == 1}
    assert nn[0] == 100 and nn[100] == 0   # cross-label twin is rank 1
    assert nn.get(1) != 101                # same-label twin never surfaces
    # max_sim false-negative guard drops the cosine~1.0 twin pair
    guarded = sim.hard_negatives(
        emb, "label", k=3, num_planes=4, num_tables=2, max_sim=0.95
    ).collect()
    assert all(r["cos_sim"] <= 0.95 for r in guarded)
    gnn = {r["query_id"]: r["neighbor_id"] for r in guarded if r["rank"] == 1}
    assert gnn.get(0) != 100


def test_hard_negatives_null_labels_and_validation(spark):
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.9, 0.1], 1),
        (2, [0.8, 0.2], None),  # unlabeled: no anchor, no negative
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = sim.hard_negatives(emb, "label", k=2, num_planes=2,
                             num_tables=2).collect()
    ids = {r["query_id"] for r in out} | {r["neighbor_id"] for r in out}
    assert 2 not in ids
    with pytest.raises(ValueError, match="k"):
        sim.hard_negatives(emb, "label", k=0)
    with pytest.raises(ValueError, match="max_sim"):
        sim.hard_negatives(emb, "label", max_sim=2.0)


def test_quantize_embeddings_roundtrip_and_bounds(spark):
    rng = np.random.RandomState(11)
    rows = [(i, rng.randn(8).astype(float).tolist()) for i in range(10)]
    rows.append((99, [0.0] * 8))  # all-zero vector: scale 0, codes 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = sim.quantize_embeddings(emb, keep_vec=True)
    for r in q.collect():
        codes, scale, vec = r["embedding_q"], r["embedding_scale"], r["embedding"]
        assert all(-127 <= c <= 127 for c in codes)
        if r["vec_id"] == 99:
            assert scale == 0.0 and all(c == 0 for c in codes)
            continue
        assert scale == pytest.approx(max(abs(x) for x in vec) / 127)
        # reconstruction error bounded by scale/2 per component
        for x, c in zip(vec, codes):
            assert abs(x - c * scale) <= scale / 2 + 1e-12
    # schema: tinyint codes (the 4x memory claim), float column dropped by default
    q2 = sim.quantize_embeddings(emb)
    assert "embedding" not in q2.columns
    assert dict(q2.dtypes)["embedding_q"] == "array<tinyint>"


def test_dequantize_embeddings_inverts(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, -2.0, 0.5])], "vec_id long, embedding array<float>"
    )
    rt = sim.dequantize_embeddings(sim.quantize_embeddings(emb), out="rec")
    [r] = rt.collect()
    scale = r["embedding_scale"]
    for x, y in zip([1.0, -2.0, 0.5], r["rec"]):
        assert abs(x - y) <= scale / 2 + 1e-12


def test_quantized_topk_matches_exact_ranking(spark):
    # well-separated vectors: int8 ranking must agree with float ranking
    rng = np.random.RandomState(5)
    base = [rng.randn(32).astype(float) for _ in range(30)]
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(base)],
        "vec_id long, embedding array<float>",
    )
    qdf = sim.quantize_embeddings(emb)
    queries = qdf.where(F.col("vec_id") < 3)
    got = sim.quantized_topk(qdf, queries, k=3)
    exact = sim.brute_force_topk(emb, emb.where(F.col("vec_id") < 3), k=3)
    g = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in got.collect()}
    e = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in exact.collect()}
    agree = sum(g[k_] == e[k_] for k_ in e)
    assert agree >= 8  # int8 keeps >=8/9 of the exact top-3 slots here
    assert all(1 <= r["rank"] <= 3 for r in got.collect())


def test_unigram_logprob_matches_python(spark):
    import math

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a zzz"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.unigram_logprob(docs).collect()}
    # model over the same docs: counts a=3, b=1, zzz=1; T=5, V=3; alpha=1
    T, V = 5, 3
    def lp(c):
        return math.log((c + 1) / (T + 1 * (V + 1)))
    assert out[1]["n_tokens"] == 3
    assert out[1]["mean_logp"] == pytest.approx((2 * lp(3) + lp(1)) / 3)
    assert out[2]["mean_logp"] == pytest.approx((lp(3) + lp(1)) / 2)
    # empty / NULL text: kept, zero tokens, NULL score
    assert out[3]["n_tokens"] == 0 and out[3]["mean_logp"] is None
    assert out[4]["n_tokens"] == 0 and out[4]["mean_logp"] is None


def test_unigram_logprob_reference_model(spark):
    import math

    ref = spark.createDataFrame([(1, "x x x x")], "doc_id long, text string")
    docs = spark.createDataFrame([(9, "x unseen")], "doc_id long, text string")
    [r] = tx.unigram_logprob(docs, model_docs=ref).collect()
    T, V = 4, 1
    seen = math.log((4 + 1) / (T + V + 1))
    unseen = math.log((0 + 1) / (T + V + 1))
    assert r["mean_logp"] == pytest.approx((seen + unseen) / 2)


def test_hashed_tfidf_matches_python(spark):
    import hashlib
    import math

    rows = [(1, "a a b"), (2, "b c"), (3, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    dim = 8
    out = {r["doc_id"]: list(r["vector"])
           for r in tx.hashed_tfidf(docs, dim=dim, normalize=False).collect()}

    def h32(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % dim

    N = 3
    dfreq = {"a": 1, "b": 2, "c": 1}
    for doc_id, text in rows:
        want = [0.0] * dim
        toks = [w for w in text.lower().split() if w]
        for term in set(toks):
            idf = math.log((N + 1) / (dfreq[term] + 1)) + 1
            want[h32(term)] += toks.count(term) * idf
        for g, w in zip(out[doc_id], want):
            assert g == pytest.approx(w), (doc_id, out[doc_id], want)
    assert out[3] == [0.0] * dim  # token-less doc keeps a zero vector


def test_hashed_tfidf_normalized_feeds_similarity(spark):
    docs = spark.createDataFrame(
        [(1, "spark table scan"), (2, "spark table scan"), (3, "totally different words")],
        "doc_id long, text string",
    )
    vecs = tx.hashed_tfidf(docs, dim=16)
    norms = vecs.selectExpr(
        "doc_id",
        "aggregate(vector, CAST(0.0 AS DOUBLE), (a, v) -> a + v*v) AS n2",
    ).collect()
    for r in norms:
        assert r["n2"] == pytest.approx(1.0)
    # identical docs -> cosine 1.0 via the similarity stack
    top = sim.brute_force_topk(
        vecs.withColumnRenamed("doc_id", "vec_id").withColumnRenamed("vector", "embedding"),
        vecs.where("doc_id = 1").withColumnRenamed("doc_id", "vec_id")
            .withColumnRenamed("vector", "embedding"),
        k=1,
    )
    [r] = top.collect()
    assert r["neighbor_id"] == 2 and r["cos_sim"] == pytest.approx(1.0)


def test_random_projection_matches_python_and_preserves_distance(spark):
    import hashlib
    import math

    rng = np.random.RandomState(6)
    vecs = [rng.randn(16).astype(float).tolist() for _ in range(6)]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    out_dim = 4
    got = {r["vec_id"]: list(r["projected"])
           for r in sim.random_projection(emb, out_dim, dim=16).collect()}

    def sign(j, i):
        h = int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[:4], 16)
        return 1.0 if h % 2 == 0 else -1.0

    for vid, v in enumerate(vecs):
        v32 = [np.float32(x) for x in v]  # matches the stored float column
        want = [sum(sign(j, i) * float(v32[i]) for i in range(16))
                / math.sqrt(out_dim) for j in range(out_dim)]
        for g, w in zip(got[vid], want):
            assert g == pytest.approx(w, rel=1e-9)


def test_recall_at_k(spark):
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (3, 30)],
        "query_id long, neighbor_id long")
    approx = spark.createDataFrame(
        [(1, 10), (1, 99), (1, 12), (2, 20), (2, 21)],  # query 3: no result
        "query_id long, neighbor_id long")
    got = {r["query_id"]: (r["n_exact"], r["n_hit"], r["recall"])
           for r in sim.recall_at_k(approx, exact).collect()}
    assert got[1] == (3, 2, pytest.approx(2 / 3))
    assert got[2] == (2, 2, pytest.approx(1.0))
    assert got[3] == (1, 0, 0.0)  # empty approximate result still reported


def test_random_projection_dim_inference_and_validation(spark):
    emb = spark.createDataFrame([(0, [1.0, 2.0])], "vec_id long, embedding array<float>")
    [r] = sim.random_projection(emb, 2).collect()  # dim inferred
    assert len(r["projected"]) == 2
    with pytest.raises(ValueError):
        sim.random_projection(emb, 0)
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        sim.random_projection(empty, 2)


def test_fuzzy_pairs_matches_bruteforce(spark):
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[len(b)]

    vals = ["spark", "spurk", "sparkle", "duck", "dusk", "db", "dc", "x",
            "warehouse", "warehoose", "completely-different"]
    df = spark.createDataFrame(list(enumerate(vals)), "id long, s string")
    got = sorted((r["id_a"], r["id_b"], r["dist"]) for r in
                 dd.fuzzy_pairs(df, "id", "s", max_dist=1, q=2).collect())
    want = sorted(
        (i, j, lev(a, b))
        for (i, a), (j, b) in itertools.combinations(enumerate(vals), 2)
        if lev(a, b) <= 1
    )
    assert got == want  # complete AND exact, incl. 2-char and 1-char codes


def test_fuzzy_pairs_max_dist2_matches_bruteforce(spark):
    """Completeness at max_dist=2 over random short strings: pairs whose
    lengths differ by 2 share no q-gram ('ab' vs 'axby') and are only
    reachable through the LEN:n..n+max_dist buckets — the advice-r3 gap."""
    import itertools
    import random

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[len(b)]

    rng = random.Random(13)
    vals = list({
        "".join(rng.choice("abc") for _ in range(rng.randrange(1, 7)))
        for _ in range(60)
    })
    vals += ["ab", "axby", "", "xy"]  # the adversarial dist-2 shape + empties
    vals = sorted(set(vals))
    df = spark.createDataFrame(list(enumerate(vals)), "id long, s string")
    got = sorted((r["id_a"], r["id_b"], r["dist"]) for r in
                 dd.fuzzy_pairs(df, "id", "s", max_dist=2, q=2).collect())
    want = sorted(
        (i, j, lev(a, b))
        for (i, a), (j, b) in itertools.combinations(enumerate(vals), 2)
        if lev(a, b) <= 2
    )
    assert got == want
    assert any(abs(len(vals[i]) - len(vals[j])) == 2 for i, j, _ in want), \
        "corpus must actually exercise length-difference-2 pairs"


def test_fuzzy_pairs_validation_and_nulls(spark):
    df = spark.createDataFrame([(0, "ab"), (1, None)], "id long, s string")
    assert dd.fuzzy_pairs(df, "id", "s").count() == 0  # NULLs dropped
    import pytest as _pt
    with _pt.raises(ValueError):
        dd.fuzzy_pairs(df, "id", "s", max_dist=-1)
    with _pt.raises(ValueError):
        dd.fuzzy_pairs(df, "id", "s", q=0)


def test_fuzzy_pairs_max_posting_drops_hot_grams(spark):
    # 20 strings share the hot gram "aa"; the two near-dup pairs also share
    # rarer grams, so the cap must not lose them
    rows = [(i, f"aa{i:03d}") for i in range(20)]
    rows += [(100, "zzqxj"), (101, "zzqxk")]
    df = spark.createDataFrame(rows, "id long, s string")
    capped = dd.fuzzy_pairs(df, "id", "s", max_dist=1, q=2, max_posting=5)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in got  # survives via its rare grams
    with pytest.raises(ValueError):
        dd.fuzzy_pairs(df, "id", "s", max_posting=1)


def test_gopher_rules_signals(spark):
    from nested_pandas_spark.pipeline.text import gopher_rules

    good = "the cat and the dog sat in that house of theirs " * 8
    bullets = "- one\n- two\n- three\n- four"
    ellipsis = "this trails off...\nand this one too…\nbut not this"
    dupl = "same line\nsame line\nsame line\nother"
    symbols = "# lots # of # hashes # in # here #"
    df = spark.createDataFrame(
        [(0, good), (1, bullets), (2, ellipsis), (3, dupl), (4, symbols),
         (5, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_rules(
        df, min_words=5, min_stop_hits=1, min_mean_word_len=2.0,
        max_mean_word_len=10.0).collect()}
    assert out[0]["gopher_pass"]
    assert out[1]["gopher_bullet_ratio"] == pytest.approx(1.0)
    assert not out[1]["gopher_pass"]          # all-bullet doc fails
    assert out[2]["gopher_ellipsis_ratio"] == pytest.approx(2 / 3)
    assert out[3]["gopher_dup_line_frac"] == pytest.approx(0.5)
    assert not out[3]["gopher_pass"]          # dup lines above 0.3
    assert out[4]["gopher_symbol_ratio"] > 0.1 and not out[4]["gopher_pass"]
    assert out[5]["gopher_pass"] is False     # NULL text: fails, not NULL
    assert out[5]["gopher_n_words"] is None


def test_dedup_lines_order_and_nulls(spark):
    from nested_pandas_spark.pipeline.corpus import dedup_lines

    df = spark.createDataFrame(
        [(0, "b\na\nb\nc\na"), (1, "x"), (2, None), (3, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: (r["text_deduped"], r["n_removed"])
           for r in dedup_lines(df).collect()}
    assert out[0] == ("b\na\nc", 2)   # first occurrences, order kept
    assert out[1] == ("x", 0)
    assert out[2] == (None, None)
    assert out[3] == ("", 0)
    # custom separator with regex metacharacters must be escaped
    df2 = spark.createDataFrame([(0, "a|b|a")], "doc_id long, text string")
    [r] = dedup_lines(df2, sep="|").collect()
    assert r["text_deduped"] == "a|b"


def test_bpe_pair_stats(spark):
    from nested_pandas_spark.pipeline.text import bpe_pair_stats

    df = spark.createDataFrame(
        [(0, "aab ab a"), (1, "aab X"), (2, None)], "doc_id long, text string")
    # words: aab(x2), ab(x1), a(x1), x(x1)  ->  pairs: aa:2, ab:3
    got = {(r["left"], r["right"]): r["n"]
           for r in bpe_pair_stats(df).collect()}
    assert got == {("a", "a"): 2, ("a", "b"): 3}
    top = bpe_pair_stats(df, top_k=1).collect()
    assert [(top[0]["left"], top[0]["right"], top[0]["n"])] == [("a", "b", 3)]
    assert bpe_pair_stats(df, min_count=3).count() == 1


def _dedup_passages_ref(docs, window, stride=1, min_count=2):
    """Brute-force reference: dict of id -> (text_deduped, n_removed)."""
    toks = {i: (t.split() if t is not None else None) for i, t in docs}
    occ = []
    for i, tk in sorted(toks.items()):
        if tk is None:
            continue
        for s in range(0, len(tk) - window + 1, stride):
            occ.append((" ".join(tk[s:s + window]), i, s))
    from collections import Counter
    counts = Counter(p for p, _, _ in occ)
    owner = {}
    for p, i, s in sorted(occ, key=lambda x: (x[1], x[2])):
        owner.setdefault(p, (i, s))
    out = {}
    for i, tk in toks.items():
        if tk is None:
            out[i] = (None, 0)
            continue
        removed = set()
        for p, j, s in occ:
            if j == i and counts[p] >= min_count and owner[p] != (i, s):
                removed.update(range(s, s + window))
        kept = [t for k, t in enumerate(tk) if k not in removed]
        out[i] = (" ".join(kept), len(tk) - len(kept))
    return out


def test_dedup_passages_matches_bruteforce(spark):
    from nested_pandas_spark.pipeline.dedup import dedup_passages

    boiler = "all rights reserved contact us for more info"
    docs = [
        (0, f"alpha beta gamma {boiler} delta"),
        (1, f"{boiler} unrelated tail words here"),
        (2, f"prefix words {boiler}"),
        (3, "totally unique document with no repeats at all"),
        (4, None),
        (5, ""),
        (6, "short"),
        (7, "alpha beta gamma delta alpha beta gamma delta"),  # self-repeat
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for window, stride in [(4, 1), (3, 2), (8, 1)]:
        got = {r["doc_id"]: (r["text_deduped"], r["n_removed"])
               for r in dedup_passages(df, window=window, stride=stride).collect()}
        ref = _dedup_passages_ref(docs, window, stride)
        assert got == ref, f"window={window} stride={stride}"


def test_dedup_passages_min_count_and_validation(spark):
    from nested_pandas_spark.pipeline.dedup import dedup_passages

    docs = [(0, "a b c d"), (1, "a b c d"), (2, "a b c d")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # min_count=4 > occurrences -> nothing removed
    got = {r["doc_id"]: r["n_removed"]
           for r in dedup_passages(df, window=4, min_count=4).collect()}
    assert got == {0: 0, 1: 0, 2: 0}
    # min_count=3 catches the triple
    got = {r["doc_id"]: r["n_removed"]
           for r in dedup_passages(df, window=4, min_count=3).collect()}
    assert got == {0: 0, 1: 4, 2: 4}
    import pytest as _pt
    for kw in ({"window": 0}, {"stride": 0}, {"min_count": 1}):
        with _pt.raises(ValueError):
            dedup_passages(df, **kw)


def _bpe_ref(word_counts, n_merges, end_marker=None, symbolize=None):
    """Reference BPE trainer (Sennrich et al. 2016 greedy merges).
    ``symbolize`` overrides the default character symbolization (used by
    the byte-level variant with hex byte pairs)."""
    vocab = {}
    for w, c in word_counts.items():
        if symbolize is not None:
            syms = symbolize(w)
        else:
            syms = list(w) + ([end_marker] if end_marker else [])
        vocab[w] = (tuple(syms), c)
    merges = []
    for step in range(1, n_merges + 1):
        counts = {}
        for syms, c in vocab.values():
            for a, b in zip(syms[:-1], syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + c
        if not counts:
            break
        (l, r), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, l, r, n))
        new = {}
        for w, (syms, c) in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[w] = (tuple(out), c)
        vocab = new
    return merges, {w: " ".join(s) for w, (s, _) in vocab.items()}


def test_bpe_train_matches_reference(spark):
    from nested_pandas_spark.pipeline.text import bpe_train

    # adjacent-repeat words ("aaaa", "haha", "....") are the adversarial
    # class: a naive single-space padded replace consumes the shared
    # delimiter and skips every second occurrence (round-4 verdict bug)
    texts = ["low lower lowest low low", "newer newest new low",
             "wider wide wide new", None, "low newer",
             "aaaa haha hahahaha .... aaaa aaaa haha"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "id long, text string")
    wc = {}
    for t in texts:
        if t is None:
            continue
        for w in t.lower().split():
            wc[w] = wc.get(w, 0) + 1
    for marker in (None, "</w>"):
        merges, vocab = bpe_train(df, 6, end_marker=marker,
                                  checkpoint_every=3)
        ref_m, ref_v = _bpe_ref(wc, 6, marker)
        got_m = [(r["step"], r["left"], r["right"], r["n"])
                 for r in merges.orderBy("step").collect()]
        assert got_m == ref_m, f"marker={marker}"
        got_v = {r["word"]: r["syms"] for r in vocab.collect()}
        assert got_v == ref_v, f"marker={marker}"


def _pretokenize_ref(text):
    """Python reference for BYTE_PRETOKEN_PATTERN: a manual leftmost-first
    scan over the alternation (contractions | ' ?letters+' | ' ?digits+'
    | ' ?other+' | 'spaces+') using Unicode categories, replicating what
    Java regex and RE2 both do on that pattern."""
    import unicodedata

    contr = ["'s", "'t", "'re", "'ve", "'m", "'ll", "'d"]
    sp = " \t\n\x0b\f\r"  # Java \s

    def cat(ch):
        c = unicodedata.category(ch)
        if c.startswith("L"):
            return "L"
        if c.startswith("N"):
            return "N"
        if ch in sp:
            return "S"
        return "O"

    out, i, n = [], 0, len(text)
    while i < n:
        hit = next((c for c in contr if text.startswith(c, i)), None)
        if hit:
            out.append(hit)
            i += len(hit)
            continue
        k = i + 1 if text[i] == " " else i
        matched = False
        for want in ("L", "N", "O"):
            if k < n and cat(text[k]) == want:
                e = k
                while e < n and cat(text[e]) == want:
                    e += 1
                out.append(text[i:e])
                i = e
                matched = True
                break
        if matched:
            continue
        assert cat(text[i]) == "S"
        e = i
        while e < n and cat(text[e]) == "S":
            e += 1
        out.append(text[i:e])
        i = e
    return out


def _hex_syms(w):
    return [f"{b:02X}" for b in w.encode("utf-8")]


def test_pretokens_matches_reference(spark):
    from nested_pandas_spark.pipeline.text import pretokens

    texts = [
        "low lower  lowest, it's Löwe 42!",
        "don't we'll they're I'm you've he'd can't",
        "x=1;y+=2 // comment\n\ttab   spaces",
        "汉字 and ASCII mixed… naïve café №5",
        "",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    got = {r["id"]: r["p"]
           for r in df.select("id", pretokens("text").alias("p")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == _pretokenize_ref(t), t
        assert "".join(got[i]) == t  # lossless


def test_byte_bpe_train_matches_reference(spark):
    from nested_pandas_spark.pipeline.text import byte_bpe_train

    texts = ["low lower lowest low low", "newer newest new low",
             None, "aaaa haha hahahaha .... aaaa aaaa haha",
             "it's Löwe 42! it's"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "id long, text string")
    wc = {}
    for t in texts:
        if t is None:
            continue
        for w in _pretokenize_ref(t):
            wc[w] = wc.get(w, 0) + 1
    merges, vocab = byte_bpe_train(df, 8, checkpoint_every=3)
    ref_m, ref_v = _bpe_ref(wc, 8, symbolize=_hex_syms)
    got_m = [(r["step"], r["left"], r["right"], r["n"])
             for r in merges.orderBy("step").collect()]
    assert got_m == ref_m
    got_v = {r["word"]: r["syms"] for r in vocab.collect()}
    assert got_v == ref_v
    vocab.unpersist()


def test_byte_bpe_encode_roundtrip_zero_oov(spark):
    """Any input — code, multilingual, emoji — must encode with zero OOV
    and decode back to the exact original text."""
    from nested_pandas_spark.pipeline.text import (
        byte_bpe_decode,
        byte_bpe_encode,
        byte_bpe_train,
    )

    train = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        "id long, text string",
    )
    merges, vocab = byte_bpe_train(train, 6)
    vocab.unpersist()
    # encode text full of symbols the trainer never saw
    texts = ["汉字テスト🚀", "def f(x):\n\treturn x*2  # ünïcödé",
             "the dog", "", None]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "id long, text string")
    rows = {r["id"]: r for r in byte_bpe_encode(df, merges).select(
        "id", "tokens", "tokens_n",
        byte_bpe_decode("tokens").alias("rt")).collect()}
    for i, t in enumerate(texts):
        if t is None:
            assert rows[i]["tokens"] is None and rows[i]["tokens_n"] is None
        else:
            assert rows[i]["rt"] == t  # lossless round trip, OOV = 0
            assert rows[i]["tokens_n"] == len(rows[i]["tokens"])


def test_byte_bpe_encode_vocab_matches_literal(spark):
    """The broadcast-vocab scale path must equal the literal replace
    chain exactly — for in-vocab pretokens (joined syms), OOV with byte
    fallback, and OOV with the merge chain passed."""
    from nested_pandas_spark.pipeline.text import (
        byte_bpe_encode,
        byte_bpe_encode_vocab,
        byte_bpe_train,
    )

    train = spark.createDataFrame(
        [(0, "low lower lowest low low it's 42")],
        "id long, text string",
    )
    merges, vocab = byte_bpe_train(train, 6)
    df = spark.createDataFrame(
        [(0, "low lower unseen 42 Löwe"), (1, None), (2, "")],
        "id long, text string",
    )
    lit_rows = {r["id"]: (r["tokens"], r["tokens_n"])
                for r in byte_bpe_encode(df, merges).collect()}
    # with merges: exact parity including OOV pretokens
    voc_rows = {r["id"]: (r["tokens"], r["tokens_n"])
                for r in byte_bpe_encode_vocab(df, vocab, merges).collect()}
    assert voc_rows == lit_rows
    # without merges: OOV pretokens fall back to raw byte symbols
    raw = {r["id"]: r["tokens"]
           for r in byte_bpe_encode_vocab(df, vocab).collect()}
    assert raw[1] is None and raw[2] == []
    assert all(len(t) == 2 or t in lit_rows[0][0] for t in raw[0])
    vocab.unpersist()


def test_bpe_train_early_stop_and_validation(spark):
    from nested_pandas_spark.pipeline.text import bpe_train

    df = spark.createDataFrame([(0, "ab")], "id long, text string")
    merges, vocab = bpe_train(df, 10, end_marker=None)
    # 'ab' -> one merge possible, then single symbol: early stop
    assert merges.count() == 1
    [v] = vocab.collect()
    assert v["syms"] == "ab"
    merges2, _ = bpe_train(df, 5, end_marker=None, min_pair_count=2)
    assert merges2.count() == 0  # best pair count 1 < 2
    import pytest as _pt
    with _pt.raises(ValueError):
        bpe_train(df, 0)
    with _pt.raises(ValueError):
        bpe_train(df, 1, end_marker="a b")


def _bpe_encode_ref(text, merges, end_marker=None):
    toks = []
    for w in text.lower().split():
        syms = list(w) + ([end_marker] if end_marker else [])
        for l, r in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        toks.extend(syms)
    return toks


def test_bpe_encode_matches_reference(spark):
    from nested_pandas_spark.pipeline.text import bpe_encode, bpe_train

    train_texts = ["low lower lowest low low", "newer newest new low"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(train_texts)],
                               "id long, text string")
    for marker in (None, "</w>"):
        merges, _ = bpe_train(df, 5, end_marker=marker)
        mlist = [(r["left"], r["right"]) for r in merges.orderBy("step").collect()]
        enc_df = spark.createDataFrame(
            [(0, "low slowest newest"), (1, None), (2, "")],
            "id long, text string")
        got = {r["id"]: (r["tokens"], r["tokens_n"])
               for r in bpe_encode(enc_df, merges, end_marker=marker).collect()}
        ref = _bpe_encode_ref("low slowest newest", mlist, marker)
        assert got[0] == (ref, len(ref)), f"marker={marker}"
        assert got[1] == (None, None)
        assert got[2] == ([], 0)
        # tuple-list input path
        got2 = bpe_encode(enc_df.where("id = 0"), mlist,
                          end_marker=marker).collect()[0]
        assert got2["tokens"] == ref


def test_bpe_adjacent_repeats_sennrich_semantics(spark):
    """Regression for the round-4 verdict defect: merges on back-to-back
    pair repeats must follow Sennrich's greedy scan ('abab' with merge
    (a,b) -> ['ab','ab'], 'aaaa' with (a,a) -> ['aa','aa']), which the
    old single-space padded replace got wrong ('ab a b' / 'aa a a')."""
    from nested_pandas_spark.pipeline.text import bpe_encode, bpe_train

    got = bpe_encode(
        spark.createDataFrame([(0, "abab")], "id long, text string"),
        [("a", "b")], end_marker=None).collect()[0]
    assert got["tokens"] == ["ab", "ab"]
    got = bpe_encode(
        spark.createDataFrame([(0, "aaaa aaa")], "id long, text string"),
        [("a", "a")], end_marker=None).collect()[0]
    assert got["tokens"] == ["aa", "aa", "aa", "a"]
    # second-round merge on the merged symbol: aa+aa -> aaaa
    got = bpe_encode(
        spark.createDataFrame([(0, "aaaa aaaaaa")], "id long, text string"),
        [("a", "a"), ("aa", "aa")], end_marker=None).collect()[0]
    assert got["tokens"] == ["aaaa", "aaaa", "aa"]
    # train end-to-end on a repeat-heavy corpus vs the Python reference
    texts = ["haha hahahaha haha", "...... .... ..", "aaaa aa aaaa aaaa"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "id long, text string")
    wc = {}
    for t in texts:
        for w in t.split():
            wc[w] = wc.get(w, 0) + 1
    for marker in (None, "</w>"):
        merges, vocab = bpe_train(df, 5, end_marker=marker,
                                  checkpoint_every=2)
        ref_m, ref_v = _bpe_ref(wc, 5, marker)
        got_m = [(r["step"], r["left"], r["right"], r["n"])
                 for r in merges.orderBy("step").collect()]
        assert got_m == ref_m, f"marker={marker}"
        assert {r["word"]: r["syms"] for r in vocab.collect()} == ref_v
        vocab.unpersist()


def test_bpe_encode_vocab_join_path(spark):
    from nested_pandas_spark.pipeline.text import (
        bpe_encode, bpe_encode_vocab, bpe_train)

    train_texts = ["low lower lowest low low haha hahahaha",
                   "newer newest new low haha aaaa aaaa"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(train_texts)],
                               "id long, text string")
    merges, vocab = bpe_train(df, 6)
    enc_df = spark.createDataFrame(
        [(0, "low newest haha aaaa"), (1, None), (2, ""),
         (3, "LOW Lower")],  # case-folds onto trained words
        "id long, text string")
    # seen-word parity with the literal path (all words in vocab)
    lit = {r["id"]: (r["tokens"], r["tokens_n"])
           for r in bpe_encode(enc_df, merges).collect()}
    via_vocab = {r["id"]: (r["tokens"], r["tokens_n"])
                 for r in bpe_encode_vocab(enc_df, vocab).collect()}
    assert via_vocab == lit
    # schema parity too (driver hash-compare relies on it)
    assert (bpe_encode_vocab(enc_df, vocab).schema
            == bpe_encode(enc_df, merges).schema)
    # OOV word: char fallback without merges, literal-chain with merges
    oov = spark.createDataFrame([(0, "zzap low")], "id long, text string")
    got_char = bpe_encode_vocab(oov, vocab).collect()[0]["tokens"]
    assert got_char[:5] == ["z", "z", "a", "p", "</w>"]
    got_m = bpe_encode_vocab(oov, vocab, merges=merges).collect()[0]
    assert got_m["tokens"] == bpe_encode(oov, merges).collect()[0]["tokens"]
    vocab.unpersist()


def test_bpe_encode_vocab_large_merge_table(spark):
    """The 32k-merge regime the literal path can't serve: train with the
    Python Sennrich reference (driver-side, fast), ship only the VOCAB
    table to Spark, and check the join-encode matches the reference
    token stream with >= 1000 merges."""
    import random

    from nested_pandas_spark.pipeline.text import bpe_encode_vocab

    rng = random.Random(7)
    words = ["".join(rng.choice("abcdef") for _ in range(rng.randint(3, 12)))
             for _ in range(400)]
    wc = {}
    for w in words:
        wc[w] = wc.get(w, 0) + 1
    ref_m, ref_v = _bpe_ref(wc, 1200, "</w>")
    assert len(ref_m) >= 1000
    vocab = spark.createDataFrame(
        [(w, 1, s) for w, s in ref_v.items()],
        "word string, wc long, syms string")
    doc = " ".join(words[:100])
    df = spark.createDataFrame([(0, doc)], "id long, text string")
    got = bpe_encode_vocab(df, vocab).collect()[0]
    expect = []
    for w in doc.split():
        expect.extend(ref_v[w].split(" "))
    assert got["tokens"] == expect
    assert got["tokens_n"] == len(expect)
    # plan shape: despite 1200 merges, the encode is ONE broadcast hash
    # join of words against the vocab — the merge chain must NOT ride in
    # the plan as a nested replace tower (vocab here has clean lineage,
    # so any replace( in the plan would come from the encode itself)
    plan = list(plan_nodes(bpe_encode_vocab(df, vocab)))
    assert find_nodes(plan, "BroadcastHashJoin")
    assert not find_nodes(plan, text="replace(")


def _dsir_ref(raw_docs, target_docs, dim, smoothing=1.0):
    """Brute-force DSIR log-weights keyed by doc id."""
    import hashlib
    import math

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % dim

    def feats(text):
        w = text.lower().split()
        grams = list(w) + [" ".join(w[i:i + 2]) for i in range(len(w) - 1)]
        return [bucket(g) for g in grams]

    def dist(docs):
        counts = {}
        total = 0
        for _, t in docs:
            if t is None:
                continue
            for b in feats(t):
                counts[b] = counts.get(b, 0) + 1
                total += 1
        return {b: math.log(counts.get(b, 0) + smoothing)
                   - math.log(total + smoothing * dim) for b in range(dim)}

    lp, lq = dist(target_docs), dist(raw_docs)
    out = {}
    for i, t in raw_docs:
        if t is None:
            out[i] = None
        else:
            out[i] = sum(lp[b] - lq[b] for b in feats(t))
    return out


def test_dsir_weights_match_bruteforce(spark):
    from nested_pandas_spark.pipeline.corpus import dsir_sample, dsir_weights

    raw = [(0, "physics experiment results and analysis"),
           (1, "buy cheap pills online now click here"),
           (2, "quantum physics of the early universe"),
           (3, "the analysis of experiment data in physics"),
           (4, None),
           (5, "click here now for cheap offers")]
    target = [(100, "physics analysis of experiment data"),
              (101, "universe scale physics experiment")]
    raw_df = spark.createDataFrame(raw, "doc_id long, text string")
    tgt_df = spark.createDataFrame(target, "doc_id long, text string")
    dim = 64
    got = {r["doc_id"]: r["dsir_logw"]
           for r in dsir_weights(raw_df, tgt_df, dim=dim).collect()}
    ref = _dsir_ref(raw, target, dim)
    for i, v in ref.items():
        if v is None:
            assert got[i] is None
        else:
            assert got[i] == pytest.approx(v, rel=1e-9), i
    # the physics docs must outrank the spam under the physics target
    top = [r["doc_id"] for r in dsir_sample(raw_df, tgt_df, 3, dim=dim).collect()]
    assert set(top) <= {0, 2, 3}
    import pytest as _pt
    with _pt.raises(ValueError):
        dsir_weights(raw_df, tgt_df, dim=1)
    with _pt.raises(ValueError):
        dsir_sample(raw_df, tgt_df, 0)


def test_semantic_decontaminate_matches_bruteforce(spark):
    from nested_pandas_spark.pipeline.similarity import semantic_decontaminate

    import math as _m
    corpus = [(0, [1.0, 0.0, 0.0]),
              (1, [0.9, 0.1, 0.0]),
              (2, [0.0, 1.0, 0.0]),
              (3, None),
              (4, [0.0, 0.0, 2.0])]
    bench = [(100, [1.0, 0.0, 0.0]), (101, [0.0, 0.0, 1.0])]
    cdf = spark.createDataFrame(corpus, "vec_id long, embedding array<double>")
    bdf = spark.createDataFrame(bench, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: (r["max_bench_sim"], r["contaminated"])
           for r in semantic_decontaminate(cdf, bdf, 0.95).collect()}

    def cos(a, b):
        na = _m.sqrt(sum(x * x for x in a))
        nb = _m.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    for i, v in corpus:
        if v is None:
            assert got[i] == (None, False)
        else:
            ref = max(cos(v, b) for _, b in bench)
            assert got[i][0] == pytest.approx(ref, rel=1e-9)
            assert got[i][1] == (ref >= 0.95)
    assert got[0][1] and got[4][1] and not got[2][1]
    # empty benchmark -> nothing contaminated, sims NULL
    empty = bdf.where("vec_id < 0")
    got2 = {r["vec_id"]: (r["max_bench_sim"], r["contaminated"])
            for r in semantic_decontaminate(cdf, empty, 0.9).collect()}
    assert all(v == (None, False) for v in got2.values())
    import pytest as _pt
    with _pt.raises(ValueError):
        semantic_decontaminate(cdf, bdf, 0.0)


def test_token_entropy_matches_reference(spark):
    import math as _m

    from nested_pandas_spark.pipeline.text import token_entropy

    docs = [(0, "a b a b a b"), (1, "x"), (2, ""), (3, None),
            (4, "one two three four"), (5, "a a a b")]
    df = spark.createDataFrame(docs, "id long, text string")
    got = {r["id"]: r["token_entropy"]
           for r in df.select("id", token_entropy("text")).collect()}
    for i, t in docs:
        if t is None:
            assert got[i] is None
            continue
        w = t.lower().split()
        if not w:
            assert got[i] == 0.0
            continue
        from collections import Counter
        ref = -sum((c / len(w)) * _m.log2(c / len(w))
                   for c in Counter(w).values())
        assert got[i] == pytest.approx(ref, rel=1e-12), i


def _gopher_rep_ref(text, top_ns=(2, 3, 4), dup_ns=(5, 6, 7, 8, 9, 10)):
    if text is None:
        return {f"top{n}": None for n in top_ns} | {f"dup{n}": None for n in dup_ns}
    w = text.lower().split()
    out = {}
    for n in top_ns:
        grams = [" ".join(w[i:i + n]) for i in range(len(w) - n + 1)]
        if not w:
            out[f"top{n}"] = 0.0
            continue
        if not grams:
            out[f"top{n}"] = 0.0
            continue
        from collections import Counter
        cnt = Counter(grams)
        c, g = max(((c, g) for g, c in cnt.items()),
                   key=lambda t: (t[0], [-ord(ch) for ch in t[1]]))
        # tie-break: count desc then gram asc
        best = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        out[f"top{n}"] = n * best[1] / len(w)
    for n in dup_ns:
        grams = [" ".join(w[i:i + n]) for i in range(len(w) - n + 1)]
        if not w or not grams:
            out[f"dup{n}"] = 0.0
            continue
        from collections import Counter
        cnt = Counter(grams)
        covered = set()
        for i, g in enumerate(grams):
            if cnt[g] >= 2:
                covered.update(range(i, i + n))
        out[f"dup{n}"] = len(covered) / len(w)
    return out


def test_gopher_repetition_matches_reference(spark):
    from nested_pandas_spark.pipeline.text import gopher_repetition

    docs = [
        (0, "spam " * 30),                          # overlapping 2-gram repeat
        (1, "the quick brown fox jumps over the lazy dog near the bank "
            "the quick brown fox jumps over the lazy dog near the river"),
        (2, " ".join(f"w{i}" for i in range(40))),  # fully diverse
        (3, None),
        (4, ""),
        (5, "tiny doc"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict()
           for r in gopher_repetition(df).collect()}
    for i, t in docs:
        ref = _gopher_rep_ref(t)
        for k, v in ref.items():
            col = f"gopher_{k}_frac"
            if v is None:
                assert got[i][col] is None, (i, k)
            else:
                assert got[i][col] == pytest.approx(v, rel=1e-12), (i, k, got[i][col])
    assert got[0]["gopher_top2_frac"] > 1.5       # overlap-heavy spam
    assert got[1]["gopher_dup5_frac"] > 0.5       # long duplicated span
    assert got[2]["gopher_dup5_frac"] == 0.0


def test_bigram_logprob_matches_bruteforce(spark):
    import math as _m
    from collections import Counter

    from nested_pandas_spark.pipeline.text import bigram_logprob

    docs = [(0, "the cat sat on the mat"),
            (1, "mat the on sat cat the"),   # same unigrams, scrambled order
            (2, "one"), (3, None), (4, "the cat sat")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bigrams"], r["mean_logp"])
           for r in bigram_logprob(df).collect()}

    toks = {i: (t.lower().split() if t else []) for i, t in docs}
    bi = Counter()
    ctx = Counter()
    vocab = set()
    for w in toks.values():
        vocab.update(w)
        for a, b in zip(w[:-1], w[1:]):
            bi[(a, b)] += 1
            ctx[a] += 1
    V = len(vocab)
    for i, w in toks.items():
        pairs = list(zip(w[:-1], w[1:]))
        if not pairs:
            assert got[i] == (0, None)
            continue
        lps = [_m.log((bi[p] + 1.0) / (ctx[p[0]] + 1.0 * (V + 1)))
               for p in pairs]
        assert got[i][0] == len(pairs)
        assert got[i][1] == pytest.approx(sum(lps) / len(lps), rel=1e-12), i
    # natural order must outscore the scramble built from the same words
    assert got[0][1] > got[1][1]


def _kn_reference(score_docs, model_docs, discount=None):
    """Dense Python replay of interpolated Kneser-Ney bigram scoring with
    the add-one continuation distribution (the module's documented
    variant)."""
    import math as _m
    from collections import Counter

    toks = {i: (t.lower().split() if t else []) for i, t in model_docs}
    bi = Counter()
    vocab = set()
    for w in toks.values():
        vocab.update(w)
        for a, b in zip(w[:-1], w[1:]):
            bi[(a, b)] += 1
    ctx = Counter()
    nfwd = Counter()
    nbwd = Counter()
    for (a, b), c in bi.items():
        ctx[a] += c
        nfwd[a] += 1
        nbwd[b] += 1
    T, V = len(bi), len(vocab)
    if discount is None:
        n1 = sum(1 for c in bi.values() if c == 1)
        n2 = sum(1 for c in bi.values() if c == 2)
        discount = n1 / (n1 + 2 * n2) if (n1 + 2 * n2) else 0.5

    def pcont(w2):
        return (nbwd.get(w2, 0) + 1.0) / (T + V + 1.0)

    out = {}
    for i, t in score_docs:
        w = t.lower().split() if t else []
        pairs = list(zip(w[:-1], w[1:]))
        if not pairs:
            out[i] = (0, None)
            continue
        lps = []
        for a, b in pairs:
            if ctx.get(a, 0) > 0:
                p = (max(bi.get((a, b), 0) - discount, 0.0)
                     + discount * nfwd[a] * pcont(b)) / ctx[a]
            else:
                p = pcont(b)
            lps.append(_m.log(p))
        out[i] = (len(pairs), sum(lps) / len(lps))
    return out


@pytest.mark.parametrize("discount", [None, 0.4])
def test_kn_bigram_logprob_matches_bruteforce(spark, discount):
    from nested_pandas_spark.pipeline.text import kn_bigram_logprob

    docs = [(0, "the cat sat on the mat"),
            (1, "mat the on sat cat the"),   # same unigrams, scrambled
            (2, "one"), (3, None), (4, "the cat sat"),
            (5, "unseen words entirely here")]
    model = [(0, "the cat sat on the mat"), (1, "the dog sat on a mat"),
             (2, "a cat and a dog"), (3, "the cat ran")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    mdf = spark.createDataFrame(model, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bigrams"], r["mean_logp"])
           for r in kn_bigram_logprob(df, model_docs=mdf,
                                      discount=discount).collect()}
    ref = _kn_reference(docs, model, discount)
    for i, (n, lp) in ref.items():
        assert got[i][0] == n, i
        if lp is None:
            assert got[i][1] is None
        else:
            assert got[i][1] == pytest.approx(lp, rel=1e-12), i
    # natural order outscores the scramble of the same words
    assert got[0][1] > got[1][1]


def test_kn_bigram_logprob_self_model_and_validation(spark):
    from nested_pandas_spark.pipeline.text import kn_bigram_logprob

    docs = [(0, "a b a b a b"), (1, "b a"), (2, "")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bigrams"], r["mean_logp"])
           for r in kn_bigram_logprob(df).collect()}
    ref = _kn_reference(docs, docs)
    for i, (n, lp) in ref.items():
        assert got[i][0] == n
        if lp is None:
            assert got[i][1] is None
        else:
            assert got[i][1] == pytest.approx(lp, rel=1e-12)
    with pytest.raises(ValueError, match="discount"):
        kn_bigram_logprob(df, discount=1.0)


def test_ann_recall_floor_on_bench_config(spark):
    """The bench's recall block (BENCH_r{N}.json 'recall') must stay
    meaningful: each approximate index at the bench configuration
    retrieves a sane fraction of the exact top-10 on the real
    embeddings table. Floors are deliberately loose — synthetic vectors
    are near-orthogonal, the worst case for ANN — they exist to catch
    a quality collapse (recall ~ 0 from a broken index), not to tune."""
    from nested_pandas_spark.pipeline import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 10)
    exact = sim.brute_force_topk(emb, qs, k=10)

    def mean_recall(approx):
        r = sim.recall_at_k(approx, exact).agg(
            F.avg("recall").alias("r")).collect()[0]["r"]
        return float(r)

    lsh = mean_recall(sim.lsh_topk(emb, qs, k=10, num_planes=4,
                                   num_tables=2))
    ivf = mean_recall(sim.ivf_topk(emb, qs, k=10, n_centroids=8,
                                   n_probe=3, n_iters=2))
    pq = mean_recall(sim.pq_topk(emb, qs, k=10, n_sub=4, n_centroids=8,
                                 refine=4))
    for name, r in (("lsh", lsh), ("ivf", ivf), ("pq", pq)):
        assert 0.0 <= r <= 1.0, name
    # every index must at least find the query's own vector (self-match
    # is in every bucket/cell/codebook it probes) plus some neighbors
    assert lsh >= 0.1, lsh
    assert ivf >= 0.2, ivf
    assert pq >= 0.1, pq


def test_clean_corpus_quality_knobs(spark):
    """The composed Gopher-stack knobs must equal applying the standalone
    operators in sequence (gopher_rules pass -> repetition bounds ->
    bigram-LM floor) before the dedup stages."""
    import pytest as _pt

    from nested_pandas_spark.pipeline.corpus import clean_corpus
    from nested_pandas_spark.pipeline.text import (
        add_text_stats, bigram_logprob, gopher_repetition, gopher_rules)

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    kw = dict(min_quality=0.25, num_hashes=8, bands=4, shingle_n=3)
    gkw = dict(min_words=40, min_mean_word_len=4.3, min_stop_hits=1)

    got = {r["doc_id"] for r in clean_corpus(
        docs, gopher=gkw, max_repetition={"top2": 0.4, "dup5": 0.3},
        min_bigram_logprob=-9.0, **kw).select("doc_id").collect()}

    # manual staged composition
    kept = add_text_stats(docs).where(F.col("quality") >= 0.25)
    kept = gopher_rules(kept, **gkw)
    kept = kept.where(F.col("gopher_pass"))
    kept = gopher_repetition(kept, top_ns=(2,), dup_ns=(5,))
    kept = kept.where((F.col("gopher_top2_frac") <= 0.4)
                      & (F.col("gopher_dup5_frac") <= 0.3))
    lp = bigram_logprob(kept, id_col="doc_id")
    ok = lp.where(F.col("mean_logp") >= -9.0).select("doc_id")
    kept = kept.join(ok, "doc_id", "left_semi")
    # strip the stats/signal columns so clean_corpus's own add_text_stats
    # doesn't collide with the ones already attached
    want = {r["doc_id"] for r in clean_corpus(kept.select(*docs.columns), **kw)
            .select("doc_id").collect()}
    # clean_corpus(kept) re-applies the (now no-op) quality filter then
    # runs the same dedup stages over the same surviving set
    assert got == want and len(got) > 0
    # knob validation
    with _pt.raises(ValueError):
        clean_corpus(docs, max_repetition={"bogus": 0.5}, **kw)


def test_clean_corpus_classifier_knob(spark):
    """The classifier= knob must equal scoring with
    classifier_score_inline and filtering before the dedup stages."""
    from nested_pandas_spark.pipeline.classifier import (
        classifier_score_inline,
        train_quality_classifier,
    )
    from nested_pandas_spark.pipeline.corpus import clean_corpus
    from nested_pandas_spark.pipeline.text import add_text_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    labeled = docs.withColumn("y", (F.col("lang") == "en").cast("int"))
    wdf = train_quality_classifier(labeled, "y", dim=16, epochs=2)
    kw = dict(min_quality=0.25, num_hashes=8, bands=4, shingle_n=3)
    # median score as the threshold: guaranteed to split this corpus
    scores = sorted(
        r["clf_score"] for r in
        classifier_score_inline(docs, wdf, dim=16).collect())
    thr = scores[len(scores) // 2]

    got = clean_corpus(docs, classifier=wdf, classifier_dim=16,
                       classifier_threshold=thr, **kw)
    got_ids = {r["doc_id"] for r in got.select("doc_id").collect()}
    assert "clf_score" in got.columns

    kept = add_text_stats(docs).where(F.col("quality") >= 0.25)
    kept = classifier_score_inline(kept, wdf, dim=16).where(
        F.col("clf_score") >= thr)
    want = {r["doc_id"] for r in
            clean_corpus(kept.select(*docs.columns), **kw)
            .select("doc_id").collect()}
    assert got_ids == want and got_ids
    # the threshold must actually drop something at this config
    assert len(got_ids) < clean_corpus(docs, **kw).count()


def test_chunk_documents_bruteforce(spark):
    """chunk_documents must reproduce the exact sliding-window chunking:
    every token covered, stride overlap, short-last-chunk, and empty/NULL
    docs dropped."""
    import pytest as _pt

    from nested_pandas_spark.pipeline.corpus import chunk_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    MAX, STRIDE = 16, 12
    got = {(r["doc_id"], r["chunk_id"]): (r["n_tokens"], r["chunk_text"])
           for r in chunk_documents(docs, MAX, STRIDE).collect()}
    want = {}
    for row in docs.select("doc_id", "text").collect():
        t = row["text"]
        if t is None:
            continue
        w = [x for x in t.lower().split() if x]
        n = len(w)
        if n == 0:
            continue
        nch = 1 if n <= MAX else 1 + -(-(n - MAX) // STRIDE)
        for c in range(nch):
            s = c * STRIDE
            want[(row["doc_id"], c)] = (min(MAX, n - s),
                                        " ".join(w[s:s + MAX]))
    assert got == want
    # disjoint default stride; edge shapes
    e = spark.createDataFrame(
        [(1, "a b c d e"), (2, ""), (3, None), (4, "x")],
        "doc_id long, text string")
    rows = chunk_documents(e, 2).orderBy("doc_id", "chunk_id").collect()
    assert [(r["doc_id"], r["chunk_id"], r["chunk_text"]) for r in rows] == [
        (1, 0, "a b"), (1, 1, "c d"), (1, 2, "e"), (4, 0, "x")]
    with _pt.raises(ValueError):
        chunk_documents(e, 4, stride=5)
    with _pt.raises(ValueError):
        chunk_documents(e, 0)


def test_winnow_fingerprints_bruteforce(spark):
    """winnow_fingerprints must equal a direct Python implementation of
    Schleimer et al.'s winnowing (rightmost minimal hash per window,
    deduplicated) and honor the shared-substring guarantee."""
    import hashlib

    from nested_pandas_spark.pipeline.dedup import winnow_fingerprints

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    K, W = 3, 4
    got = {(r["doc_id"], r["pos"], r["fp"])
           for r in winnow_fingerprints(docs, K, W).collect()}
    want = set()
    for row in docs.select("doc_id", "text").collect():
        t = row["text"]
        if t is None:
            continue
        w = [x for x in t.lower().split() if x]
        if len(w) < K:
            continue
        hs = [hashlib.md5(" ".join(w[i:i + K]).encode()).hexdigest()[:8]
              for i in range(len(w) - K + 1)]
        m = len(hs)
        for s in range(max(m - W, 0) + 1):
            best_p, best_h = -1, None
            for j in range(s, min(s + W, m)):
                if best_h is None or hs[j] <= best_h:
                    best_p, best_h = j, hs[j]
            want.add((row["doc_id"], best_p, best_h))
    assert got == want and len(got) > 0
    # guarantee: docs sharing a >= k+window-1 word substring share a fp
    a = "alpha beta gamma delta epsilon zeta eta theta"
    d2 = spark.createDataFrame(
        [(1, "xx yy " + a), (2, a + " qq rr")], "doc_id long, text string")
    f = winnow_fingerprints(d2, K, W).collect()
    s1 = {r["fp"] for r in f if r["doc_id"] == 1}
    s2 = {r["fp"] for r in f if r["doc_id"] == 2}
    assert s1 & s2


def test_quality_bins_matches_ntile(spark):
    """quality_bins' distributed prefix-sum binning must equal SQL
    ntile exactly (remainder buckets front-loaded), for bin counts that
    do and don't divide the row count, grouped and descending too."""
    import pytest as _pt

    from nested_pandas_spark.pipeline.corpus import quality_bins

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).where(F.col("text").isNotNull())
    scored = docs.select(
        "doc_id", "source", F.length("text").cast("double").alias("score"))
    for nb in (4, 7):
        got = {r["doc_id"]: r["bin"]
               for r in quality_bins(scored, "score", nb).collect()}
        ora = {r["doc_id"]: r["b"] for r in scored.selectExpr(
            "doc_id",
            f"ntile({nb}) OVER (ORDER BY score, doc_id) AS b").collect()}
        assert got == ora, nb
    gotg = {r["doc_id"]: r["bin"] for r in
            quality_bins(scored, "score", 3, by="source").collect()}
    orag = {r["doc_id"]: r["b"] for r in scored.selectExpr(
        "doc_id",
        "ntile(3) OVER (PARTITION BY source ORDER BY score, doc_id) AS b"
    ).collect()}
    assert gotg == orag
    gd = {r["doc_id"]: r["bin"] for r in
          quality_bins(scored, "score", 3, ascending=False).collect()}
    od = {r["doc_id"]: r["b"] for r in scored.selectExpr(
        "doc_id",
        "ntile(3) OVER (ORDER BY score DESC, doc_id) AS b").collect()}
    assert gd == od
    with _pt.raises(ValueError):
        quality_bins(scored, "score", 0)


def test_gopher_repetition_filter_no_blowup(spark):
    """Regression: consuming the repetition signals in a .where() makes
    Catalyst inline them into the Filter predicate; the let-bound
    formulation must keep that evaluation O(n^2) per doc. The staged-
    column formulation this replaced took 20+ CPU-minutes on this shape
    (gram arrays re-evaluated per window position)."""
    import time

    from nested_pandas_spark.pipeline.text import gopher_repetition

    big = " ".join(["lorem ipsum dolor sit amet"] * 120)  # 600 words
    pdf = spark.createDataFrame(
        [(i, big) for i in range(200)], "doc_id long, text string")
    t0 = time.time()
    n = (gopher_repetition(pdf, top_ns=(2,), dup_ns=(5,))
         .where((F.col("gopher_top2_frac") <= 0.4)
                & (F.col("gopher_dup5_frac") <= 0.3)).count())
    took = time.time() - t0
    assert n == 0  # maximally repetitive: everything filtered
    assert took < 120, took


def test_winnow_near_pairs_bruteforce(spark):
    """winnow_near_pairs must equal counting shared distinct fingerprints
    between every doc pair; max_posting drops over-shared fingerprints."""
    import hashlib
    from collections import defaultdict

    import pytest as _pt

    from nested_pandas_spark.pipeline.dedup import winnow_near_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    K, W = 3, 4
    sets = defaultdict(set)
    for row in docs.select("doc_id", "text").collect():
        t = row["text"]
        if t is None:
            continue
        w = [x for x in t.lower().split() if x]
        if len(w) < K:
            continue
        hs = [hashlib.md5(" ".join(w[i:i + K]).encode()).hexdigest()[:8]
              for i in range(len(w) - K + 1)]
        m = len(hs)
        for s in range(max(m - W, 0) + 1):
            best = None
            for j in range(s, min(s + W, m)):
                if best is None or hs[j] <= best:
                    best = hs[j]
            sets[row["doc_id"]].add(best)
    ids = sorted(sets)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            n = len(sets[a] & sets[b])
            if n >= 2:
                want[(a, b)] = n
    got = {(r["id_a"], r["id_b"]): r["n_shared"]
           for r in winnow_near_pairs(docs, K, W, min_shared=2).collect()}
    assert got == want and len(got) > 0
    # max_posting: a fingerprint shared by > p docs contributes nothing
    df = sets  # fingerprint doc-frequencies
    freq = defaultdict(int)
    for s in df.values():
        for h in s:
            freq[h] += 1
    keep = {h for h, c in freq.items() if c <= 3}
    want_p = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            n = len(sets[a] & sets[b] & keep)
            if n >= 2:
                want_p[(a, b)] = n
    got_p = {(r["id_a"], r["id_b"]): r["n_shared"]
             for r in winnow_near_pairs(docs, K, W, min_shared=2,
                                        max_posting=3).collect()}
    assert got_p == want_p
    with _pt.raises(ValueError):
        winnow_near_pairs(docs, K, W, min_shared=0)
    with _pt.raises(ValueError):
        winnow_near_pairs(docs, K, W, max_posting=1)


def test_ivfpq_topk_full_probe_equals_pq(spark):
    """With every cell probed and the same codebooks, IVF adds no pruning
    — ivfpq_topk must return exactly pq_topk's answer. And at the bench
    configuration the composed index must keep a sane recall floor."""
    from nested_pandas_spark.pipeline import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 8)
    full = sim.ivfpq_topk(emb, qs, k=3, n_centroids=4, n_probe=4,
                          n_sub=4, pq_centroids=8, refine=4, pq_iters=1)
    ref = sim.pq_topk(emb, qs, k=3, n_sub=4, n_centroids=8, refine=4,
                      n_iters=1)
    got = {(r["query_id"], r["rank"]): r["neighbor_id"]
           for r in full.collect()}
    want = {(r["query_id"], r["rank"]): r["neighbor_id"]
            for r in ref.collect()}
    assert got == want and len(got) > 0
    # pruned config still finds a sane fraction of the exact top-10
    exact = sim.brute_force_topk(emb, qs, k=10)
    approx = sim.ivfpq_topk(emb, qs, k=10, n_centroids=8, n_probe=3,
                            n_sub=4, pq_centroids=8, refine=4,
                            n_iters=2, pq_iters=2)
    r = sim.recall_at_k(approx, exact).agg(
        F.avg("recall").alias("r")).collect()[0]["r"]
    assert 0.05 <= r <= 1.0, r


def test_ivfpq_store_residual_matches_inline(spark, tmp_path):
    """A residual-coded store must return exactly what inline
    ivfpq_topk(residual=True) computes with the same parameters — the
    sidecar flag routes the query to the residual LUT path."""
    from nested_pandas_spark.pipeline import similarity as sim
    from nested_pandas_spark.sources.ivf_store import (
        ivfpq_search,
        write_ivfpq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 8)
    path = str(tmp_path / "ivfpq_res")
    write_ivfpq_index(emb, path, n_centroids=8, n_iters=2, n_sub=4,
                      pq_centroids=8, pq_iters=1, residual=True)
    stored = {(r["query_id"], r["rank"]): r["neighbor_id"]
              for r in ivfpq_search(spark, path, q, k=3, n_probe=2,
                                    refine=4).collect()}
    inline = {(r["query_id"], r["rank"]): r["neighbor_id"]
              for r in sim.ivfpq_topk(emb, q, k=3, n_centroids=8,
                                      n_probe=2, n_sub=4, pq_centroids=8,
                                      refine=4, n_iters=2, pq_iters=1,
                                      residual=True).collect()}
    assert stored == inline and len(stored) > 0


def test_with_ivf_residuals_reconstruction(spark):
    """residual + centroid[cid] must reconstruct the original vector
    exactly (pure double arithmetic), and cids must match the IVF
    assignment rule, at 8 and 40 centroids."""
    from nested_pandas_spark.pipeline import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for n_cent in (8, 40):
        cents = sim.ivf_centroids(emb, n_centroids=n_cent)
        by_cid = dict(cents)
        out = sim.with_ivf_residuals(emb, cents).collect()
        assert len(out) > 0
        for r in out[:20]:
            cid = r["centroid_id"]
            cv = by_cid[cid]
            rec = [a + b for a, b in zip(r["residual"], cv)]
            orig = [float(x) for x in r["embedding"]]
            assert all(abs(a - b) < 1e-9 for a, b in zip(rec, orig))


def test_ivfpq_residual_recall_not_worse(spark):
    """On the planted-cluster fixture the residual formulation (FAISS
    IVFADC) must match or beat the raw-vector codes at the same budget."""
    from nested_pandas_spark.datasets import generate_clustered_embeddings
    from nested_pandas_spark.pipeline import similarity as sim

    emb = generate_clustered_embeddings(
        spark, n_clusters=16, per_cluster=24, dim=32, seed=7
    ).cache()
    q = emb.where(F.col("vec_id") < 12)
    exact = sim.brute_force_topk(emb, q, k=10)

    def mr(approx):
        return float(sim.recall_at_k(approx, exact).agg(
            F.avg("recall").alias("r")).collect()[0]["r"])

    kw = dict(k=10, n_centroids=16, n_probe=4, n_sub=4, pq_centroids=8,
              refine=4, n_iters=2, pq_iters=1)
    r_res = mr(sim.ivfpq_topk(emb, q, residual=True, **kw))
    r_raw = mr(sim.ivfpq_topk(emb, q, residual=False, **kw))
    assert r_res >= r_raw - 1e-9, (r_res, r_raw)
    emb.unpersist()


def test_ivfpq_store_matches_inline(spark, tmp_path):
    """ivfpq_search over a materialized IVF+PQ index returns exactly what
    inline ivfpq_topk computes with the same centroids and codebooks, and
    the scan prunes non-probed partitions at planning time."""
    from nested_pandas_spark.sources.ivf_store import (
        ivfpq_search,
        read_ivfpq_meta,
        write_ivfpq_index,
    )

    emb = _clustered_embeddings(spark)
    q = emb.where(F.col("vec_id") < 6)
    path = str(tmp_path / "ivfpq_index")
    cents, cbs = write_ivfpq_index(
        emb, path, n_centroids=4, n_iters=2, n_sub=4, pq_centroids=8,
        pq_iters=1)
    rc, rb = read_ivfpq_meta(path)
    assert rc == cents and rb == cbs

    inline = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in sim.ivfpq_topk(
            emb, q, k=3, n_centroids=4, n_probe=2, n_sub=4,
            pq_centroids=8, refine=4, n_iters=2, pq_iters=1
        ).collect()
    }
    stored = ivfpq_search(spark, path, q, k=3, n_probe=2, refine=4)
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"] for r in stored.collect()
    }
    assert got == inline and len(got) > 0
    assert "__cid" in _partition_filters(stored)


def test_build_mixture_matches_bruteforce(spark):
    """build_mixture must keep, per group, exactly the md5(seed:id)-ranked
    prefix whose exclusive token cumsum stays under the group budget —
    replayed densely in Python — and drop untargeted groups."""
    import hashlib

    from nested_pandas_spark.pipeline.corpus import build_mixture

    rows = []
    for i in range(60):
        src = f"s{i % 3}"
        text = " ".join(["tok"] * (3 + i % 7))
        rows.append((i, src, text))
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    target = {"s0": 0.6, "s1": 0.4}      # s2 untargeted -> dropped
    budget = 120
    out = build_mixture(docs, target, budget, seed=7)
    got = {r["doc_id"] for r in out.collect()}

    expect = set()
    for src, share in target.items():
        b = budget * share / sum(target.values())
        grp = [(hashlib.md5(f"7:{i}".encode()).hexdigest(), i, t)
               for i, s, t in rows if s == src]
        run = 0
        for _, i, t in sorted(grp):
            if run < b:
                expect.add(i)
            run += len(t.split())
    assert got == expect and got
    assert not any(r["source"] == "s2" for r in out.collect())
    # over-large budget keeps whole groups; zero-weight group dropped
    all_out = build_mixture(docs, {"s0": 1.0, "s1": 0.0}, 10**9)
    assert {r["doc_id"] for r in all_out.collect()} == {
        i for i, s, _ in rows if s == "s0"}
    # determinism + seed sensitivity
    again = {r["doc_id"] for r in build_mixture(docs, target, budget,
                                                seed=7).collect()}
    other = {r["doc_id"] for r in build_mixture(docs, target, budget,
                                                seed=8).collect()}
    assert again == got and other != got
    with pytest.raises(ValueError, match="token_budget"):
        build_mixture(docs, target, 0)
    with pytest.raises(ValueError, match="target"):
        build_mixture(docs, {}, 10)
    with pytest.raises(ValueError, match="weights"):
        build_mixture(docs, {"s0": -1.0, "s1": 0.5}, 10)


def test_sample_per_group_exact_and_deterministic(spark):
    """sample_per_group must pick exactly the n smallest md5(seed:id)
    rows per group (tournament == plain window), keep short groups
    whole, and change the selection with the seed."""
    import hashlib

    import pytest as _pt

    from nested_pandas_spark.pipeline.corpus import sample_per_group

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = docs.select("doc_id", "source").collect()
    from collections import defaultdict
    groups = defaultdict(list)
    for r in rows:
        groups[r["source"]].append(r["doc_id"])
    N = 7
    want = set()
    for src, ids in groups.items():
        ranked = sorted(
            ids, key=lambda i: (hashlib.md5(f"42:{i}".encode()).hexdigest(), i))
        want |= {(i, src) for i in ranked[:N]}
    got = {(r["doc_id"], r["source"]) for r in
           sample_per_group(docs, "source", N, seed=42).collect()}
    assert got == want
    # short groups survive whole
    tiny = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id long, source string")
    assert sample_per_group(tiny, "source", 5).count() == 3
    # seed changes the pick
    got2 = {(r["doc_id"], r["source"]) for r in
            sample_per_group(docs, "source", N, seed=43).collect()}
    assert got2 != got
    with _pt.raises(ValueError):
        sample_per_group(docs, "source", 0)


def test_quality_bins_empty_input(spark):
    """Empty input yields an empty frame with the bin column attached."""
    from nested_pandas_spark.pipeline.corpus import quality_bins

    e = spark.createDataFrame([], "doc_id long, score double")
    out = quality_bins(e, "score", 4)
    assert out.count() == 0 and "bin" in out.columns


def test_filter_paragraphs_bruteforce(spark):
    """filter_paragraphs must equal a direct Python replay of the
    paragraph-grain bigram LM (model over paragraphs: cross-boundary
    bigrams excluded), with unscorable paragraphs kept, order preserved,
    and NULL/empty/all-dropped docs handled."""
    import math
    from collections import Counter

    from nested_pandas_spark.pipeline.corpus import filter_paragraphs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    FLOOR = -3.44
    got = {r["doc_id"]: (r["text"], r["n_paras_removed"])
           for r in filter_paragraphs(docs, FLOOR).collect()}

    rows = docs.select("doc_id", "text").collect()

    def toks(s):
        return [t for t in s.lower().split() if t]

    bg, ctx, vocab = Counter(), Counter(), set()
    for r in rows:
        if r["text"] is None:
            continue
        for p in r["text"].split("\n"):
            w = toks(p)
            vocab.update(w)
            for a, b in zip(w, w[1:]):
                bg[(a, b)] += 1
                ctx[a] += 1
    V = len(vocab)
    want, total_removed = {}, 0
    for r in rows:
        if r["text"] is None:
            want[r["doc_id"]] = (None, 0)
            continue
        kept, removed = [], 0
        for p in r["text"].split("\n"):
            w = toks(p)
            if len(w) < 2:
                kept.append(p)
                continue
            lps = [math.log((bg[(a, b)] + 1.0) / (ctx[a] + 1.0 * (V + 1)))
                   for a, b in zip(w, w[1:])]
            if sum(lps) / len(lps) >= FLOOR:
                kept.append(p)
            else:
                removed += 1
        want[r["doc_id"]] = ("\n".join(kept), removed)
        total_removed += removed
    assert got == want
    assert total_removed > 0  # the floor must actually bite

    # NULL + empty + scrambled-paragraph edges, reference-corpus model:
    # the model knows 'good text flows nicely'; its reversal has only
    # unseen bigrams and must fall below the floor while the in-model
    # paragraph survives
    model = spark.createDataFrame(
        [(i, "good text flows nicely") for i in range(20)],
        "doc_id long, text string")
    e = spark.createDataFrame(
        [(1, None), (2, ""),
         (3, "good text flows nicely\nnicely flows text good")],
        "doc_id long, text string")
    out = {r["doc_id"]: (r["text"], r["n_paras_removed"])
           for r in filter_paragraphs(e, -1.0, model_docs=model).collect()}
    assert out[1] == (None, 0)
    assert out[2] == ("", 0)
    assert out[3] == ("good text flows nicely", 1)


def test_chunk_documents_param_grid(spark):
    """Chunk arithmetic parity across a grid of (max_tokens, stride)
    shapes — tiny windows, full overlap, degenerate one-token docs."""
    from nested_pandas_spark.pipeline.corpus import chunk_documents

    texts = [
        (1, "a"), (2, "a b"), (3, "a b c d e f g"), (4, " ".join("w%d" % i for i in range(23))),
        (5, "  x   y  "), (6, None), (7, ""),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    for mx, st in [(1, 1), (2, 1), (3, 2), (5, 5), (7, 3)]:
        got = {(r["doc_id"], r["chunk_id"]): (r["n_tokens"], r["chunk_text"])
               for r in chunk_documents(df, mx, st).collect()}
        want = {}
        for did, t in texts:
            if t is None:
                continue
            w = [x for x in t.lower().split() if x]
            n = len(w)
            if n == 0:
                continue
            nch = 1 if n <= mx else 1 + -(-(n - mx) // st)
            for c in range(nch):
                s = c * st
                want[(did, c)] = (min(mx, n - s), " ".join(w[s:s + mx]))
        assert got == want, (mx, st)


def test_vector_pass_keeps_passthrough_columns(spark):
    """The assignment pass hands every other column back exactly: a
    nullable long above 2**53 next to a NULL in the same batch (a pandas
    round trip makes it a double), a struct, a timestamp; an output name
    that already exists is replaced in place, as withColumn does."""
    import datetime

    big = 2**60 + 1
    df = spark.createDataFrame(
        [(big, (big, "a"), datetime.datetime(2020, 1, 2, 3, 4, 5, 6),
          [1.0, 0.0], [9]),
         (None, None, None, [0.0, 1.0], None)],
        "id long, s struct<a: long, b: string>, ts timestamp, "
        "v array<double>, __cids array<long>",
    ).coalesce(1)
    # the fold (2 centroids) and the BLAS scores (150)
    far = [(c, [-1.0, -1.0 - c]) for c in range(2, 150)]
    for cents in ([(0, [1.0, 0.0]), (1, [0.0, 1.0])],
                  [(0, [1.0, 0.0]), (1, [0.0, 1.0])] + far):
        out = sim.with_nearest_ids(df, F.col("v"), cents, 1)
        assert out.columns == df.columns
        rows = out.collect()
        assert [r["__cids"] for r in rows] == [[0], [1]]
        assert [r[:4] for r in rows] == [r[:4] for r in df.collect()]


def test_large_centroid_count_is_not_plan_literal(spark):
    """At 256 centroids/codebook entries the assignment plan must carry NO
    literal centroid matrix (a distinctive coordinate appears nowhere in
    the analyzed plan) and plan size must stay O(1) in n_centroids — the
    100 TB guard: at 10^4+ centroids a literal matrix overflows codegen."""
    marker = 123.456789
    cents = [(i, [marker + i] + [float(i % 7)] * 7) for i in range(256)]
    emb = spark.createDataFrame(
        [(1, [0.1] * 8)], "vec_id long, embedding array<float>"
    )
    out = sim.with_nearest_ids(
        emb, F.col("embedding").cast("array<double>"), cents, 2
    )
    plan = list(plan_nodes(out, "analyzed"))
    assert not find_nodes(plan, text="123.456")
    assert len(plan_tree(plan)) < 20000
    assert len(out.collect()[0]["__cids"]) == 2

    cbs = [[[marker + c] * 4 for c in range(256)] for _ in range(2)]
    enc = sim.pq_encode(emb, cbs)
    plan = list(plan_nodes(enc, "analyzed"))
    assert not find_nodes(plan, text="123.456")
    assert len(plan_tree(plan)) < 20000
    codes = enc.collect()[0]["pq_code"]
    assert len(codes) == 2 and all(isinstance(c, int) for c in codes)


def test_planted_cluster_recall_floors(spark):
    """ANN recall floors on data with planted structure. The isotropic
    driver embeddings make low recall an information-theoretic certainty
    (pairwise cos ~ N(0, 0.13)), so they can't distinguish a regression
    from noise; the clustered fixture can. The fixture is unit-normalized
    (metric-consistent: L2 ADC and cosine rank identically). Floors sit
    comfortably below the deterministic seed's measured values (ivf 1.0,
    pq 0.93, ivfpq 0.98, ivfpq-residual 1.0, multi-probe lsh 0.98) so
    only a real quality regression trips them."""
    from nested_pandas_spark.datasets import generate_clustered_embeddings

    emb = generate_clustered_embeddings(
        spark, n_clusters=16, per_cluster=24, dim=32, seed=7
    ).cache()
    q = emb.where(F.col("vec_id") < 12)
    exact = sim.brute_force_topk(emb, q, k=10)

    def mean_recall(approx):
        r = sim.recall_at_k(approx, exact).agg(
            F.avg("recall").alias("r")).collect()[0]["r"]
        return float(r)

    assert mean_recall(
        sim.ivf_topk(emb, q, k=10, n_centroids=16, n_probe=4, n_iters=2)
    ) >= 0.8
    assert mean_recall(
        sim.pq_topk(emb, q, k=10, n_sub=4, n_centroids=8, refine=4, n_iters=1)
    ) >= 0.7
    assert mean_recall(
        sim.ivfpq_topk(emb, q, k=10, n_centroids=16, n_probe=4, n_sub=4,
                       pq_centroids=8, refine=4, n_iters=2, pq_iters=1)
    ) >= 0.7
    # residual IVFADC (FAISS default): codes quantize cell residuals —
    # must clear the stricter floor the raw-vector variant needn't
    assert mean_recall(
        sim.ivfpq_topk(emb, q, k=10, n_centroids=16, n_probe=4, n_sub=4,
                       pq_centroids=8, refine=4, n_iters=2, pq_iters=1,
                       residual=True)
    ) >= 0.85
    # multi-probe LSH at the documented operating point (7 planes x 8
    # tables, 6 smallest-margin probes) — a top-k index, not just a
    # dedup candidate generator
    assert mean_recall(
        sim.lsh_topk(emb, q, k=10, num_planes=7, num_tables=8,
                     multi_probe=6)
    ) >= 0.7
    emb.unpersist()


def test_phash_invariants(spark):
    """aHash/dHash: identical pixels -> identical hash; a tiny perturbation
    moves few bits; NULL pixels -> NULL hash; aHash has a ~balanced bit
    population on random pixels (it thresholds at the mean)."""
    rng = np.random.RandomState(0)
    base = rng.randint(0, 256, 4 * 4 * 3).tolist()
    near = list(base)
    near[5] = (near[5] + 4) % 256
    df = spark.createDataFrame(
        [(1, base), (2, list(base)), (3, near), (4, None)],
        "img_id long, pixels array<int>",
    )
    for method in ("ahash", "dhash"):
        d = {
            r["img_id"]: r["phash"]
            for r in mm.phash_df(df, in_height=4, in_width=4,
                                 method=method).collect()
        }
        assert d[1] == d[2]
        assert d[4] is None
        assert bin((d[1] ^ d[3]) & ((1 << 64) - 1)).count("1") <= 3


def test_image_near_pairs_matches_brute_force(spark):
    """The pigeonhole-blocked Hamming pairing is EXACT within the radius:
    it returns the same pair set as brute-force all-pairs over the hashes."""
    rng = np.random.RandomState(7)
    imgs = []
    for i in range(40):
        if i % 4 == 0 and i > 0:
            src = list(imgs[i - 1][1])
            j = rng.randint(0, len(src))
            src[j] = (src[j] + rng.randint(1, 10)) % 256
            imgs.append((i, src))
        else:
            imgs.append((i, rng.randint(0, 256, 8 * 8 * 3).tolist()))
    df = spark.createDataFrame(imgs, "img_id long, pixels array<int>")
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in mm.image_near_pairs(
            df, "img_id", in_height=8, in_width=8, method="dhash",
            max_hamming=3, block_bits=16,
        ).collect()
    )
    hashes = {
        r["img_id"]: r["phash"]
        for r in mm.phash_df(df, in_height=8, in_width=8,
                             method="dhash").collect()
    }
    expected = sorted(
        (a, b, bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1"))
        for a in hashes for b in hashes
        if a < b and bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1") <= 3
    )
    assert got == expected
    assert len(expected) > 0


def test_normalize_url_cases(spark):
    from nested_pandas_spark.pipeline.web import normalize_url, url_domain

    df = spark.createDataFrame(
        [
            (1, "HTTPS://User:p@WWW.Example.COM:443/Path/A/?utm_source=x&page=3&fbclid=z#frag"),
            (2, "http://sub.Example.com:80/x"),
            (3, "example.com/no-scheme#f"),
            (4, None),
            (5, "ftp://Files.Example.net:2121/data//"),
            (6, "https://Example.com/?utm_campaign=only"),
        ],
        "doc_id long, url string",
    )
    out = {
        r["doc_id"]: (r["norm_url"], r["domain"])
        for r in df.select("doc_id", normalize_url("url"),
                           url_domain("url")).collect()
    }
    assert out[1] == ("https://example.com/Path/A?page=3", "example.com")
    assert out[2] == ("http://sub.example.com/x", "sub.example.com")
    assert out[3] == ("example.com/no-scheme", None)  # opaque: kept as-is
    assert out[4] == (None, None)
    # non-default port on a non-http scheme is preserved
    assert out[5] == ("ftp://files.example.net:2121/data", "files.example.net")
    assert out[6] == ("https://example.com", "example.com")


def test_blocklist_filter_subdomains(spark):
    from nested_pandas_spark.pipeline.web import blocklist_filter

    df = spark.createDataFrame(
        [
            (1, "https://bad.com/a"),
            (2, "https://a.b.bad.com/x"),     # subdomain -> blocked
            (3, "https://notbad.com/x"),      # suffix chain never substring-matches
            (4, "https://good.org/x"),
            (5, "no-scheme-at-all"),          # NULL domain -> kept
        ],
        "doc_id long, url string",
    )
    kept = sorted(
        r["doc_id"]
        for r in blocklist_filter(df, ["bad.com"], "url").collect()
    )
    assert kept == [3, 4, 5]
    kept2 = sorted(
        r["doc_id"]
        for r in blocklist_filter(
            df, ["bad.com"], "url", include_subdomains=False
        ).collect()
    )
    assert kept2 == [2, 3, 4, 5]


def test_domain_caps_exact_n(spark):
    from nested_pandas_spark.pipeline.web import domain_caps

    rows = [(i, f"https://d{i % 3}.com/p/{i}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = domain_caps(df, "url", 7)
    assert out.count() == 21
    per = (
        out.groupBy(F.regexp_extract("url", "https://([^/]*)", 1))
        .count().collect()
    )
    assert all(r["count"] == 7 for r in per)
    # deterministic: same seed -> same rows
    ids1 = sorted(r["doc_id"] for r in out.collect())
    ids2 = sorted(r["doc_id"] for r in domain_caps(df, "url", 7).collect())
    assert ids1 == ids2


def test_registrable_domain_psl_cases(spark):
    """eTLD+1 against the checked-in PSL snapshot: plain multi-label
    rules (co.uk, com.au), wildcard (*.ck), exception (!www.ck), the
    default '*' rule, and the host-IS-a-public-suffix -> NULL cases."""
    from nested_pandas_spark.pipeline.web import registrable_domain

    cases = {
        "a.b.example.co.uk": "example.co.uk",
        "example.co.uk": "example.co.uk",
        "co.uk": None,                # a public suffix is not registrable
        "uk": None,
        "foo.com": "foo.com",
        "x.y.foo.com": "foo.com",     # default rule: bare TLD + 1
        "shop.example.com.au": "example.com.au",
        "www.ck": "www.ck",           # PSL exception rule
        "sub.www.ck": "www.ck",
        "x.foo.ck": "x.foo.ck",       # *.ck: foo.ck is the suffix
        "foo.ck": None,               # *.ck: foo.ck IS a public suffix
        "localhost": None,            # single label, nothing registrable
    }
    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(cases)], "id long, host string"
    )
    hosts = list(cases)
    got = {hosts[r["id"]]: r["rd"] for r in df.select(
        "id", registrable_domain("host", alias="rd")).collect()}
    assert got == cases


def test_registrable_domain_expanded_snapshot(spark):
    """Rules that arrived with the round-9 snapshot expansion (~560
    rules): deeper UK entries, TR k12, the US-state / CA-province / CN-
    province grids, NZ sector domains, and the wildcard-TLD class beyond
    ck (*.bd, *.np) — each resolves at the correct depth."""
    from nested_pandas_spark.pipeline.web import registrable_domain

    cases = {
        "trust.nhs.uk": "trust.nhs.uk",
        "dept.police.uk": "dept.police.uk",
        "okul.k12.tr": "okul.k12.tr",
        "a.b.city.ca.us": "city.ca.us",
        "agency.gc.ca": "agency.gc.ca",
        "ville.qc.ca": "ville.qc.ca",
        "firm.bj.cn": "firm.bj.cn",
        "x.parliament.nz": "x.parliament.nz",
        "uni.ac.at": "uni.ac.at",
        "shop.com.bd": "shop.com.bd",     # *.bd: com.bd is a suffix
        "com.bd": None,                    # ... and not itself registrable
        "x.anything.bd": "x.anything.bd",  # wildcard covers ANY label
        "site.com.np": "site.com.np",      # *.np
        "k12.tr": None,                    # suffix itself -> NULL
    }
    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(cases)], "id long, host string"
    )
    hosts = list(cases)
    got = {hosts[r["id"]]: r["rd"] for r in df.select(
        "id", registrable_domain("host", alias="rd")).collect()}
    assert got == cases


def test_load_psl_rules_official_format(tmp_path):
    """The official public_suffix_list.dat format parses: // comments,
    blank lines, whitespace-terminated rules, wildcard/exception
    syntax — and the shipped snapshot file itself loads to the exported
    PUBLIC_SUFFIXES list."""
    from nested_pandas_spark.pipeline.web import (
        PUBLIC_SUFFIXES,
        load_psl_rules,
    )

    p = tmp_path / "psl.dat"
    p.write_text(
        "// ===BEGIN ICANN DOMAINS===\n"
        "\n"
        "// ac : https://example.org\n"
        "ac\n"
        "com.ac\n"
        "*.ck\n"
        "!www.ck\n"
        "  edu.ac   // trailing comment style (whitespace-terminated)\n"
        "// ===END ICANN DOMAINS===\n"
    )
    assert load_psl_rules(str(p)) == [
        "ac", "com.ac", "*.ck", "!www.ck", "edu.ac"
    ]
    assert len(PUBLIC_SUFFIXES) > 500
    assert "co.uk" in PUBLIC_SUFFIXES and "!www.ck" in PUBLIC_SUFFIXES
    # well-formed: every rule is lowercase, no spaces, valid syntax
    for r in PUBLIC_SUFFIXES:
        body = r[1:] if r.startswith("!") else r
        body = body[2:] if body.startswith("*.") else body
        assert body and " " not in body and body == body.lower()


def test_load_psl_rules_committed_excerpt(spark):
    """The loader parses a committed 50-rule excerpt in the EXACT official
    file syntax tools/fetch_psl.py vendors (section markers, per-TLD
    comment blocks, wildcard + exception rules, IDN rules, the PRIVATE
    DOMAINS section) and the resulting rule set drives
    registrable_domain correctly — the end-to-end shape of a production
    PSL upgrade, minus the network fetch."""
    import os as _os

    from nested_pandas_spark.pipeline.web import (
        load_psl_rules,
        registrable_domain,
    )
    from tools.fetch_psl import validate

    path = _os.path.join(_os.path.dirname(__file__), "data",
                         "psl_excerpt.dat")
    rules = load_psl_rules(path)
    assert len(rules) == 50
    assert "*.ck" in rules and "!www.ck" in rules and "*.sch.uk" in rules
    assert "公司.cn" in rules            # IDN rule survives UTF-8 load
    assert "s3.amazonaws.com" in rules   # PRIVATE DOMAINS section included
    # fetch_psl's post-download validation accepts the same syntax
    with open(path, encoding="utf-8") as f:
        assert validate(f.read(), min_rules=50) == 50

    df = spark.createDataFrame(
        [(0, "a.b.co.uk"), (1, "x.mysch.sch.uk"), (2, "www.ck"),
         (3, "shop.example.ck"), (4, "bucket.s3.amazonaws.com"),
         (5, "foo.github.io"), (6, "baz.公司.cn")],
        "id long, host string",
    )
    got = {r["id"]: r["rd"] for r in df.select(
        "id", registrable_domain("host", suffixes=rules, alias="rd")
    ).collect()}
    assert got[0] == "b.co.uk"
    assert got[1] == "x.mysch.sch.uk"      # *.sch.uk wildcard: eTLD is
    #                                        mysch.sch.uk, +1 is the host
    assert got[2] == "www.ck"              # !www.ck exception
    assert got[3] == "shop.example.ck"     # *.ck wildcard: eTLD example.ck
    assert got[4] == "bucket.s3.amazonaws.com"  # private-domain suffix
    assert got[5] == "foo.github.io"
    assert got[6] == "baz.公司.cn"


def test_with_registrable_domain_tiers_agree(spark):
    """Literal-map and broadcast-map tiers must return identical results
    for the same rule set."""
    from nested_pandas_spark.pipeline.web import (
        _LITERAL_SUFFIX_MAX,
        with_registrable_domain,
    )

    df = spark.createDataFrame(
        [(0, "http://a.example.co.uk/x"), (1, "https://www.foo.com"),
         (2, "https://x.foo.ck/p?q=1"), (3, None)],
        "doc_id long, url string",
    )
    small = ["co.uk", "*.ck", "!www.ck"]
    big = small + [f"pad{i}.zz" for i in range(_LITERAL_SUFFIX_MAX + 5)]
    lit = {r["doc_id"]: r["registrable_domain"]
           for r in with_registrable_domain(df, url_col="url",
                                            suffixes=small).collect()}
    bc = {r["doc_id"]: r["registrable_domain"]
          for r in with_registrable_domain(df, url_col="url",
                                           suffixes=big).collect()}
    assert lit == bc
    assert lit[0] == "example.co.uk" and lit[1] == "foo.com"
    assert lit[2] == "x.foo.ck" and lit[3] is None
    import pytest as _pt
    with _pt.raises(ValueError):
        with_registrable_domain(df)
    with _pt.raises(ValueError):
        with_registrable_domain(df, url_col="url", host_col="url")


def test_domain_caps_registrable_grain(spark):
    """grain='registrable' pools every subdomain of one registrable site
    into a single cap budget; host grain keeps them separate."""
    from nested_pandas_spark.pipeline.web import domain_caps

    rows = [(i, f"http://sub{i}.example.co.uk/p") for i in range(10)]
    rows += [(100 + i, f"http://other{i}.org/p") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    host_kept = domain_caps(df, "url", 2, grain="host").count()
    reg_kept = domain_caps(df, "url", 2, grain="registrable").count()
    assert host_kept == 13          # every host unique -> nothing capped
    assert reg_kept == 2 + 3        # example.co.uk capped to 2
    import pytest as _pt
    with _pt.raises(ValueError):
        domain_caps(df, "url", 2, grain="etld")


def test_blocklist_filter_registrable_grain(spark):
    """grain='registrable': blocking one host blocks every host of the
    same registrable site (a.example.co.uk blocks b.example.co.uk)."""
    from nested_pandas_spark.pipeline.web import blocklist_filter

    df = spark.createDataFrame(
        [(0, "http://a.example.co.uk/"), (1, "http://b.example.co.uk/"),
         (2, "http://keep.org/"), (3, None)],
        "doc_id long, url string",
    )
    kept = blocklist_filter(
        df, ["a.example.co.uk"], "url", grain="registrable"
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 3]
    # host grain with subdomains would NOT block the sibling host
    kept_h = blocklist_filter(df, ["a.example.co.uk"], "url")
    assert sorted(r["doc_id"] for r in kept_h.collect()) == [1, 2, 3]


def test_clean_corpus_url_stages(spark, docs):
    from nested_pandas_spark.pipeline.corpus import clean_corpus

    d = docs.withColumn(
        "url",
        F.expr("concat('https://', CASE WHEN doc_id % 2 = 0 THEN 'bad.com' "
               "ELSE 'ok.com' END, '/d/', doc_id)"),
    )
    out = clean_corpus(
        d, min_quality=0.0, url_col="url", blocked_domains=["bad.com"],
        domain_cap=2,
    )
    urls = [r["url"] for r in out.select("url").collect()]
    assert all("ok.com" in u for u in urls)
    assert len(urls) <= 2


def test_extract_text_html(spark):
    """HTML extraction: script/style/comments vanish, block boundaries
    become newlines, tags strip, entities unescape AFTER stripping (so
    escaped markup stays literal), whitespace collapses."""
    from nested_pandas_spark.pipeline.web import extract_text_html

    cases = [
        ("<html><head><title>T</title><style>p{color:red}</style></head>"
         "<body><p>Hello <b>world</b>!</p><script>var x=1;</script>"
         "<div>Second &amp; third</div><ul><li>a</li><li>b</li></ul>"
         "</body></html>",
         "T Hello world !\nSecond & third\na\nb"),
        ("Plain text, no tags", "Plain text, no tags"),
        ("a &lt;tag&gt; literal &amp;lt; stays",
         "a <tag> literal &lt; stays"),
        ("<p>line1</p>\n\n<p>line2<br>line3</p>", "line1\nline2\nline3"),
        ("<!-- hidden --><h1>Title</h1>text &nbsp; spaced&#39;s",
         "Title\ntext spaced's"),
        ("<SCRIPT>upper case</SCRIPT><P>kept</P>", "kept"),
        ("", ""),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, c) for i, (c, _) in enumerate(cases)], "id long, html string"
    )
    got = {r["id"]: r["text"]
           for r in df.select("id", extract_text_html("html")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_decode_wav_variants():
    """All uncompressed WAV layouts decode against reference-constructed
    fixtures: integer PCM 8 (unsigned) / 16 / 24 / 32, IEEE float 32/64,
    EXTENSIBLE wrappers, stereo mixdown; compressed formats raise."""
    import struct

    from nested_pandas_spark.pipeline.multimodal import decode_wav

    def wav(fmt, bits, frames, rate=8000, ch=1, extensible=False):
        if extensible:
            sub = struct.pack("<HHIIHH", 0xFFFE, ch, rate,
                              rate * ch * bits // 8, ch * bits // 8, bits)
            ext = (struct.pack("<HHI", 22, bits, 4)
                   + struct.pack("<H", fmt) + b"\x00" * 14)
            fmtc = b"fmt " + struct.pack("<I", len(sub + ext)) + sub + ext
        else:
            fmtc = b"fmt " + struct.pack("<I", 16) + struct.pack(
                "<HHIIHH", fmt, ch, rate, rate * ch * bits // 8,
                ch * bits // 8, bits)
        datac = b"data" + struct.pack("<I", len(frames)) + frames
        body = b"WAVE" + fmtc + datac
        return b"RIFF" + struct.pack("<I", len(body)) + body

    sig = np.array([0.0, 0.5, -0.5, 0.25, -1.0, 0.999], np.float64)

    x, rate = decode_wav(
        wav(1, 16, (sig * 32768).clip(-32768, 32767).astype("<i2").tobytes()))
    assert rate == 8000 and np.allclose(x, sig, atol=1 / 32768)
    x, _ = decode_wav(
        wav(1, 8, ((sig * 128) + 128).clip(0, 255).astype(np.uint8).tobytes()))
    assert np.allclose(x, sig, atol=1 / 64)
    raw = (sig * 8388608).clip(-8388608, 8388607).astype(np.int64)
    b24 = b"".join(int(v & 0xFFFFFF).to_bytes(3, "little") for v in raw)
    x, _ = decode_wav(wav(1, 24, b24))
    assert np.allclose(x, sig, atol=1 / 8388608)
    x, _ = decode_wav(wav(1, 32, (sig * 2147483648).clip(-2**31, 2**31 - 1)
                          .astype("<i4").tobytes()))
    assert np.allclose(x, sig, atol=1e-9)
    x, _ = decode_wav(wav(3, 32, sig.astype("<f4").tobytes()))
    assert np.allclose(x, sig, atol=1e-7)
    x, _ = decode_wav(wav(3, 64, sig.astype("<f8").tobytes()))
    assert np.array_equal(x, sig)
    x, _ = decode_wav(wav(3, 32, sig.astype("<f4").tobytes(), extensible=True))
    assert np.allclose(x, sig, atol=1e-7)
    st = np.stack([sig, -sig], -1).ravel()
    x, _ = decode_wav(wav(1, 16, (st * 32768).clip(-32768, 32767)
                          .astype("<i2").tobytes(), ch=2))
    assert np.allclose(x, np.zeros(6), atol=1 / 16384)
    with pytest.raises(ValueError, match="format=2"):
        decode_wav(wav(2, 4, b"\x00" * 8))  # ADPCM


def test_blas_assignment_matches_fold_reference(spark):
    """Above _HOF_CENTROID_MAX centroids the assignment scores are one BLAS
    product, not the Spark folds: the ids must still be the ones the
    Spark ``cosine`` / ``_l2sq`` values rank first (ties to the smaller
    id; exact ties are measure-zero on random data), for both metrics,
    and NULL/wrong-dim vectors yield NULL. A zero vector has no cosine
    (``test_zero_norm_vector_raises_at_every_size``) but an L2 cell."""
    rng = np.random.RandomState(11)
    emb = spark.createDataFrame(
        [(i, rng.randn(8).tolist()) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    cents = [(i, rng.randn(8).tolist()) for i in range(150)]
    folds = {
        (r["vec_id"], r["cid"]): (r["cs"], r["d2"])
        for r in emb.crossJoin(
            spark.createDataFrame(cents, "cid long, c array<double>")
        ).select(
            "vec_id", "cid",
            sim.cosine(F.col("embedding"), F.col("c")).alias("cs"),
            sim._l2sq(F.col("embedding"), F.col("c")).alias("d2"),
        ).collect()
    }
    keys = {"cosine": lambda i, c: (-folds[i, c][0], c),
            "l2": lambda i, c: (folds[i, c][1], c)}
    for metric, key in keys.items():
        got = {
            r["vec_id"]: r["__cids"]
            for r in sim.with_nearest_ids(
                emb, F.col("embedding"), cents, 3, "__cids", metric
            ).collect()
        }
        want = {i: sorted(range(150), key=lambda c: key(i, c))[:3]
                for i in range(120)}
        assert got == want, metric
    nulls = spark.createDataFrame(
        [(1, None), (2, [0.5, 0.5]), (3, [0.0] * 8)],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: r["__cids"]
        for r in sim.with_nearest_ids(
            nulls, F.col("embedding"), cents, 2, metric="l2"
        ).collect()
    }
    assert out[1] is None and out[2] is None  # null + wrong-dim
    assert out[3] is not None and len(out[3]) == 2
    assert sim.with_nearest_ids(
        nulls.where("vec_id < 3"), F.col("embedding"), cents, 2
    ).where("__cids IS NOT NULL").count() == 0


def test_matmul_tier_end_to_end_ivf(spark):
    """ivf_topk above _HOF_CENTROID_MAX centroids (BLAS assignment
    scores) returns sane ranked neighbors: a full probe is exact."""
    rng = np.random.RandomState(12)
    emb = spark.createDataFrame(
        [(i, rng.randn(8).tolist()) for i in range(400)],
        "vec_id long, embedding array<double>",
    )
    q = emb.where(F.col("vec_id") < 3)
    out = sim.ivf_topk(emb, q, k=2, n_centroids=150, n_probe=150)
    rows = out.collect()
    assert len(rows) == 6  # 3 queries x k=2 (full probe => exact top-2)
    exact = sim.brute_force_topk(emb, q, k=2).collect()
    assert sorted((r["query_id"], r["neighbor_id"]) for r in rows) == sorted(
        (r["query_id"], r["neighbor_id"]) for r in exact
    )


def test_robots_filter_semantics(spark):
    """robots.txt compliance: RFC 9309 group selection (specific agent
    supersedes '*', consecutive User-agent lines share a group), 1994-REP
    longest-prefix matching, allow-beats-disallow on ties, empty and
    wildcard rules dropped, missing robots => allowed."""
    from nested_pandas_spark.pipeline.web import parse_robots, robots_filter

    txt_a = "\n".join([
        "# site a",
        "User-agent: *",
        "Disallow: /private",
        "Allow: /private/ok",
        "Disallow:",          # empty => allow-all no-op, dropped
        "Disallow: /tmp*",    # wildcard rule: dropped (documented boundary)
        "",
        "User-agent: badbot",
        "User-agent: worsebot",
        "Disallow: /",
    ])
    txt_b = "\n".join([
        "User-agent: *",
        "Disallow: /",
        "User-agent: mybot",
        "Disallow: /secret",
    ])
    robots = spark.createDataFrame(
        [("a.com", txt_a), ("b.com", txt_b)],
        "domain string, robots_txt string",
    )
    # parse: '*' agent on a.com sees 3 usable rules; badbot group excluded
    rules = {(r["rule"], r["path"])
             for r in parse_robots(robots, agent="*").collect()
             if r["domain"] == "a.com"}
    assert rules == {("disallow", "/private"), ("allow", "/private/ok")}
    # badbot: the specific group supersedes '*'
    rules_bad = {(r["rule"], r["path"])
                 for r in parse_robots(robots, agent="BadBot").collect()
                 if r["domain"] == "a.com"}
    assert rules_bad == {("disallow", "/")}

    docs = spark.createDataFrame(
        [
            (1, "https://a.com/public/x"),        # no match -> kept
            (2, "https://a.com/private/doc"),     # disallow /private
            (3, "https://a.com/private/ok/doc"),  # longer allow wins
            (4, "https://b.com/anything"),        # disallow / for '*'
            (5, "https://c.com/x"),               # no robots -> kept
            (6, None),                            # unparseable -> kept
        ],
        "doc_id long, url string",
    )
    kept = {r["doc_id"] for r in robots_filter(docs, robots, "url").collect()}
    assert kept == {1, 3, 5, 6}
    # mybot on b.com: specific group only blocks /secret
    kept_my = {
        r["doc_id"]
        for r in robots_filter(docs, robots, "url", agent="mybot").collect()
    }
    assert 4 in kept_my


def test_audio_spectrum_pure_tone(spark):
    # exact-bin sine: N=64 samples at bin k=5 -> argmax is exactly k
    n, k, rate = 64, 5, 8000
    samples = [int(round(12000 * np.sin(2 * np.pi * k * i / n)))
               for i in range(n)]
    bdf = spark.createDataFrame(
        [(1, bytearray(_make_wav(samples, rate=rate)))],
        "id int, payload binary",
    )
    [r] = mm.audio_spectrum(bdf, strict=True).collect()
    assert r["dominant_bin"] == k
    assert r["dominant_hz"] == pytest.approx(k * rate / n)
    # centroid parity with a direct NumPy computation
    x = np.array(samples, dtype=np.float64) / 32768.0
    mag = np.abs(np.fft.rfft(x))
    freqs = np.arange(len(mag)) * rate / n
    assert r["centroid_hz"] == pytest.approx(float((freqs * mag).sum() / mag.sum()))


def test_audio_spectrum_edge_cases(spark):
    bdf = spark.createDataFrame(
        [(1, bytearray(_make_wav([0]))), (2, None)],
        "id int, payload binary",
    )
    rows = {r["id"]: r for r in mm.audio_spectrum(bdf).collect()}
    assert rows[1]["dominant_bin"] is None  # single sample: no spectrum
    assert rows[2]["dominant_bin"] is None
    junk = spark.createDataFrame([(1, bytearray(b"oggdata"))],
                                 "id int, payload binary")
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        mm.audio_spectrum(junk, strict=True).collect()
    # stub path: raw uint8 bytes still produce a spectrum
    [r] = mm.audio_spectrum(junk, strict=False).collect()
    assert r["dominant_bin"] is not None


def test_audio_spectrum_nfft_padding(spark):
    n, k, rate = 32, 3, 8000
    samples = [int(round(9000 * np.sin(2 * np.pi * k * i / n)))
               for i in range(n)]
    bdf = spark.createDataFrame(
        [(1, bytearray(_make_wav(samples, rate=rate)))],
        "id int, payload binary",
    )
    # zero-padding to 64 doubles the bin index resolution: peak at 2k
    [r] = mm.audio_spectrum(bdf, strict=True, n_fft=64).collect()
    assert r["dominant_bin"] == 2 * k


# ---------------------------------------------------------------- sentences


def test_split_sentences_basics(spark):
    from nested_pandas_spark.pipeline.text import split_sentences

    df = spark.createDataFrame(
        [
            (0, "Hello world. How are you? Fine!! Trailing tail"),
            (1, None),
            (2, ""),
            (3, "..."),
            (4, "One"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["ss"]
        for r in df.select("doc_id", split_sentences("text").alias("ss")).collect()
    }
    assert got[0] == ["Hello world.", "How are you?", "Fine!!", "Trailing tail"]
    assert got[1] == [] and got[2] == []
    assert got[3] == []  # terminator-only text has no sentence content
    assert got[4] == ["One"]


def test_sentence_stats_values_and_no_shuffle(spark):
    from nested_pandas_spark.pipeline.text import sentence_stats

    df = spark.createDataFrame(
        [(0, "A b c. D e? F"), (1, None)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in sentence_stats(df).collect()}
    assert rows[0]["n_sentences"] == 3
    assert rows[0]["sent_words"] == 6
    assert rows[0]["max_sent_chars"] == 6  # "A b c."
    assert rows[1]["n_sentences"] == 0 and rows[1]["sent_words"] == 0
    assert not find_nodes(sentence_stats(df), "ShuffleExchange")


# --------------------------------------------------------- audio near-dup


def _const_frame_wav(amps, frame=16):
    import struct

    samples = []
    for a in amps:
        samples.extend([int(a)] * frame)
    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    return bytes(
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def test_audio_fingerprint_bits(spark):
    from nested_pandas_spark.pipeline.multimodal import audio_fingerprint

    amps = [100, 200, 200, 50, 300]  # bits: 1 (up), 0 (flat), 0 (down), 1 (up)
    df = spark.createDataFrame(
        [(0, _const_frame_wav(amps)), (1, None)], "id long, payload binary"
    )
    rows = {
        r["id"]: r["afp"]
        for r in audio_fingerprint(
            df, frame=16, n_frames=5, strict=True
        ).collect()
    }
    assert rows[0] == 0b1001
    assert rows[1] is None


def test_audio_fingerprint_gain_invariant(spark):
    from nested_pandas_spark.pipeline.multimodal import audio_fingerprint

    amps = [100, 220, 40, 310, 150, 90, 260, 10, 330]
    df = spark.createDataFrame(
        [(0, _const_frame_wav(amps)),
         (1, _const_frame_wav([a * 3 for a in amps]))],
        "id long, payload binary",
    )
    rows = [r["afp"] for r in audio_fingerprint(
        df, frame=16, n_frames=9, strict=True).collect()]
    assert rows[0] == rows[1]  # energy ORDER survives gain


def test_audio_near_pairs(spark):
    from nested_pandas_spark.pipeline.multimodal import audio_near_pairs

    base = [((i * 37) % 200) + 50 for i in range(33)]
    variant = list(base)
    variant[5] += 500  # flips a couple of neighboring bits at most
    far = [((i * 91) % 300) + 20 for i in range(33)]
    df = spark.createDataFrame(
        [(0, _const_frame_wav(base, frame=8)),
         (1, _const_frame_wav(variant, frame=8)),
         (2, _const_frame_wav(far, frame=8))],
        "id long, payload binary",
    )
    pairs = audio_near_pairs(
        df, "id", frame=8, n_frames=33, strict=True, max_hamming=3
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in got
    assert (0, 2) not in got and (1, 2) not in got


def test_corpus_diff_statuses(spark):
    from nested_pandas_spark.pipeline.corpus import corpus_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "b"), (4, "c")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(10, "b"), (11, "d")], "doc_id long, text string"
    )
    rows = {r["status"]: r for r in corpus_diff(old, new).collect()}
    assert set(rows) == {"added", "removed", "kept"}
    kept = [r for r in corpus_diff(old, new).collect() if r["status"] == "kept"]
    assert len(kept) == 1 and kept[0]["old_id"] == 2 and kept[0]["old_n"] == 2
    removed = [r for r in corpus_diff(old, new).collect() if r["status"] == "removed"]
    assert {r["old_id"] for r in removed} == {1, 4}


def test_resolve_duplicates_keep_best(spark):
    from nested_pandas_spark.pipeline.dedup import resolve_duplicates

    docs = spark.createDataFrame(
        [(1, 0.1), (2, 0.9), (3, 0.5), (4, 0.4), (5, 0.7)],
        "doc_id long, score double",
    )
    # clusters: {1,2,3} (transitively via 1-2, 2-3), {4}, {5}
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    kept = sorted(
        r["doc_id"]
        for r in resolve_duplicates(
            docs, pairs, "doc_id", score_col="score"
        ).collect()
    )
    assert kept == [2, 4, 5]  # 2 beats 1 and 3 on score
    # default path still keeps the smallest id
    kept_min = sorted(
        r["doc_id"]
        for r in resolve_duplicates(docs, pairs, "doc_id").collect()
    )
    assert kept_min == [1, 4, 5]
    # tie: equal scores -> smallest id wins
    tie = spark.createDataFrame(
        [(7, 1.0), (8, 1.0)], "doc_id long, score double"
    )
    tp = spark.createDataFrame([(7, 8)], "id_a long, id_b long")
    assert [r["doc_id"] for r in resolve_duplicates(tie, tp, "doc_id", score_col="score").collect()] == [7]


def test_dedup_keep_best_string_ids(spark):
    """Tie-break must work for non-numeric ids (e.g. WARC record ids):
    best score wins, equal scores break to the smallest id."""
    from nested_pandas_spark.pipeline.dedup import dedup_keep_best

    docs = spark.createDataFrame(
        [
            ("rec-b", "a  b", 0.2),
            ("rec-a", "A B", 0.9),
            ("rec-c", "A b", 0.9),
            ("rec-d", "c", 0.5),
        ],
        "rid string, text string, q double",
    )
    rows = {r["rid"]: r for r in dedup_keep_best(docs, "rid", "q").collect()}
    # the "a b" group: 0.9 beats 0.2, and rec-a < rec-c on the tie
    assert set(rows) == {"rec-a", "rec-d"}
    assert rows["rec-a"]["n_dups"] == 3


def test_dedup_keep_best_numeric_ids_unchanged(spark):
    from nested_pandas_spark.pipeline.dedup import dedup_keep_best

    docs = spark.createDataFrame(
        [(1, "a  b", 0.2), (2, "A B", 0.9), (3, "c", 0.5), (4, "a b", 0.9)],
        "doc_id long, text string, q double",
    )
    rows = sorted(
        (r["doc_id"], r["n_dups"])
        for r in dedup_keep_best(docs, "doc_id", "q").collect()
    )
    assert rows == [(2, 3), (3, 1)]  # score tie 2 vs 4 -> smallest id


def test_temperature_mixture_limits_and_math(spark):
    """T=1 reproduces natural shares; T->0 flattens toward uniform;
    fractions follow the no-upsampling normalization; validation."""
    import math

    from nested_pandas_spark.pipeline.corpus import temperature_mixture

    docs = spark.createDataFrame(
        [(i, "w " * (90 if i < 9 else 10), "big" if i < 9 else "small")
         for i in range(10)],
        "doc_id long, text string, source string",
    )
    # natural shares: big 9*90=810 tokens, small 1*10=10 -> 810/820, 10/820
    t1 = {r["source"]: r for r in temperature_mixture(
        docs, temperature=1.0).collect()}
    assert abs(t1["big"]["target_share"] - 810 / 820) < 1e-9
    assert t1["big"]["fraction"] == 1.0 and t1["small"]["fraction"] == 1.0
    # T=0.3 up-weights the small source
    t3 = {r["source"]: r for r in temperature_mixture(
        docs, temperature=0.3).collect()}
    s, b = 10 / 820, 810 / 820
    z = s ** 0.3 + b ** 0.3
    assert abs(t3["small"]["target_share"] - s ** 0.3 / z) < 1e-9
    assert t3["small"]["target_share"] > t1["small"]["target_share"]
    # most over-demanded keeps 1.0; the other scales down
    assert t3["small"]["fraction"] == 1.0
    assert 0 < t3["big"]["fraction"] < 1.0
    expect_big = (b ** 0.3 / z / b) / (s ** 0.3 / z / s)
    assert math.isclose(t3["big"]["fraction"], expect_big, rel_tol=1e-6)
    import pytest as _pt
    for bad in (0.0, 1.5, -0.2):
        with _pt.raises(ValueError):
            temperature_mixture(docs, temperature=bad)


def test_normalize_text_chain(spark):
    from nested_pandas_spark.pipeline.text import normalize_text

    df = spark.createDataFrame(
        [
            (0, "“Hi” ‘there’ – café…\x07​ok  end"),
            (1, None),
            (2, "  already   clean "),
        ],
        "id long, text string",
    )
    got = {r["id"]: r["t"] for r in df.select("id", normalize_text("text").alias("t")).collect()}
    assert got[0] == "\"Hi\" 'there' - café...ok end"
    assert got[1] is None
    assert got[2] == "already clean"


def test_zipf_stats_slope_and_ranking(spark):
    import math

    from nested_pandas_spark.pipeline.text import zipf_stats

    # construct an exact Zipf corpus: word w_r appears round(1000/r) times
    rows = []
    for r in range(1, 21):
        rows.extend((f"w{r:02d}",) for _ in range(round(1000 / r)))
    df = spark.createDataFrame([(" ".join(w for (w,) in rows),)], "text string")
    out = zipf_stats(df, top_k=20).collect()
    assert [r["word"] for r in sorted(out, key=lambda r: r["rank"])][:3] == [
        "w01", "w02", "w03"
    ]
    slope = out[0]["slope"]
    assert abs(slope - (-1.0)) < 0.01  # near-exact Zipf
    # parity vs a numpy least-squares on the same points
    import numpy as np

    lx = np.log10([r["rank"] for r in out])
    ly = np.log10([r["n"] for r in out])
    want = np.polyfit(lx, ly, 1)[0]
    assert slope == pytest.approx(want, rel=1e-9)


def test_encode_wav_roundtrip(spark):
    import numpy as np

    from nested_pandas_spark.pipeline.multimodal import decode_wav, encode_wav

    rng = np.random.RandomState(3)
    vals = (rng.rand(256) * 2 - 1).tolist()
    df = spark.createDataFrame(
        [(0, vals), (1, None)], "id long, samples array<double>"
    )
    rows = {r["id"]: r["payload"] for r in encode_wav(df, sample_rate=16000).collect()}
    assert rows[1] is None
    x, rate = decode_wav(bytes(rows[0]))
    assert rate == 16000 and len(x) == 256
    # quantization error bounded by one LSB of int16
    np.testing.assert_allclose(x, np.clip(vals, -1, 1), atol=1.5 / 32767)


# ----------------------------------------------------- corpus_report


def test_corpus_report_values(spark):
    from nested_pandas_spark.pipeline.corpus import corpus_report

    df = spark.createDataFrame(
        [
            (0, "alpha beta gamma", "en", "web"),
            (1, "alpha  beta GAMMA ", "en", "web"),   # dup after normalize
            (2, "one two", "fr", "books"),
            (3, None, "fr", "web"),
            (4, "", "de", "web"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    got = {r["metric"]: r["value"]
           for r in corpus_report(df, lang_col="lang",
                                  source_col="source").collect()}
    assert got["n_docs"] == 5.0
    assert got["n_empty"] == 2.0
    assert got["total_tokens"] == 8.0
    assert got["tokens_max"] == 3.0
    assert got["tokens_mean"] == round(8 / 3, 6)
    assert got["tokens_p50"] == 3.0
    assert got["distinct_docs"] == 2.0       # doc 1 normalizes onto doc 0
    assert got["dup_rate"] == round(1 - 2 / 3, 6)
    assert got["n_langs"] == 3.0
    assert got["n_sources"] == 2.0
    assert 0.0 <= got["quality_mean"] <= 1.0


def test_corpus_report_empty_and_optional_cols(spark):
    from nested_pandas_spark.pipeline.corpus import corpus_report

    df = spark.createDataFrame([(1, None)], "doc_id long, text string")
    got = {r["metric"]: r["value"] for r in corpus_report(df).collect()}
    assert got["n_docs"] == 1.0 and got["n_empty"] == 1.0
    assert got["tokens_mean"] is None and got["dup_rate"] is None
    assert "n_langs" not in got and "n_sources" not in got


# ----------------------------------------------------- pack_whole_docs


def test_pack_whole_docs_matches_python_nextfit(spark):
    import re as _re

    from nested_pandas_spark.pipeline.corpus import pack_whole_docs

    texts = {i: " ".join(f"w{j}" for j in range((i * 7) % 13))
             for i in range(40)}
    texts[40] = None
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string")
    cap, shard = 10, 8
    got = {r["doc_id"]: (r["n_tokens"], r["bin_id"], r["bin_fill"],
                         r["oversize"])
           for r in pack_whole_docs(df, cap, shard_docs=shard).collect()}
    # python reference
    sized = sorted(
        (i, len([w for w in _re.split(r"\s+", t or "") if w]))
        for i, t in texts.items()
    )
    sized = [(i, n) for i, n in sized if n > 0]
    want = {}
    for rn, (i, n) in enumerate(sized):
        sh, pos = rn // shard, rn % shard
        if pos == 0:
            fill, local = n, 0
        elif fill + n > cap:
            local += 1
            fill = n
        else:
            fill += n
        want[i] = (n, (sh << 32) + local, fill, n > cap)
    assert got == want


def test_pack_whole_docs_invariants(spark):
    from nested_pandas_spark.pipeline.corpus import pack_whole_docs

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cap = 128
    out = pack_whole_docs(df, cap, shard_docs=64).cache()
    # every non-oversize bin's load fits the capacity
    loads = out.groupBy("bin_id").agg(
        F.max("bin_fill").alias("load"),
        F.max(F.col("oversize").cast("int")).alias("over"))
    assert loads.where("over = 0 AND load > 128").count() == 0
    # every non-empty doc appears exactly once
    n = df.where(
        F.size(F.expr(
            "filter(split(lower(coalesce(text, '')), '\\\\s+'), x -> x <> '')"
        )) > 0).count()
    assert out.count() == n
    out.unpersist()
