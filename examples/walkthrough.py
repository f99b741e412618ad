"""End-to-end walkthrough of nested_pandas_spark on the test star schema.

Run: python examples/walkthrough.py [sf_dir]

Covers the reference workflow (pack -> query -> eval -> reduce -> unpack)
and the beyond-reference pipeline (text stats, dedup, similarity, as-of).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from nested_pandas_spark import NestedFrame, get_spark
    from nested_pandas_spark.operators.asof import asof_join
    from nested_pandas_spark.pipeline import dedup, similarity, text

    spark = get_spark("walkthrough")

    # -- 1. pack: lineitem rows become one nested cell per order ----------
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    items = spark.read.parquet(f"{sf}/lineitem.parquet").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    ndf = NestedFrame(orders).join_nested(items, "items", on="o_orderkey")
    print("packed:", ndf.all_columns)

    # -- 2. element-level query (pushes to the lineitem scan) -------------
    hi = ndf.query("items.l_quantity > 30 and o_totalprice > 50000.0")

    # -- 3. eval a derived sub-column, reduce per row ---------------------
    hi = hi.eval("items.revenue = items.l_extendedprice * (1 - items.l_discount)")
    hi = hi.nest_agg("items", "revenue", "sum", alias="hi_rev")
    hi.df.select("o_orderkey", "hi_rev").show(5)

    # -- 4. unpack back to flat -------------------------------------------
    flat = hi.to_flat("items", keys=["o_orderkey"])
    print("flat rows:", flat.count())

    # -- 5. text pipeline on documents ------------------------------------
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    stats = text.add_text_stats(docs)
    stats.select("doc_id", "n_tokens", "lang_pred", "quality").show(5)
    pairs = dedup.lsh_candidate_pairs(docs, "doc_id", num_hashes=8, bands=4)
    print("near-dup candidate pairs:", pairs.count())

    # -- 6. similarity search over embeddings ------------------------------
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    topk = similarity.brute_force_topk(emb, emb.limit(3), k=2)
    topk.show()

    # -- 7. as-of join over the event stream -------------------------------
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{sf}/events.parquet")
    clicks = ev.where("event_type = 'click'").select("event_id", "user_id", "ts")
    signups = ev.where("event_type = 'signup'").select(
        "user_id", "ts", F.col("event_id").alias("signup_id")
    )
    matched = asof_join(clicks, signups, on="user_id", ts="ts", right_cols=["signup_id"])
    print("clicks with a prior signup:",
          matched.where("signup_id_right IS NOT NULL").count())

    # -- 8. refined ANN + the materialized IVF index ------------------------
    import tempfile

    from nested_pandas_spark.sources.ivf_store import ivf_search, write_ivf_index

    queries = emb.where(F.col("vec_id") < 3)
    approx = similarity.ivf_topk(emb, queries, k=2, n_centroids=8,
                                 n_probe=3, n_iters=2)  # 2 Lloyd rounds
    print("refined-IVF neighbor pairs:", approx.count())
    with tempfile.TemporaryDirectory() as d:
        write_ivf_index(emb, d, n_centroids=8, n_iters=2)
        stored = ivf_search(spark, d, queries, k=2, n_probe=3)
        # probing is a literal partition filter: the scan never opens
        # non-probed centroid directories
        print("IVF-store neighbor pairs:", stored.count())

    # -- 9. multi-probe LSH: recall without extra tables --------------------
    probed = similarity.lsh_topk(emb, queries, k=5, num_planes=4,
                                 multi_probe=2)
    print("multi-probe LSH pairs:", probed.count())

    # -- 10. training-data packing: context-window bins ---------------------
    from nested_pandas_spark.pipeline.corpus import pack_sequences

    bins = pack_sequences(docs, 2048, tokens_col="n_chars")
    print("context-window bins:",
          bins.agg(F.countDistinct("bin_id")).collect()[0][0])

    # -- 11. semantic dedup + leakage-controlled split ----------------------
    from nested_pandas_spark.pipeline.corpus import (
        boilerplate_ngrams,
        split_by_cluster,
    )
    from nested_pandas_spark.pipeline.dedup import (
        ngram_jaccard_pairs,
        semantic_dedup,
    )

    sem = semantic_dedup(emb, n_centroids=8, n_iters=1, threshold=0.35)
    print("semantic dedup kept:",
          sem.where("kept").count(), "/", sem.count())

    pairs = ngram_jaccard_pairs(docs, "doc_id", shingle_n=3, threshold=0.5)
    splits = split_by_cluster(docs, pairs, "doc_id", test_frac=0.1)
    print("split sides:",
          sorted((r["split"], r["n"]) for r in
                 splits.groupBy("split").agg(F.count("*").alias("n")).collect()))

    # -- 12. boilerplate n-grams: cross-document duplication signal ---------
    bp = boilerplate_ngrams(docs, ngram_n=5, min_df=3)
    print("docs with >10% corpus-common 5-grams:",
          bp.where("common_ratio > 0.1").count())

    # -- 12b. line-level dedup: REMOVE corpus-common lines, keep order ------
    from nested_pandas_spark.pipeline.corpus import strip_boilerplate_lines

    stripped = strip_boilerplate_lines(docs, sep=" ", min_df=380)
    print("boilerplate tokens removed:",
          stripped.agg(F.sum("n_removed")).collect()[0][0])

    # -- 12c. source-level triage: drop spam domains wholesale --------------
    from nested_pandas_spark.pipeline.corpus import source_stats

    srcs = source_stats(docs, min_docs=2, min_avg_quality=0.73)
    print("sources kept:", srcs.where("keep").count(), "/", srcs.count())

    # -- 12d. corpus analytics: profile, vocabulary, per-source stats -------
    from nested_pandas_spark import group_describe, profile
    from nested_pandas_spark.pipeline.text import vocab

    print("documents profile rows:", profile(docs).count())
    print("top token:", vocab(docs, top_k=1).collect()[0]["token"])
    print("per-source stat rows:",
          group_describe(docs, by="source", columns=["n_chars"]).count())

    # -- 12e. column distributions: value_counts + histogram ----------------
    from nested_pandas_spark import histogram, value_counts

    vc = value_counts(ndf.df, "items.l_returnflag", normalize=True)
    print("return flags:",
          [(r["value"], r["count"]) for r in vc.collect()])
    hist = histogram(ev, "value", bins=10, lo=0.0, hi=10.0)
    print("event-value histogram mass:",
          hist.agg(F.sum("count")).collect()[0][0])

    # -- 12f. light-curve ops: fold each user's series, then rebin it -------
    from nested_pandas_spark import pack, phase_fold, rebin, to_flat

    series = pack(ev.select("user_id", "ts", "value"), "series",
                  on="user_id", sort_within=["ts"])
    day_ns = 86_400 * 10**9 if dict(ev.dtypes)["ts"] == "bigint" else 86_400 * 10**6
    folded = phase_fold(series, "series", "ts", period=7 * day_ns)
    binned = rebin(folded, "series", "ts", width=day_ns, value_fields=["value"])
    print("users with >=25 daily bins:",
          binned.where(F.size("series_binned") >= 25).count())
    print("phases in [0,1):",
          to_flat(folded, "series", keys=["user_id"])
          .where("phase >= 0 AND phase < 1").count())

    # -- 12f2. clean + characterize each series: clip outliers, fit a trend -
    from nested_pandas_spark import nest_diff, sigma_clip, trend_slope

    clipped = sigma_clip(series, "series", "value", sigma=3.0)
    print("events clipped:",
          series.selectExpr("sum(size(series))").collect()[0][0]
          - clipped.selectExpr("sum(size(series))").collect()[0][0])
    slopes = trend_slope(series, "series", "ts", "value", time_scale=day_ns)
    print("users with rising value trend:",
          slopes.where("series_slope > 0").count())
    gaps = nest_diff(series, "series", "ts", out_field="gap")
    print("max inter-event gap (days):",
          round(gaps.selectExpr(
              "max(array_max(transform(series, x -> x.gap)))"
          ).collect()[0][0] / day_ns, 2))

    # -- 12f3. language-model quality + hashed tf-idf vectors ---------------
    from nested_pandas_spark.pipeline.text import hashed_tfidf, unigram_logprob

    lm = unigram_logprob(docs)
    print("suspicious (low-logprob) docs:",
          lm.where("mean_logp < -9").count())
    tvecs = hashed_tfidf(docs, dim=32)
    print("tfidf vectors:", tvecs.count())

    # -- 12f4. crossmatch two synthetic catalogs ----------------------------
    from nested_pandas_spark.operators.crossmatch import crossmatch

    def xy(df, key):
        h = lambda s: (  # noqa: E731
            F.conv(F.substring(F.md5(F.concat_ws(
                ":", F.col(key).cast("string"), F.lit(s))), 1, 8), 16, 10)
            .cast("long") / F.lit(2**32) * 100.0
        )
        return df.select(F.col(key), h("x").alias("x"), h("y").alias("y"))

    cust = xy(spark.read.parquet(f"{sf}/customer.parquet"), "c_custkey")
    supp = xy(spark.read.parquet(f"{sf}/supplier.parquet"), "s_suppkey")
    print("suppliers with a customer within r=5:",
          crossmatch(supp, cust, "s_suppkey", "c_custkey",
                     radius=5.0).where("rank = 1").count())

    # -- 12g. concat: outer-align two differently-shaped frames -------------
    evens = NestedFrame(orders.where("o_orderkey % 2 = 0"))
    odds = NestedFrame(orders.where("o_orderkey % 2 = 1").drop("o_orderpriority"))
    print("concat rows:", NestedFrame.concat([evens, odds]).df.count())

    # -- 12h. int8 quantization: shrink the ANN corpus 4x -------------------
    from nested_pandas_spark.pipeline.similarity import (
        quantize_embeddings, quantized_topk, random_projection,
    )

    qemb = quantize_embeddings(emb)
    qtop = quantized_topk(qemb, qemb.where("vec_id < 3"), k=2)
    print("quantized top-k rows:", qtop.count())
    proj = random_projection(emb, out_dim=8, dim=64)
    print("JL-projected dims:",
          proj.selectExpr("size(projected)").first()[0])

    # -- 12i. per-cell featurization + interval overlap ---------------------
    from nested_pandas_spark import nest_describe
    from nested_pandas_spark.operators.asof import interval_join

    feats = nest_describe(series, "series", "value", prefix="v")
    print("featurized users:", feats.where("v_n > 0").count())
    half_hour = 1_800 * 1_000_000  # 30 min in exact epoch micros
    ts_us = (F.expr("ts div 1000") if dict(ev.dtypes)["ts"] == "bigint"
             else F.unix_micros(F.col("ts").cast("timestamp")))

    def win(t):
        return ev.where(F.col("event_type") == t).select(
            F.col("event_id").alias(f"{t}_id"), "user_id",
            ts_us.alias(f"{t}_s"),
            (ts_us + half_hour).alias(f"{t}_e"))

    ov = interval_join(win("click"), win("signup"), "user_id",
                       "click_s", "click_e", "signup_s", "signup_e",
                       bucket=half_hour)
    print("click/signup half-hour overlaps:", ov.count())

    # -- 12j. training-data prep: chunk, bin, sample, fingerprint -----------
    from nested_pandas_spark.pipeline.corpus import (
        chunk_documents,
        quality_bins,
        sample_per_group,
    )
    from nested_pandas_spark.pipeline.dedup import winnow_near_pairs

    docs2 = docs.where(F.col("text").isNotNull())
    chunks = chunk_documents(docs2, max_tokens=64, stride=48)
    print("context-window chunks (64/48):", chunks.count())
    binned = quality_bins(
        docs2.select("doc_id", F.length("text").cast("double").alias("score")),
        "score", 5)
    print("curriculum bins:",
          sorted((r["bin"], r["count"]) for r in
                 binned.groupBy("bin").count().collect()))
    eval_set = sample_per_group(docs2, "source", 5, seed=7)
    print("deterministic eval sample (5/source):", eval_set.count())
    overlaps = winnow_near_pairs(docs2, k=3, window=4, min_shared=2)
    print("winnowing substring-overlap pairs:", overlaps.count())
    from nested_pandas_spark.pipeline.corpus import filter_paragraphs
    cleaned = filter_paragraphs(docs, -3.47)
    print("paragraphs removed by LM floor:",
          cleaned.agg(F.sum("n_paras_removed")).collect()[0][0])

    # -- 12j2. trained quality classifier + mixture materialization ---------
    from nested_pandas_spark.pipeline.classifier import (
        classifier_score_inline,
        train_quality_classifier,
    )
    from nested_pandas_spark.pipeline.corpus import build_mixture
    from nested_pandas_spark.pipeline.text import kn_bigram_logprob

    labeled = docs.withColumn("y", (F.col("lang") == "en").cast("int"))
    wdf = train_quality_classifier(labeled, "y", dim=32, epochs=3)
    kept_clf = classifier_score_inline(
        docs, wdf, dim=32, threshold=0.5).where("clf_score_keep")
    print("classifier-kept docs:", kept_clf.count())
    kn = kn_bigram_logprob(docs)
    print("KN bigram mean logp (corpus avg): %.3f" %
          kn.agg(F.avg("mean_logp")).collect()[0][0])
    mix = build_mixture(docs, {"src0": 0.5, "src1": 0.5}, 1000)
    print("mixture docs (50/50, 1k tokens):", mix.count())

    # -- 12j3. hard negatives for contrastive training ----------------------
    from nested_pandas_spark.pipeline.similarity import hard_negatives

    negs = hard_negatives(emb, "label", k=2, num_planes=4, num_tables=2)
    print("hard-negative pairs:", negs.count())

    # -- 12k. composed IVF+PQ ANN (the FAISS IVFx,PQy shape) ----------------
    from nested_pandas_spark.pipeline.similarity import ivfpq_topk

    hits = ivfpq_topk(emb, emb.where(F.col("vec_id") < 3), k=3,
                      n_centroids=4, n_probe=2, n_sub=4, pq_centroids=8,
                      refine=4)
    print("ivf+pq neighbors:", hits.count())

    # -- 12l. media loop: real JPEG/PNG decode -> resize -> re-encode --------
    import numpy as np

    from nested_pandas_spark.pipeline.jpeg import encode_jpeg
    from nested_pandas_spark.pipeline.multimodal import (
        decode_image,
        encode_image,
        image_near_pairs,
        resize_image,
    )

    def _jpegs(batches):
        for pdf in batches:
            out = pdf[["doc_id"]].copy()
            out["payload"] = [
                encode_jpeg(
                    np.random.default_rng(int(d))
                    .integers(0, 256, (16, 16), dtype=np.uint8),
                    quality=90,
                )
                for d in pdf["doc_id"]
            ]
            yield out

    media = docs.limit(64).select("doc_id").mapInPandas(
        _jpegs, "doc_id long, payload binary")
    pix = decode_image(media, "payload", strict=True)  # REAL jpeg decode
    thumbs = encode_image(
        resize_image(pix, in_height=16, in_width=16, channels=1,
                     out_height=8, out_width=8),
        height=8, width=8, channels=1, format="png")
    print("jpeg->resize->png thumbnails:", thumbs.where(
        F.col("payload").isNotNull()).count())
    near = image_near_pairs(
        pix, "doc_id", in_height=16, in_width=16, channels=1,
        max_hamming=3)
    print("perceptual near-dup image pairs:", near.count())

    # -- 12b. byte-level BPE: train on the corpus, encode anything ----------
    from nested_pandas_spark.pipeline.text import (
        byte_bpe_decode,
        byte_bpe_encode,
        byte_bpe_train,
    )

    merges, _ = byte_bpe_train(docs.limit(200), n_merges=12)
    enc = byte_bpe_encode(docs.limit(5), merges)
    roundtrip = enc.select(
        (byte_bpe_decode("tokens") == F.coalesce(F.col("text"), F.lit("")))
        | F.col("text").isNull()
    ).collect()
    print("byte-BPE lossless round trip on 5 docs:",
          all(r[0] for r in roundtrip))

    # -- 12c. residual IVF+PQ: the FAISS IVFADC shape -----------------------
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 5)
    ann = similarity.ivfpq_topk(
        emb, qs, k=3, n_centroids=8, n_probe=2, n_sub=4, pq_centroids=8,
        refine=4, n_iters=1, pq_iters=1, residual=True)
    print("residual IVFPQ top-3 rows:", ann.count())

    # -- 12d. eTLD+1 domain curation ----------------------------------------
    from nested_pandas_spark.pipeline.web import with_registrable_domain

    urls = spark.createDataFrame(
        [(0, "https://a.shop.example.co.uk/x"), (1, "http://www.foo.com/y")],
        "doc_id long, url string")
    print("registrable domains:",
          [r["registrable_domain"] for r in
           with_registrable_domain(urls, url_col="url").collect()])

    # -- 12e. WordPiece: train, persist, reload, tokenize --------------------
    import tempfile

    from nested_pandas_spark.pipeline.tokenizer_io import (
        load_tokenizer, save_tokenizer,
    )
    from nested_pandas_spark.pipeline.wordpiece import (
        wordpiece_encode, wordpiece_pieces, wordpiece_train,
    )

    wp_m, wp_v = wordpiece_train(docs.limit(200), n_merges=6)
    pieces = wordpiece_pieces(wp_m, wp_v)
    art = os.path.join(tempfile.gettempdir(), "walkthrough_wp.json")
    save_tokenizer(art, "wordpiece", pieces)
    _, payload = load_tokenizer(art)
    wp = wordpiece_encode(docs.limit(5), payload["pieces"])
    print("WordPiece tokens on 5 docs:",
          wp.agg(F.sum("tokens_n")).collect()[0][0])

    # -- 12f. TFRecord round trip: feed a TF/JAX trainer ---------------------
    from nested_pandas_spark.sources import read_tfrecord, write_tfrecord

    tfdir = tempfile.mkdtemp(prefix="walkthrough_tfrec_")
    write_tfrecord(docs.limit(50).select("doc_id", "text"), tfdir)
    back = read_tfrecord(spark, tfdir,
                         {"doc_id": "int64", "text": "string"})
    print("TFRecord round trip rows:", back.count())

    # -- 12g. data card in one pass ------------------------------------------
    from nested_pandas_spark.pipeline.corpus import corpus_report

    card = {r["metric"]: r["value"]
            for r in corpus_report(docs, lang_col="lang",
                                   source_col="source").collect()}
    print("corpus data card: docs=%d dup_rate=%s quality=%s" % (
        int(card["n_docs"]), card["dup_rate"], card["quality_mean"]))

    # -- 13. per-key custom logic without a pack round trip -----------------
    from nested_pandas_spark.operators.map_rows import map_groups

    spans = map_groups(
        ev.select("user_id", "value"), "user_id",
        lambda pdf: pdf.groupby("user_id", as_index=False).agg(
            n=("value", "size"), span=("value", lambda s: s.max() - s.min())
        ),
        "user_id long, n long, span double",
    )
    print("per-user activity spans:", spans.count())

    spark.stop()


if __name__ == "__main__":
    main()
