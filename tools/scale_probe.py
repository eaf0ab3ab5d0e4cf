"""8x-volume scaling probe for operators (the SCALE.md datapoint tool).

Builds an 8x union of the sf0.1 tables with SHIFTED keys (so key
cardinality grows with volume — the honest scaling shape, not 8 copies
of the same keys) and compares warm wall-clock at 1x vs 8x on the same
session.  Results are indicative on local[32]; the point is the RATIO.

Usage: python tools/scale_probe.py [sf_dir] [op ...]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import DataFrame, Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from async_stream_processing_spark import get_spark  # noqa: E402
from async_stream_processing_spark.sources.parquet import load_table  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
ONLY = set(sys.argv[2:])


def x8(df: DataFrame, id_cols: list[str], shift: int) -> DataFrame:
    out = None
    for i in range(8):
        part = df
        for c in id_cols:
            part = part.withColumn(c, F.col(c) + F.lit(i * shift))
        out = part if out is None else out.unionByName(part)
    return out


def warm_time(df: DataFrame) -> float:
    df.write.format("noop").mode("overwrite").save()  # warm
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def main() -> None:
    spark = get_spark("scale-probe", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    docs1 = load_table(spark, SF_DIR, "documents")
    docs8 = x8(docs1, ["doc_id"], 1_000_000)
    ev1 = load_table(spark, SF_DIR, "events")
    ev8 = x8(ev1, ["event_id", "user_id"], 1_000_000)
    li1 = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey")
    li8 = x8(li1, ["l_orderkey"], 100_000_000)

    from async_stream_processing_spark.llm.curation import (
        chunk_documents,
        gopher_repetition,
        mixture_sample,
        pack_sequences,
    )
    from async_stream_processing_spark.llm.text_analysis import (
        heavy_hitters,
        inverted_index,
    )
    from async_stream_processing_spark.operators.analytics import (
        association_rules,
        cooccurrence_pairs,
    )
    from async_stream_processing_spark.operators.graph import (
        bfs_levels,
        kcore_peel,
    )

    def handoff_edges(ev):
        w = Window.partitionBy("event_type").orderBy("ts", "event_id")
        return (
            ev.select(
                F.col("user_id").alias("src"),
                F.lead("user_id").over(w).alias("dst"),
            )
            .filter(F.col("dst").isNotNull())
            .filter(F.col("src") != F.col("dst"))
        )

    def seeds(ev):
        return (
            ev.select(F.col("user_id").alias("node"))
            .filter(F.col("node") % 50 == 0)
            .distinct()
        )

    def weighted_edges(ev):
        return handoff_edges(ev).groupBy("src", "dst").agg(
            F.count(F.lit(1)).alias("w")
        )

    from async_stream_processing_spark.operators.graph import pagerank

    ops = {
        "gopher_repetition": (
            lambda d: gopher_repetition(d), docs1, docs8),
        "heavy_hitters": (lambda d: heavy_hitters(d, k=30), docs1, docs8),
        "inverted_index": (
            lambda d: inverted_index(d, max_postings=1000), docs1, docs8),
        "doc_chunks": (
            lambda d: chunk_documents(d, budget=64, overlap=16), docs1, docs8),
        "pack_sequences": (
            lambda d: pack_sequences(d, budget=512), docs1, docs8),
        "mixture_sample": (lambda d: mixture_sample(d), docs1, docs8),
        "scd2_intervals": (_scd2, ev1, ev8),
        "copurchase_pairs": (
            lambda li: cooccurrence_pairs(li, "l_orderkey", "l_partkey", 2),
            li1, li8),
        "association_rules": (
            lambda li: association_rules(
                li, "l_orderkey", "l_partkey", 2, 1, 20),
            li1, li8),
        "substring_dups": (_sub_dups, docs1, docs8),
        "substring_dup_spans": (_sub_spans, docs1, docs8),
        "line_dedup": (_line_dedup, docs1, docs8),
        "twap_daily": (_twap, ev1, ev8),
        "interval_coalesce": (_coalesce, ev1, ev8),
        "ewma_users": (_ewma, ev1, ev8),
        "zscore_outliers": (_zscore, ev1, ev8),
    }

    # --- continuation-session additions: blocked record linkage and
    # seasonal decomposition.  Linkage 8x: every token gets a per-copy
    # prefix, so entity count AND block-key cardinality grow 8x with
    # constant block sizes (the honest ER growth shape -- more
    # registries, not hotter blocks); cross-copy pairs share no block
    # and are never candidates.  Seasonal 8x: 8x event volume over the
    # SAME 30 days -- the input-sized groupBy scan is the only stage
    # that grows. ---
    from async_stream_processing_spark.operators.analytics import (
        seasonal_decompose_daily,
    )
    from async_stream_processing_spark.operators.linkage import (
        fuzzy_self_pairs,
        token_blocks,
    )

    part1 = load_table(spark, SF_DIR, "part")
    ents1 = (
        part1.groupBy("p_name", "p_brand")
        .agg(F.count(F.lit(1)).alias("support"))
        .select(F.concat_ws(" ", "p_name", "p_brand").alias("name"),
                "support")
    )
    ents8 = None
    for i in range(8):
        tag = F.lit(f"c{i}:")
        copy = ents1.select(
            F.concat_ws(
                " ",
                F.transform(F.split(F.col("name"), " "),
                            lambda t: F.concat(tag, t)),
            ).alias("name"),
            "support",
        )
        ents8 = copy if ents8 is None else ents8.unionByName(copy)

    def _linkage(ents):
        return fuzzy_self_pairs(
            ents, key="name", text="name",
            blocks=token_blocks(first_n=2, last_n=1), max_dist=2,
        )

    ops["fuzzy_linkage"] = (_linkage, ents1, ents8)
    ops["seasonal_decompose"] = (
        lambda ev: seasonal_decompose_daily(ev), ev1, ev8)

    for name, (fn, one, eight) in ops.items():
        if ONLY and name not in ONLY:
            continue
        t1 = warm_time(fn(one))
        t8 = warm_time(fn(eight))
        print(
            f"{name:22s} 1x={t1:6.2f}s  8x={t8:6.2f}s  ratio={t8 / t1:5.2f}x",
            flush=True,
        )

    # --- round-10/11 additions (r10 verdict item 7): the reorder-
    # buffered stream fold (drained end-to-end over a jittered 3-file
    # replay -- fixed per-batch engine spin-up is the same at both
    # volumes, so the ratio isolates per-row fold + buffer cost), the
    # batched BPE trainer, and the sketch-boundary stratified sample. ---
    import shutil as _sh
    import tempfile as _tmp

    def _jitter_dir(ev) -> str:
        sel = ev.select(
            "ts", "event_id", "user_id",
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long").alias("x"),
        ).withColumn(
            "__j",
            F.col("ts").cast("long")
            + F.pmod(F.xxhash64("event_id"), F.lit(7200)) - F.lit(3600),
        )
        d = _tmp.mkdtemp(prefix="asp_reorder_probe_")
        sel.repartitionByRange(3, "__j").drop("__j")             .write.mode("overwrite").parquet(d)
        return d

    def _reorder_drain(d: str):
        from async_stream_processing_spark.streaming.reorder import (
            reordered_fold_stream,
        )
        from async_stream_processing_spark.streaming.replay import drain

        schema = spark.read.parquet(d).schema
        s = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", 1).parquet(d))
        return drain(
            reordered_fold_stream(s, "cusum", delay="7200 seconds"),
            output_mode="append",
        )

    if not ONLY or "reorder_cusum_stream" in ONLY:
        d1, d8 = _jitter_dir(ev1), _jitter_dir(ev8)
        _reorder_drain(d1).count()  # warm (state-store + codegen)
        t0 = time.time(); _reorder_drain(d1).count(); t1 = time.time() - t0
        t0 = time.time(); _reorder_drain(d8).count(); t8 = time.time() - t0
        print(f"{'reorder_cusum_stream':22s} 1x={t1:6.2f}s  8x={t8:6.2f}s"
              f"  ratio={t8 / t1:5.2f}x", flush=True)
        _sh.rmtree(d1, ignore_errors=True)
        _sh.rmtree(d8, ignore_errors=True)

    if not ONLY or "bpe_train_batched" in ONLY:
        from async_stream_processing_spark.llm.text_analysis import bpe_train

        bpe_train(docs1, n_merges=24).count()  # warm
        t0 = time.time(); bpe_train(docs1, n_merges=24).count()
        t1 = time.time() - t0
        t0 = time.time(); bpe_train(docs8, n_merges=24).count()
        t8 = time.time() - t0
        print(f"{'bpe_train_batched':22s} 1x={t1:6.2f}s  8x={t8:6.2f}s"
              f"  ratio={t8 / t1:5.2f}x", flush=True)

    if not ONLY or "approx_stratified" in ONLY:
        from async_stream_processing_spark.llm.sampling import (
            approx_quality_stratified_sample,
        )

        t1 = warm_time(approx_quality_stratified_sample(docs1))
        t8 = warm_time(approx_quality_stratified_sample(docs8))
        print(f"{'approx_stratified':22s} 1x={t1:6.2f}s  8x={t8:6.2f}s"
              f"  ratio={t8 / t1:5.2f}x", flush=True)

    if not ONLY or "mv_refresh_flat" in ONLY:
        # plans/mv.py's central claim probed directly: refresh cost is
        # O(changed rows), NOT O(table).  Build a 1x and an 8x lake
        # (range-partitioned on user_id so a fixed-width delete touches
        # the same file count at both volumes), apply the SAME
        # fixed-size MOR delete to each, and time maintain_view over
        # that one-version window.  The honest comparison is
        # refresh-at-8x-table vs refresh-at-1x-table with a CONSTANT
        # delta: flat ratio = the feed, not the table, is what is read.
        import shutil as _sh2
        import tempfile as _tmp2

        from async_stream_processing_spark.plans.mv import (
            maintain_view,
            sum_count_view,
        )
        from async_stream_processing_spark.plans.versioned import (
            commit_append,
            delete_where,
            read_version,
        )

        def _mv_lake(ev, tag):
            d = _tmp2.mkdtemp(prefix=f"asp_mvprobe_{tag}_")
            _sh2.rmtree(d, ignore_errors=True)
            base = ev.select(
                "user_id", "event_type",
                (F.col("value").cast("decimal(18,2)") * 100)
                .cast("long").alias("x_c"),
            ).repartitionByRange(16, "user_id")
            commit_append(base, d, stats_cols=["user_id"])
            view = sum_count_view(
                read_version(spark, d, 1),
                ["user_id", "event_type"], "x_c",
            ).localCheckpoint(eager=True)
            # fixed-width delta at BOTH volumes: same user range
            delete_where(spark, d, "user_id >= 10 AND user_id < 60",
                         mode="mor")
            return d, view

        def _refresh(d, view):
            return maintain_view(
                spark, d, view, ["user_id", "event_type"], "x_c", 1, 2
            )

        d1, v1 = _mv_lake(ev1, "1x")
        d8, v8 = _mv_lake(ev8, "8x")
        _refresh(d1, v1).count()  # warm the path
        t0 = time.time(); _refresh(d1, v1).count(); t1 = time.time() - t0
        t0 = time.time(); _refresh(d8, v8).count(); t8 = time.time() - t0
        print(f"{'mv_refresh_flat':22s} 1x={t1:6.2f}s  8x={t8:6.2f}s"
              f"  ratio={t8 / t1:5.2f}x", flush=True)
        _sh2.rmtree(d1, ignore_errors=True)
        _sh2.rmtree(d8, ignore_errors=True)

    # --- iterative ops with DRIVER-SIDE loops (eager rounds): time
    # END-TO-END and record round-count stability at 8x -- a convergence
    # loop whose round count grows with volume is a scale bug even when
    # per-round cost scales linearly. ---
    from async_stream_processing_spark.llm.dedup import (
        connected_components,
        minhash_dedup_pairs,
    )
    from async_stream_processing_spark.llm.similarity import (
        ivf_assign,
        kmeans_train,
    )

    emb1 = load_table(spark, SF_DIR, "embeddings")
    emb8 = x8(emb1, ["vec_id"], 1_000_000)

    # --- round-8 additions: single-window detector + 1-bit ANN rung ---
    from async_stream_processing_spark.llm.similarity import (
        binary_sign_codes,
        knn_hamming,
    )
    from async_stream_processing_spark.operators.analytics import (
        cusum_drift,
    )

    ops_r8 = {
        "cusum_drift": (lambda d: cusum_drift(d), ev1, ev8),
        "binary_sign_codes": (lambda e: binary_sign_codes(e), emb1, emb8),
        "knn_hamming": (lambda e: knn_hamming(e), emb1, emb8),
    }
    for name, (fn, one, eight) in ops_r8.items():
        if ONLY and name not in ONLY:
            continue
        t1 = warm_time(fn(one))
        t8 = warm_time(fn(eight))
        print(
            f"{name:22s} 1x={t1:6.2f}s  8x={t8:6.2f}s  ratio={t8 / t1:5.2f}x",
            flush=True,
        )

    def _cc_rounds(docs):
        pairs = minhash_dedup_pairs(docs, threshold=0.25).select(
            "doc_a", "doc_b"
        ).localCheckpoint(eager=True)
        labels, rounds = connected_components(pairs)
        labels.write.format("noop").mode("overwrite").save()
        return rounds

    def _kmeans_rounds(emb):
        cents = kmeans_train(emb, n_centroids=8, n_iter=4)
        ivf_assign(emb, centroids=cents).write.format("noop").mode(
            "overwrite"
        ).save()
        return 4  # fixed Lloyd rounds by construction

    def _bfs_rounds(ev):
        # fresh construction per run: bfs's internal localCheckpoints
        # would otherwise serve the timed run from the warm run's cache
        bfs_levels(handoff_edges(ev), seeds(ev), n_iter=4).write.format(
            "noop"
        ).mode("overwrite").save()
        return 4  # fixed hop cap by construction

    def _kcore_rounds(ev):
        kcore_peel(handoff_edges(ev), k=75, n_rounds=3).write.format(
            "noop"
        ).mode("overwrite").save()
        return 3  # fixed peel rounds by construction

    def _pagerank_rounds(ev):
        pagerank(weighted_edges(ev), n_iter=3).write.format("noop").mode(
            "overwrite"
        ).save()
        return 3  # fixed iteration count by construction

    from async_stream_processing_spark.operators.graph import (
        label_propagation,
    )

    def _lpa_rounds(ev):
        e = handoff_edges(ev)
        sym = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        label_propagation(sym, n_iter=3).write.format("noop").mode(
            "overwrite"
        ).save()
        return 3  # fixed round count by construction

    iter_ops = {
        "label_propagation": (_lpa_rounds, ev1, ev8),
        "pagerank_users": (_pagerank_rounds, ev1, ev8),
        "bfs_levels": (_bfs_rounds, ev1, ev8),
        "kcore_users": (_kcore_rounds, ev1, ev8),
        "dedup_clusters": (_cc_rounds, docs1, docs8),
        "ivf_kmeans_assign": (_kmeans_rounds, emb1, emb8),
    }
    # --- round-5 additions: time-series, IR, split, PQ ---
    from async_stream_processing_spark.llm.sampling import train_val_split
    from async_stream_processing_spark.llm.similarity import (
        knn_pq_adc,
        knn_refine,
        pq_codes,
    )
    from async_stream_processing_spark.llm.text_analysis import (
        bm25_topk,
        bpe_merge_pairs,
    )
    from async_stream_processing_spark.operators.windows import (
        ohlc_bars,
        rolling_corr,
    )

    r5_ops = {
        "ohlc_bars": (
            lambda ev: ohlc_bars(ev, "5 minutes", ["user_id"]), ev1, ev8),
        "rolling_corr": (
            lambda ev: rolling_corr(ev, ["user_id"], n_rows=20), ev1, ev8),
        "bm25_topk": (
            lambda d: bm25_topk(d, ["join", "hash", "vector"], k=10),
            docs1, docs8),
        "train_val_split": (lambda d: train_val_split(d), docs1, docs8),
        "bpe_merge_pairs": (lambda d: bpe_merge_pairs(d, k=20), docs1, docs8),
        "pq_codes": (lambda e: pq_codes(e), emb1, emb8),
        "knn_pq_adc": (lambda e: knn_pq_adc(e, n_queries=10, k=5), emb1, emb8),
        # round 6
        "minhash_sigs": (lambda d: _mh_sigs(d), docs1, docs8),
        "dedup_keep_best": (lambda d: _keep_best(d), docs1, docs8),
        "temperature_mixture": (lambda d: _temp_mix(d), docs1, docs8),
        "bpe_apply": (lambda d: _bpe_apply(d), docs1, docs8),
        "filter_audit": (lambda d: _filter_audit(d), docs1, docs8),
        "knn_refine": (lambda e: knn_refine(e, n_queries=10, k=5,
                                            shortlist=20), emb1, emb8),
        "max_drawdown": (lambda ev: _max_dd(ev), ev1, ev8),
        "bollinger_bands": (lambda ev: _bollinger(ev), ev1, ev8),
    }
    # round-7 continuation: SQ8, trigram LM, TV drift, tf-idf pairs,
    # intra-doc dedup.  NB tfidf_cosine_pairs is super-unit BY
    # CONSTRUCTION on the replicated fixture (8 identical copies of
    # every doc pair across copies: ~64x pair volume at 8x input), the
    # substring_dup_spans precedent.
    from async_stream_processing_spark.llm.dedup import (
        intradoc_dedup,
        tfidf_cosine_pairs,
    )
    from async_stream_processing_spark.llm.similarity import knn_sq8, sq8_codes
    from async_stream_processing_spark.llm.text_analysis import (
        source_tv_distance,
        trigram_backoff_score,
    )

    r5_ops.update({
        "sq8_codes": (lambda e: sq8_codes(e), emb1, emb8),
        "knn_sq8": (lambda e: knn_sq8(e, n_queries=10, k=5), emb1, emb8),
        "trigram_backoff": (
            lambda d: trigram_backoff_score(d), docs1, docs8),
        "source_tv_distance": (
            lambda d: source_tv_distance(d), docs1, docs8),
        "tfidf_cosine_pairs": (
            lambda d: tfidf_cosine_pairs(d, tau=0.6), docs1, docs8),
        "intradoc_dedup": (
            lambda d: intradoc_dedup(d, width=2), docs1, docs8),
    })
    # round-7 late additions.  NB lsh_s_curve's truth join is super-unit
    # by construction on the replicated fixture (every cross-copy pair
    # repeats: ~64x shared-shingle pair volume at 8x input), the
    # tfidf_cosine_pairs precedent.
    from async_stream_processing_spark.llm.curation import unimax_mixture
    from async_stream_processing_spark.llm.dedup import lsh_s_curve
    from async_stream_processing_spark.llm.similarity import (
        hard_negatives,
        kmeans_silhouette,
    )
    from async_stream_processing_spark.llm.text_analysis import (
        langid_confusion,
        pmi_pairs,
    )

    r5_ops.update({
        "lsh_s_curve": (lambda d: lsh_s_curve(d), docs1, docs8),
        "unimax_mixture": (
            lambda d: unimax_mixture(d, budget_tokens=200_000, epoch_cap=4),
            docs1, docs8),
        "hard_negatives": (
            lambda e: hard_negatives(e, n_queries=10, k=5), emb1, emb8),
        "kmeans_silhouette": (
            lambda e: kmeans_silhouette(e, n_centroids=8), emb1, emb8),
        "pmi_pairs": (
            lambda d: pmi_pairs(d, min_count=5, k=50), docs1, docs8),
        "langid_confusion": (
            lambda d: langid_confusion(d), docs1, docs8),
    })
    from async_stream_processing_spark.llm.text_analysis import (
        source_token_diversity,
    )

    r5_ops.update({
        "source_token_diversity": (
            lambda d: source_token_diversity(d), docs1, docs8),
    })
    # round-7 third continuation: regression, robust outliers, RSI,
    # range search.
    from async_stream_processing_spark.llm.similarity import range_search
    from async_stream_processing_spark.operators.analytics import (
        mad_outliers,
        ols_trend,
    )
    from async_stream_processing_spark.operators.windows import rsi_wilder

    r5_ops.update({
        "ols_trend": (lambda ev: ols_trend(ev), ev1, ev8),
        "mad_outliers": (lambda ev: mad_outliers(ev), ev1, ev8),
        "rsi_users": (lambda ev: rsi_wilder(ev), ev1, ev8),
        "knn_range_search": (
            lambda e: range_search(e, n_queries=10, tau=0.25), emb1, emb8),
    })
    # round-9 additions: the binary prefilter+rerank serving pipeline
    # and the skew-salted hot join (derived key: ~30% of rows on key 0;
    # dim = distinct keys, exploded x8 salts, shuffle-hash-hinted).
    from async_stream_processing_spark.llm.similarity import (
        knn_hamming_rerank,
    )
    from async_stream_processing_spark.plans.scale import salted_join

    def _salted_hot(ev):
        keyed = ev.select(
            F.when(F.col("event_id") % 10 < 3, F.lit(0))
            .otherwise(F.col("user_id") % 100).alias("k"),
            "value",
        )
        dim = keyed.select("k").distinct().withColumn(
            "label", F.concat(F.lit("seg_"), F.col("k"))
        )
        return salted_join(
            keyed, dim.hint("shuffle_hash"), on="k", salt=8
        ).groupBy("k", "label").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double").alias("sum_value"),
        )

    r5_ops.update({
        "knn_hamming_rerank": (
            lambda e: knn_hamming_rerank(e, n_queries=10, k=5, r=20),
            emb1, emb8),
        "salted_hot_join": (_salted_hot, ev1, ev8),
    })
    for name, (fn, one, eight) in r5_ops.items():
        if ONLY and name not in ONLY:
            continue
        t1 = warm_time(fn(one))
        t8 = warm_time(fn(eight))
        print(
            f"{name:22s} 1x={t1:6.2f}s  8x={t8:6.2f}s  ratio={t8 / t1:5.2f}x",
            flush=True,
        )

    for name, (fn, one, eight) in iter_ops.items():
        if ONLY and name not in ONLY:
            continue
        fn(one)  # warm
        t0 = time.time()
        r1 = fn(one)
        t1 = time.time() - t0
        fn(eight)
        t0 = time.time()
        r8 = fn(eight)
        t8 = time.time() - t0
        print(
            f"{name:22s} 1x={t1:6.2f}s  8x={t8:6.2f}s  "
            f"ratio={t8 / t1:5.2f}x  rounds 1x={r1} 8x={r8}",
            flush=True,
        )


def _sub_dups(docs):
    from async_stream_processing_spark.llm.dedup import substring_dups

    return substring_dups(docs, n=20, w=8)


def _twap(ev):
    from pyspark.sql import functions as F

    ev2 = ev.withColumn("day", F.to_date("ts"))
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    dur = F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")
    iv = ev2.withColumn("dur_us", dur).filter(F.col("dur_us").isNotNull())
    num = F.sum(F.col("value").cast("decimal(18,2)")
                * F.col("dur_us").cast("decimal(18,0)"))
    den = F.sum(F.col("dur_us").cast("decimal(18,0)"))
    return iv.groupBy("user_id", "day").agg(
        (num.cast("double") / den.cast("double")).alias("twap"))


def _coalesce(ev):
    from pyspark.sql import functions as F

    iv = ev.select("user_id", F.col("ts").alias("s"),
                   (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("e"))
    w = Window.partitionBy("user_id").orderBy("s", "e")
    pm = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    f = iv.withColumn("ni", F.when(pm.isNull() | (F.col("s") > pm), 1).otherwise(0))
    i = f.withColumn("isl", F.sum("ni").over(w))
    return i.groupBy("user_id", "isl").agg(F.min("s"), F.max("e"), F.count(F.lit(1)))


def _ewma(ev):
    from pyspark.sql import functions as F

    x = (F.col("value").cast("decimal(18,2)") * 100).cast("long") * F.lit(1_000_000)
    arr = F.array_sort(F.collect_list(F.struct("ts", "event_id", x.alias("x"))))
    xs = F.transform(arr, lambda a: a["x"])
    agg = ev.groupBy("user_id").agg(xs.alias("xs"))
    fold = F.aggregate(
        F.slice(F.col("xs"), 2, F.greatest(F.size("xs") - 1, F.lit(0))),
        F.element_at(F.col("xs"), 1),
        lambda acc, v: (((acc * 7 + v * 3) - (acc * 7 + v * 3) % 10) / 10).cast("long"),
    )
    return agg.select("user_id", fold.alias("ewma_scaled"))


def _zscore(ev):
    from pyspark.sql import functions as F

    x = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    base = ev.select("event_id", "event_type", "value", x.alias("x"))
    stats = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"))
    j = base.join(F.broadcast(stats), "event_type")
    num = F.col("x") * F.col("n") - F.col("sx")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return j.select("event_id",
                    (num.cast("double") / F.sqrt(den.cast("double"))).alias("z"))


def _scd2(ev: DataFrame) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_type = F.lag("event_type").over(w)
    chg = F.when(
        prev_type.isNull() | (prev_type != F.col("event_type")), F.lit(1)
    ).otherwise(F.lit(0))
    runs = ev.select("user_id", "ts", "event_id", "event_type").withColumn(
        "version", F.sum(chg).over(w).cast("long")
    )
    grouped = runs.groupBy("user_id", "version", "event_type").agg(
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("version")
    return grouped.select(
        "user_id", "version", "event_type", "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"), "n_events",
    )


def _mh_sigs(docs):
    from async_stream_processing_spark.llm.dedup import minhash_signatures

    return minhash_signatures(docs)


def _keep_best(docs):
    from async_stream_processing_spark.llm.dedup import dedup_keep_best

    return dedup_keep_best(docs, threshold=0.25)


def _temp_mix(docs):
    from async_stream_processing_spark.llm.curation import temperature_mixture

    return temperature_mixture(docs)


def _bpe_apply(docs):
    from async_stream_processing_spark.llm.text_analysis import bpe_apply

    return bpe_apply(docs, n_merges=3)


def _filter_audit(docs):
    from async_stream_processing_spark.llm.curation import filter_audit

    return filter_audit(docs)


def _sub_spans(docs):
    from async_stream_processing_spark.llm.dedup import substring_dup_spans

    return substring_dup_spans(docs, n=20, w=8, max_occurrences=50)


def _line_dedup(docs):
    from async_stream_processing_spark.llm.dedup import line_dedup

    return line_dedup(docs, width=10)


def _max_dd(ev):
    from async_stream_processing_spark.operators.windows import max_drawdown

    return max_drawdown(ev, ["user_id"])


def _bollinger(ev):
    from async_stream_processing_spark.operators.windows import bollinger_bands

    return bollinger_bands(ev, ["user_id"], n_rows=20)


if __name__ == "__main__":
    main()
