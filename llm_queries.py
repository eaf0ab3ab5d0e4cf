"""LLM-data-pipeline query declarations + DuckDB oracles.

Split out of ``__spark_entry__`` for readability; imported there.  Each
query exercises one operator from ``async_stream_processing_spark.llm`` on
the driver's ``documents`` / ``embeddings`` tables, with a bit-exact ANSI
SQL twin (see functions/hashing.py + llm/similarity.py for the portability
contracts: md5-based 60-bit hashing, sequential-left-fold float math).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from async_stream_processing_spark.functions.hashing import (
    MINHASH_P,
    minhash_coeffs,
    sql_minhash_term,
    sql_stable_hash60,
)
from async_stream_processing_spark.functions.text import (
    BPE_TOKEN_RE,
    LANG_STOPWORDS,
    sql_shingles,
)
from async_stream_processing_spark.llm.dedup import (
    LSH_BANDS,
    N_MINHASH,
    exact_dedup,
    simhash,
)
from async_stream_processing_spark.llm.multimodal import (
    decode_audio_header,
    decode_image_header,
    decode_image_meta,
    decode_pixels,
    decode_video_header,
    frame_sample_stub,
    synth_image_payload,
    synth_mp4_payload,
    synth_pixel_payload,
    synth_wav_payload,
    with_binary_payload,
)
from async_stream_processing_spark.llm.similarity import (
    knn_bruteforce,
    knn_lsh,
    lsh_buckets,
    recall_at_k,
    sql_cosine,
    sql_knn_bruteforce,
    sql_knn_lsh,
    sql_lsh_bucket,
    sql_norm,
    sql_range_search,
    sql_recall_at_k,
)
from async_stream_processing_spark.llm.text_analysis import (
    fingerprints,
    lang_id,
    quality_score,
    text_stats,
    token_counts,
)
from async_stream_processing_spark.sources.parquet import load_table
from async_stream_processing_spark.streaming.replay import (
    await_drain,
    land_batches,
    replay_stream,
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# -- queries ---------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on normalized text (SURVEY §7.2-7)."""
    return exact_dedup(_docs(spark, sf_dir))


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash(16)+LSH(8x2) near-dup pairs verified at Jaccard >= 0.25.
    Reads the session-shared verified-pair artifact (computed once,
    reused by clusters/keep_best/source_matrix)."""
    from async_stream_processing_spark.llm.dedup import (
        verified_pairs_cached,
    )

    return verified_pairs_cached(_docs(spark, sf_dir), threshold=0.25)


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact 3-gram Jaccard pairs >= 0.25 via shingle equi-join (the
    blocking IS the shared-shingle join -- no all-pairs; intersection
    counted in the same join that discovers the pair)."""
    from async_stream_processing_spark.llm.dedup import (
        doc_shingle_hashes,
        jaccard_pairs_direct,
    )

    return jaccard_pairs_direct(doc_shingle_hashes(_docs(spark, sf_dir)), 0.25)


def q_weighted_sample(spark, sf_dir):
    """Sequential Poisson (weighted) sampling: k=50 docs with inclusion
    ~proportional to token count, fully deterministic (hash-derived
    uniforms, single IEEE division for the priority -- no pow/log, so
    the oracle reproduces the exact sample)."""
    from async_stream_processing_spark.llm.sampling import weighted_sample

    return weighted_sample(_docs(spark, sf_dir), k=50)


def q_containment_pairs(spark, sf_dir):
    """Exact 3-gram CONTAINMENT pairs >= 0.4: the doc-inside-doc
    detector (quoted posts, boilerplate-wrapped articles) that Jaccard
    structurally misses -- a contained small doc has containment 1.0 but
    Jaccard ~|A|/|B|.  Same one-pass shared-shingle blocking as the
    Jaccard query."""
    from async_stream_processing_spark.llm.dedup import (
        containment_pairs,
        doc_shingle_hashes,
    )

    return containment_pairs(doc_shingle_hashes(_docs(spark, sf_dir)), 0.4)


def q_simhash_fingerprint(spark, sf_dir):
    """Per-doc 32-bit SimHash fingerprint (Charikar 2002)."""
    return simhash(_docs(spark, sf_dir), bits=32)


def q_knn_bruteforce(spark, sf_dir):
    """Exact cosine top-5 for the first 10 query vectors."""
    return knn_bruteforce(_emb(spark, sf_dir), n_queries=10, k=5)


def q_knn_range_search(spark, sf_dir):
    """FAISS-style range search: ALL neighbors with cosine >= 0.25 for
    the first 10 queries (radius semantics top-k can't express);
    queries broadcast, threshold filters in the narrow corpus pass --
    the whole operator is exchange-free."""
    from async_stream_processing_spark.llm.similarity import range_search

    return range_search(_emb(spark, sf_dir), n_queries=10, tau=0.25)


def q_ann_lsh_buckets(spark, sf_dir):
    """Random-hyperplane LSH bucket per vector (6 planes -> 64 buckets)."""
    return lsh_buckets(_emb(spark, sf_dir), n_planes=6)


def q_knn_lsh(spark, sf_dir):
    """ANN top-3 restricted to LSH bucket-mates."""
    return knn_lsh(_emb(spark, sf_dir), n_queries=10, k=3, n_planes=6)


def q_knn_lsh_multiprobe(spark, sf_dir):
    """Multi-probe LSH ANN (own bucket + all Hamming-1 buckets)."""
    from async_stream_processing_spark.llm.similarity import knn_lsh_multiprobe

    return knn_lsh_multiprobe(_emb(spark, sf_dir), n_queries=10, k=3, n_planes=6)


def q_ivf_assign(spark, sf_dir):
    """IVF-flat cell assignment (deterministic centroids, broadcast join)."""
    from async_stream_processing_spark.llm.similarity import ivf_assign

    return ivf_assign(_emb(spark, sf_dir), n_centroids=8)


def q_stream_ivf_assign(spark, sf_dir):
    """ivf_assign EXECUTED BY THE STREAMING ENGINE: cell assignment on
    ingest against FROZEN serving centroids (collected batch-side as
    O(k*d) model state, riding as one broadcast data row), append mode,
    zero state -- the routing half of a streaming ANN ingest path
    (stream_ivfpq_upsert is the storage half).  Same oracle as the
    batch ivf_assign."""
    from async_stream_processing_spark.llm.similarity import (
        _seed_centroids,
        ivf_assign,
    )
    from async_stream_processing_spark.sources.parquet import (
        load_table,
        stream_table,
    )
    from async_stream_processing_spark.streaming.replay import drain

    cents = _seed_centroids(load_table(spark, sf_dir, "embeddings"), 8)
    s = stream_table(spark, sf_dir, "embeddings")
    return drain(ivf_assign(s, 8, centroids=cents), output_mode="append")


def q_knn_ivf(spark, sf_dir):
    """IVF ANN top-3 with nprobe=2 cell probing."""
    from async_stream_processing_spark.llm.similarity import knn_ivf

    return knn_ivf(_emb(spark, sf_dir), n_queries=10, k=3, n_centroids=8, nprobe=2)


def q_embedding_dedup(spark, sf_dir):
    """Embedding near-dup: bucket-mate pairs with cosine >= 0.35.
    Norms hoisted to one column per side (the semdedup lesson: each
    pair costs a dot + one multiply/divide, value bit-identical); the
    bucket relation is repartitioned on the join key so both self-join
    sides share one exchange."""
    from async_stream_processing_spark.llm.similarity import dot, norm

    b = lsh_buckets(_emb(spark, sf_dir), n_planes=6)
    withb = (
        _emb(spark, sf_dir)
        .join(b.select("vec_id", "bucket"), "vec_id")
        .withColumn("__n", norm(F.col("embedding")))
        .repartition("bucket")
    )
    a = withb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"),
        F.col("__n").alias("na"), "bucket",
    )
    c = withb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"),
        F.col("__n").alias("nb"), "bucket",
    )
    return (
        a.join(c, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cos", dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cos") >= 0.35)
        .select("vec_a", "vec_b", F.col("cos").alias("cosine"))
    )


def q_top_terms_per_source(spark, sf_dir):
    """Term statistics per source (log-free TF-IDF shape)."""
    from async_stream_processing_spark.llm.sampling import top_terms_per_source

    return top_terms_per_source(_docs(spark, sf_dir), k=10)


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition/boilerplate signals per doc."""
    from async_stream_processing_spark.llm.sampling import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def q_stratified_sample(spark, sf_dir):
    """Deterministic hash-gated mixture sampling per source."""
    from async_stream_processing_spark.llm.sampling import stratified_sample

    return stratified_sample(_docs(spark, sf_dir))


def q_text_stats(spark, sf_dir):
    return text_stats(_docs(spark, sf_dir))


def q_quality_score(spark, sf_dir):
    return quality_score(_docs(spark, sf_dir))


def q_lang_id(spark, sf_dir):
    return lang_id(_docs(spark, sf_dir))


def q_token_counts(spark, sf_dir):
    return token_counts(_docs(spark, sf_dir))


def q_doc_fingerprints(spark, sf_dir):
    return fingerprints(_docs(spark, sf_dir))


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: corpus docs sharing any 8-gram with the
    eval set (docs 0-19 stand in for the benchmark)."""
    from async_stream_processing_spark.llm.decontaminate import decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return decontaminate(docs, bench, n=8)


def q_stream_decontaminate(spark, sf_dir):
    """Decontamination ON INGEST: the benchmark's Bloom prefilter is
    driver-held model state built once (128 KiB); arriving corpus
    documents are pruned by the broadcast sketch and exact-verified per
    micro-batch THROUGH THE STREAMING ENGINE -- the gate a training-data
    intake runs before anything lands in the lake.  Identical output to
    the batch query (blooms have no false negatives; the verification
    join removes false positives), so the same oracle applies."""
    from async_stream_processing_spark.llm.decontaminate import (
        bloom_decontaminate,
    )
    from async_stream_processing_spark.sources.parquet import stream_table
    from async_stream_processing_spark.streaming.replay import drain

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    s = stream_table(spark, sf_dir, "documents")
    return drain(
        bloom_decontaminate(s, bench, n=8), output_mode="complete"
    )


def q_redact_pii(spark, sf_dir):
    """PII-style scrubbing over text with synthetic contact strings
    (the corpus itself is clean word-salad, so the query plants
    deterministic emails/numbers first, then redacts them)."""
    from async_stream_processing_spark.llm.decontaminate import redact

    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.concat(
            F.col("text"), F.lit(" contact user"), F.col("doc_id"),
            F.lit("@mail.com ref "), (F.col("doc_id") * 7).cast("string"),
        ),
    )
    return redact(docs)


def q_pipeline_end_to_end(spark, sf_dir):
    """END-TO-END curation pipeline: quality gate -> exact dedup ->
    MinHash-LSH near-dedup -> deterministic sampling -> per-source stats,
    as ONE composed plan, oracle-checked as a whole."""
    from async_stream_processing_spark.llm.pipeline import training_pipeline

    return training_pipeline(_docs(spark, sf_dir))


def q_multimodal_meta(spark, sf_dir):
    """Binary-column plumbing: mapInPandas pseudo-decode over payload bytes."""
    return decode_image_meta(with_binary_payload(_docs(spark, sf_dir)))


def q_frame_sample(spark, sf_dir):
    """Video-style one-to-many frame index expansion."""
    return frame_sample_stub(with_binary_payload(_docs(spark, sf_dir)))


def q_multimodal_pixels(spark, sf_dir):
    """REAL pixel decode (r9 verdict item 5): synthesize uncompressed
    payloads per doc (even ids binary PPM, odd ids 24-bit BMP with
    bottom-up BGR padded rows), numpy-decode them back to pixel grids,
    and emit exact per-channel integer stats.  The oracle recomputes
    the same stats from the synthesis closed form over a generated
    (x, y) grid -- two independent routes; the BMP path's layout
    gymnastics must land on identical numbers."""
    return decode_pixels(synth_pixel_payload(_docs(spark, sf_dir)))


def q_multimodal_decode(spark, sf_dir):
    """REAL image-header decode: synthesize valid PNG/JPEG payloads from
    doc_id (JVM-side binary concat), then parse format/width/height back
    out of the raw bytes with the struct-based header walk.  The oracle
    recomputes the dimensions from the synthesis closed form -- two
    independent routes to the same answer."""
    return decode_image_header(synth_image_payload(_docs(spark, sf_dir)))


def q_multimodal_audio(spark, sf_dir):
    """REAL audio-header decode: synthesize valid RIFF/WAVE headers from
    doc_id (JVM-side little-endian packing), chunk-walk them back out
    (fmt /LIST/data), oracle recomputes the closed form."""
    return decode_audio_header(synth_wav_payload(_docs(spark, sf_dir)))


def q_multimodal_video(spark, sf_dir):
    """REAL video-header decode: synthesize valid ISO-BMFF (MP4) headers
    from doc_id (ftyp + free + moov{mvhd}), box-walk them back out; the
    free box must be skipped and mvhd found nested inside moov."""
    return decode_video_header(synth_mp4_payload(_docs(spark, sf_dir)))


def q_stream_multimodal_decode(spark, sf_dir):
    """Header decode EXECUTED BY THE STREAMING ENGINE: the same
    synth -> parse pipeline over a documents STREAM (stateless
    mapInPandas -- each micro-batch decodes independently, no state, so
    append mode emits exactly the batch result).  The shape of a live
    ingest branch that extracts media metadata on arrival; same oracle
    as the batch multimodal_decode."""
    from async_stream_processing_spark.sources.parquet import stream_table
    from async_stream_processing_spark.streaming.replay import drain

    s = stream_table(spark, sf_dir, "documents").select("doc_id")
    return drain(
        decode_image_header(synth_image_payload(s)), output_mode="append"
    )


def q_ivf_kmeans_assign(spark, sf_dir):
    """IVF assignment under TRAINED spherical k-means centroids (4 Lloyd
    iterations, all DataFrame ops).  The fixed iteration count + the
    repo's determinism contract (first-k init, exact decimal sums,
    float32 casts) make the fixpoint UNROLLABLE: ``_ivf_kmeans_sql``
    reproduces training bit-for-bit as a CTE chain, so this is a full
    hash-checked row, not a rows-only allowance.  The recall improvement
    over the untrained stand-in is separately pinned by
    tests/test_llm_ops.py::test_kmeans_improves_ivf_recall."""
    from async_stream_processing_spark.llm.similarity import (
        ivf_assign,
        kmeans_train,
    )

    emb = _emb(spark, sf_dir)
    return ivf_assign(emb, centroids=kmeans_train(emb, n_centroids=8, n_iter=4))


def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: connected components of the verified pair graph
    via iterative min-label propagation; checked against a transitive-
    closure recursive-CTE oracle (pairs alone under-specify dedup -- A~B
    and B~C must collapse to one survivor even without an A~C pair)."""
    from async_stream_processing_spark.llm.dedup import dedup_clusters

    return dedup_clusters(_docs(spark, sf_dir), threshold=0.25)


def q_token_rarity(spark, sf_dir):
    """Unigram-LM rarity signal in rational space: per-doc mean/min corpus
    token frequency (the perplexity shape with the non-portable logs
    stripped -- integer counts + one IEEE division)."""
    from async_stream_processing_spark.llm.text_analysis import token_rarity

    return token_rarity(_docs(spark, sf_dir))


def q_tfidf_top_terms(spark, sf_dir):
    """Top-5 characteristic terms per doc by rational-space TF-IDF
    (tf * N / df -- integer counts, one IEEE division, deterministic
    tok-ascending tiebreak)."""
    from async_stream_processing_spark.llm.text_analysis import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=5)


def q_bloom_decontaminate(spark, sf_dir):
    """Bloom-prefiltered decontamination: identical output to
    ``decontaminate`` (same oracle -- blooms have no false negatives; the
    exact verification join removes the false positives), but the corpus
    side is pruned by a 128 KiB broadcast sketch BEFORE any join -- the
    runtime-filter pattern for filter sets too big to hash-join cheaply."""
    from async_stream_processing_spark.llm.decontaminate import (
        bloom_decontaminate,
    )

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return bloom_decontaminate(docs, bench, n=8)


def q_embedding_covariance(spark, sf_dir):
    """Exact centered covariance of the embedding matrix (upper triangle,
    integer-quantized): the PCA/whitening precursor as ONE scan + one
    d^2-group shuffle, bit-portable via floor-quantization + decimal sums
    (n*S_ij - S_i*S_j centering identity -- no float means).  The >2^53
    aggregates are emitted as STRINGS: DuckDB hands wide decimals to
    pandas as float64 (silently lossy above 2^53), while decimal->string
    is plain digits in both engines at any magnitude."""
    from async_stream_processing_spark.llm.linalg import gram_exact

    g = gram_exact(_emb(spark, sf_dir))
    return g.select(
        "i", "j", "n",
        *[F.col(c).cast("string").alias(c)
          for c in ("s_i", "s_j", "s_ij", "cov_scaled")],
    )


def q_pca_project(spark, sf_dir):
    """PCA projection onto top-8 components (mapInPandas partial Gram ->
    driver eigh -> broadcast components -> narrow fold).  Checked by
    CONTRACT, like the sketch queries: numpy's eigenbasis is not
    cross-engine portable, but Bessel's inequality is -- for every vector
    the projection's squared norm must not exceed the centered vector's
    (orthonormal components guarantee it; a wrong normalization or
    centering breaks it).  The exact Gram feeding the eigensolve is
    separately hash-checked by embedding_covariance, and numeric
    invariants are pinned in tests/test_llm_ops.py."""
    from async_stream_processing_spark.llm.linalg import pca_project

    from async_stream_processing_spark.llm.linalg import pca_components
    from async_stream_processing_spark.llm.similarity import norm

    emb = _emb(spark, sf_dir)
    model = pca_components(emb, k=8)
    proj = pca_project(emb, k=8, model=model)
    # Bessel bound against the raw norm: ||P(x-mu)||^2 <= ||x-mu||^2
    # <= 2||x||^2 + 2||mu||^2.  ||mu||^2 is O(d) model state (already
    # computed for the projection itself).
    mu2 = float((model[2] ** 2).sum())
    sq = F.aggregate(
        F.transform(F.col("pca"), lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    raw = emb.select("vec_id", norm(F.col("embedding")).alias("raw_norm"))
    return proj.join(raw, "vec_id").select(
        "vec_id",
        F.size("pca").alias("n_components"),
        (sq <= 2.0 * F.col("raw_norm") * F.col("raw_norm") + 2.0 * mu2 + 1e-6)
        .alias("bessel_ok"),
    )


def q_embedding_dedup_clusters(spark, sf_dir):
    """Semantic dedup CLUSTERS: connected components over the embedding
    near-dup pair graph (cosine >= 0.35 bucket-mates) -- the same
    pointer-jumping CC the text path uses, composed with the similarity
    operator; oracle = transitive-closure recursive CTE."""
    from async_stream_processing_spark.llm.dedup import connected_components

    # checkpoint the verified pairs: every CC round joins the edge
    # relation, which would otherwise re-run the LSH bucket self-join +
    # cosine verification per round (measured 15 s -> ~4 s at sf0.1)
    pairs = q_embedding_dedup(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    ).localCheckpoint(eager=True)
    labels, _ = connected_components(pairs)
    return labels.select(F.col("doc_id").alias("vec_id"), "cluster_id")


def q_quality_stratified_sample(spark, sf_dir):
    """Quality-spectrum sampling: rarity deciles (NTILE over the exact
    unigram signal) x deterministic hash-gated keep per stratum."""
    from async_stream_processing_spark.llm.sampling import (
        quality_stratified_sample,
    )

    return quality_stratified_sample(_docs(spark, sf_dir))


def q_approx_quality_stratified(spark, sf_dir):
    """100 TB path for quality_stratified_sample (r10 verdict item 3),
    checked BY CONTRACT (the approx_equidepth pattern — raw sketch
    boundaries aren't cross-engine portable, the estimator's properties
    are).  Per stratum: ``n_kept`` (the deterministic hash-gated keep
    really returned keep_per rows), ``depth_ok`` (|size - n/10| <= n/50
    cross-multiplied integers — the sketch's rank error is n/accuracy =
    n/10000, so 2% depth slack is 200x the bound), ``monotone_ok``
    (stratum value ranges ordered and disjoint: this stratum's min >=
    the previous stratum's max, true by construction of interval
    assignment).  The oracle emits the same 10 constant rows.  The
    plan has NO single-partition exchange — the sketch aggregates
    map-side, the keep window shuffles on the stratum key, and the
    monotone check is a broadcast self-join of the 10-row stratum
    aggregate (unlike the exact twin's corpus-sized global NTILE
    sort, which stays as the oracle-scale form)."""
    from async_stream_processing_spark.llm.sampling import (
        _approx_strata,
        approx_quality_stratified_sample,
    )

    keep_per = 5
    # the keep path goes through the PUBLIC operator (round-11 review
    # fix: the gate previously re-implemented the within-stratum keep,
    # so a drift in the library's keep ordering would not have been
    # caught); sizes/monotone come from the assignment relation, which
    # _approx_strata pins internally (one rarity aggregation per call)
    kept = (
        approx_quality_stratified_sample(_docs(spark, sf_dir), 10,
                                         keep_per)
        .groupBy("stratum").agg(F.count(F.lit(1)).alias("n_kept"))
    )
    assigned = _approx_strata(_docs(spark, sf_dir), 10)
    sizes = assigned.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("sz"),
        F.min("mean_tok_freq").alias("mn"),
        F.max("mean_tok_freq").alias("mx"),
    )
    tot = sizes.agg(F.sum("sz").alias("n"))
    prev = sizes.select(
        (F.col("stratum") + 1).alias("stratum"),
        F.col("mx").alias("prev_mx"),
    )
    return (
        sizes.join(kept, "stratum")
        .join(F.broadcast(prev), "stratum", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "stratum",
            "n_kept",
            (F.abs(F.col("sz") * 10 - F.col("n")) * 5 <= F.col("n"))
            .alias("depth_ok"),
            (F.col("prev_mx").isNull()
             | (F.col("mn") >= F.col("prev_mx"))).alias("monotone_ok"),
        )
    )


def q_gopher_repetition(spark, sf_dir):
    """Gopher Appendix-A1.1 repetition filters: top-{2,3,4}-gram and
    duplicated-5-gram character coverage with integer-exact threshold
    flags (llm/curation.py).  All four n-gram sizes aggregate in ONE
    shuffle (n-tagged union)."""
    from async_stream_processing_spark.llm.curation import gopher_repetition

    return gopher_repetition(_docs(spark, sf_dir))


def q_gopher_quality(spark, sf_dir):
    """Gopher document-quality rules: word-count/mean-word-length bounds,
    stop-word hits, alphabetic-word ratio -- all decided in cross-
    multiplied integer space, zero shuffles (llm/curation.py)."""
    from async_stream_processing_spark.llm.curation import gopher_quality

    return gopher_quality(_docs(spark, sf_dir))


def q_pack_sequences(spark, sf_dir):
    """Training-sequence packing: assign docs to fixed 512-token chunks
    by cumulative offset within each source -- one window cumsum, one
    shuffle (llm/curation.py)."""
    from async_stream_processing_spark.llm.curation import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), budget=512)


def q_mixture_sample(spark, sf_dir):
    """Source-mixture balancing: hash-gated downsample of every source to
    the same target — MIX_TARGET_NUM/MIX_TARGET_DEN (=1/2) of the
    SMALLEST source's count — acceptance decided by cross-multiplied
    integers (no division), per-source count table broadcast
    (llm/curation.py)."""
    from async_stream_processing_spark.llm.curation import mixture_sample

    return mixture_sample(_docs(spark, sf_dir))


def q_heavy_hitters(spark, sf_dir):
    """Exact heavy hitters (tokens with freq > n/30) via per-partition
    candidate pruning + exact recount -- result independent of
    partitioning, oracle = plain GROUP BY ... HAVING
    (llm/text_analysis.heavy_hitters)."""
    from async_stream_processing_spark.llm.text_analysis import heavy_hitters

    return heavy_hitters(_docs(spark, sf_dir), k=30)


def q_inverted_index(spark, sf_dir):
    """Inverted-index build: token -> df + ascending posting list
    (capped, comma-joined string), one token-keyed shuffle
    (llm/text_analysis.inverted_index)."""
    from async_stream_processing_spark.llm.text_analysis import inverted_index

    return inverted_index(_docs(spark, sf_dir), max_postings=1000)


def q_doc_chunks(spark, sf_dir):
    """Sliding-window intra-doc chunking (64-token spans, 16 overlap):
    pure generate-side sequence+explode, zero shuffles
    (llm/curation.chunk_documents)."""
    from async_stream_processing_spark.llm.curation import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), budget=64, overlap=16)


def q_stream_gopher_quality(spark, sf_dir):
    """Gopher quality gates EXECUTED BY THE STREAMING ENGINE: the same
    zero-shuffle column expressions over a documents STREAM (stateless,
    so append mode emits exactly the batch result) -- the shape of an
    ingest branch that quality-gates documents on arrival.  Same oracle
    as the batch gopher_quality."""
    from async_stream_processing_spark.llm.curation import gopher_quality
    from async_stream_processing_spark.sources.parquet import stream_table
    from async_stream_processing_spark.streaming.replay import drain

    s = stream_table(spark, sf_dir, "documents")
    return drain(gopher_quality(s), output_mode="append")


def q_substring_dups(spark, sf_dir):
    """Character-level exact-substring duplication via winnowed
    fingerprints (Schleimer et al. 2003): content-defined gram
    selection, alignment-independent, any shared span >= n+w-1 chars
    detected with certainty (llm/dedup.substring_dups)."""
    from async_stream_processing_spark.llm.dedup import substring_dups

    return substring_dups(_docs(spark, sf_dir), n=20, w=8)


def q_substring_dup_spans(spark, sf_dir):
    """EXACT duplicated character spans (Lee et al. 2022 ExactSubstr
    shape, winnowing-bounded): winnow-selected gram matches merged into
    maximal verified spans per document pair at the matching diagonal;
    every reported span is a certified literal equality
    (llm/dedup.substring_dup_spans).  Gram occurrence cap 50 is the
    boilerplate skew guard, applied identically in both engines."""
    from async_stream_processing_spark.llm.dedup import substring_dup_spans

    return substring_dup_spans(
        _docs(spark, sf_dir), n=20, w=8, max_occurrences=50
    )


def q_substring_dedup_apply(spark, sf_dir):
    """The ExactSubstr TRANSFORM: every verified duplicated span cut
    from its later copy (first occurrence by doc_id wins), documents
    reassembled from the complement segments
    (llm/dedup.substring_dedup_apply)."""
    from async_stream_processing_spark.llm.dedup import (
        substring_dedup_apply,
    )

    return substring_dedup_apply(
        _docs(spark, sf_dir), n=20, w=8, max_occurrences=50
    )


def q_incremental_dedup(spark, sf_dir):
    """Incremental (batch-vs-stored-corpus) near-dedup SEMANTICS, gated:
    an ingest batch (doc_id % 5 == 0) checked against the stored corpus
    (the rest) finds exactly the cross-split verified near-dup pairs the
    monolithic run finds.  The storage side of this path (corpus band
    buckets persisted bucketed-by-signature, batch joins with ZERO
    corpus shuffle) is pinned by
    tests/test_scale.py::test_incremental_dedup_bucketed; this query
    gates the semantics cross-engine."""
    from async_stream_processing_spark.llm.dedup import (
        verified_pairs_cached,
    )

    docs = _docs(spark, sf_dir)
    pairs = verified_pairs_cached(docs, threshold=0.25)
    a_new = F.col("doc_a") % 5 == 0
    b_new = F.col("doc_b") % 5 == 0
    cross = pairs.filter(a_new != b_new)
    return cross.select(
        F.when(a_new, F.col("doc_a")).otherwise(F.col("doc_b")).alias("doc_new"),
        F.when(a_new, F.col("doc_b")).otherwise(F.col("doc_a")).alias("doc_corpus"),
        "jaccard",
    )



def q_stream_incremental_dedup(spark, sf_dir):
    """incremental_dedup EXECUTED BY THE STREAMING ENGINE: the stored
    corpus (doc_id % 5 != 0) is persisted ONCE as
    ``corpus_bucket_sets`` bucketed by band signature; arriving
    documents (doc_id % 5 == 0) probe it per micro-batch -- candidates
    AND exact-Jaccard verification from the one stored table, zero
    corpus-side exchange (the reference's past->live posture,
    processor.py:185-194, composed with the north-star dedup).  Same
    oracle as the batch query."""
    import uuid

    from async_stream_processing_spark.llm.dedup import (
        corpus_bucket_sets,
        stream_incremental_dedup,
    )
    from async_stream_processing_spark.plans.scale import write_bucketed
    from async_stream_processing_spark.sources.parquet import stream_table
    from async_stream_processing_spark.streaming.replay import drain

    docs = _docs(spark, sf_dir)
    table = "asp_corpus_sets_" + uuid.uuid4().hex[:8]
    with tempfile.TemporaryDirectory(prefix="asp_incr_store_",
                                     ignore_cleanup_errors=True) as tmp:
        write_bucketed(
            corpus_bucket_sets(docs.filter(F.col("doc_id") % 5 != 0)),
            table=table, bucket_by="sig", n_buckets=8, sort_by="sig",
            path=os.path.join(tmp, "store"),
        )
        try:
            stored = spark.table(table)
            s = stream_table(spark, sf_dir, "documents").filter(
                F.col("doc_id") % 5 == 0
            )
            out = drain(
                stream_incremental_dedup(s, stored, threshold=0.25),
                output_mode="append",
            ).localCheckpoint(eager=True)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
    return out


def q_perceptron_train(spark, sf_dir):
    """Quality-classifier TRAINING as a distributed bounded-round loop
    (llm/classifier.py): integer batch perceptron over DSIR hashed
    n-gram features, labels bootstrapped from the Gopher rule gate --
    the CCNet/LLaMA-style curation-classifier shape with an unrolled
    CTE-chain oracle (the pagerank discipline).  Output: the trained
    weight vector as (bucket, weight) rows."""
    from async_stream_processing_spark.llm.classifier import perceptron_train

    return perceptron_train(_docs(spark, sf_dir), n_buckets=64, n_rounds=3)


def q_perceptron_score(spark, sf_dir):
    """Whole-corpus scoring with the trained quality classifier: one
    broadcast dot product per document (margin, prediction, agreement
    with the rule teacher)."""
    from async_stream_processing_spark.llm.classifier import perceptron_score

    return perceptron_score(_docs(spark, sf_dir), n_buckets=64, n_rounds=3)


def q_stream_perceptron_score(spark, sf_dir):
    """Train-offline / SCORE-ON-INGEST: the perceptron weights are
    learned once from the batch corpus (driver model state), then
    arriving documents are scored THROUGH THE STREAMING ENGINE as a
    stateless per-row fold (margin = w-weighted gram sum, label from the
    inline Gopher keep expression) -- append mode, zero state.  Same
    oracle as the batch perceptron_score."""
    from async_stream_processing_spark.llm.classifier import (
        perceptron_score_narrow,
        perceptron_train_weights,
    )
    from async_stream_processing_spark.sources.parquet import stream_table
    from async_stream_processing_spark.streaming.replay import drain

    w = perceptron_train_weights(_docs(spark, sf_dir), n_buckets=64,
                                 n_rounds=3)
    s = stream_table(spark, sf_dir, "documents")
    return drain(
        perceptron_score_narrow(s, w, n_buckets=64), output_mode="append"
    )


def q_c4_quality(spark, sf_dir):
    """C4 page-cleanup rules (Raffel et al. 2020 §2.2): line-level
    terminal-punctuation + min-words retention, page-level sentence /
    curly / lorem-ipsum / blocklist flags.  Zero shuffles."""
    from async_stream_processing_spark.llm.curation import c4_quality

    return c4_quality(_docs(spark, sf_dir))


def q_hashed_ngram_features(spark, sf_dir):
    """DSIR hashed n-gram feature map (Xie et al. 2023): unigrams+bigrams
    hashed into 128 buckets, sparse per-doc counts."""
    from async_stream_processing_spark.llm.importance import (
        hashed_ngram_features,
    )

    return hashed_ngram_features(_docs(spark, sf_dir))


def q_dsir_score(spark, sf_dir):
    """DSIR importance contrast toward the src0 subcorpus: integer
    cross-multiplied bucket divergence (log-free, engine-exact)."""
    from async_stream_processing_spark.llm.importance import dsir_score

    return dsir_score(_docs(spark, sf_dir), target_source="src0")


def q_ngram_novelty(spark, sf_dir):
    """Per-doc novelty: fraction of distinct 3-grams first introduced by
    this doc (min-doc_id first-occurrence semantics)."""
    from async_stream_processing_spark.llm.text_analysis import ngram_novelty

    return ngram_novelty(_docs(spark, sf_dir))


def q_source_overlap(spark, sf_dir):
    """Pairwise source shingle-overlap matrix: Jaccard + containment per
    source pair via a shared-gram blocked self-join."""
    from async_stream_processing_spark.llm.text_analysis import source_overlap

    return source_overlap(_docs(spark, sf_dir))



def q_gopher_repetition_full(spark, sf_dir):
    """The complete 12-signal Gopher A1.1 repetition rule set: duplicate
    line/paragraph (element + char fractions) and duplicated 5..10-gram
    unique character coverage, alongside the top-2/3/4-gram core."""
    from async_stream_processing_spark.llm.curation import (
        gopher_repetition_full,
    )

    return gopher_repetition_full(_docs(spark, sf_dir))



def q_stream_c4_quality(spark, sf_dir):
    """C4 page-cleanup rules EXECUTED BY THE STREAMING ENGINE: the same
    zero-shuffle column expressions over a documents STREAM (stateless,
    append mode emits exactly the batch result) -- the quality-gate-on-
    arrival ingest branch.  Same oracle as the batch c4_quality."""
    from async_stream_processing_spark.llm.curation import c4_quality
    from async_stream_processing_spark.sources.parquet import stream_table
    from async_stream_processing_spark.streaming.replay import drain

    s = stream_table(spark, sf_dir, "documents")
    return drain(c4_quality(s), output_mode="append")



def q_cms_token_counts(spark, sf_dir):
    """Count-min-sketch token counts (bounded d x w counter state, the
    scale path of exact heavy_hitters), deterministic md5 bucket hashes
    so even the sketch ESTIMATES are oracle-exact."""
    from async_stream_processing_spark.llm.text_analysis import (
        cms_token_counts,
    )

    return cms_token_counts(_docs(spark, sf_dir), k=20)


#: BM25 demo query: two common terms + one rare one (idf spread).
BM25_TERMS = ["join", "hash", "vector"]


def q_bm25_topk(spark, sf_dir):
    """Top-10 BM25 retrieval for a literal 3-term query -- the IR search
    surface over the corpus (log-free ratio-idf dialect, floor-quantized
    per-term weights summed as BIGINTs: rankings replay identically on
    every engine/partitioning/retry)."""
    from async_stream_processing_spark.llm.text_analysis import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), BM25_TERMS, k=10)


def q_train_val_split(spark, sf_dir):
    """Deterministic EXACT-stratified train/val/test assignment (1%/1%
    per source, hash-ordered): the holdout-split step of the training
    pipeline, per-source slice counts exact by construction."""
    from async_stream_processing_spark.llm.sampling import train_val_split

    return train_val_split(_docs(spark, sf_dir), val_pct=1, test_pct=1)


def q_epoch_shuffle(spark, sf_dir):
    """Deterministic per-epoch global shuffle into hash-balanced shards
    (2 epochs x 4 shards): the reproducible data-ordering step a
    training run derives its read order from — epoch permutations
    independent, any shard's exact sequence recomputable from document
    identity alone (resume without stored state).  Rank window is
    per-(epoch, shard): no global sort at any scale."""
    from async_stream_processing_spark.llm.sampling import epoch_shuffle

    return epoch_shuffle(_docs(spark, sf_dir), n_epochs=2, n_shards=4)


def q_pq_codes(spark, sf_dir):
    """Product-quantization encoding: 64-dim float vectors -> 8 codebook
    ids (32x compression, the billion-vector ANN memory story); narrow
    one-pass encode against a broadcast codebook."""
    from async_stream_processing_spark.llm.similarity import pq_codes

    return pq_codes(_emb(spark, sf_dir), m=8, ksub=16, d=64)


def q_knn_pq_adc(spark, sf_dir):
    """PQ asymmetric-distance top-k: per corpus vector the scan is 8
    integer lookups + adds against a broadcast (query, subspace, code)
    distance table -- no float math on the corpus side."""
    from async_stream_processing_spark.llm.similarity import knn_pq_adc

    return knn_pq_adc(_emb(spark, sf_dir), n_queries=10, k=5)


def q_ann_recall(spark, sf_dir):
    """Recall@3 of the LSH index vs exact brute force, per query -- the
    ANN eval harness as a first-class query."""
    emb = _emb(spark, sf_dir)
    return recall_at_k(emb, knn_lsh(emb, n_queries=10, k=3, n_planes=6), 10, 3)


def q_bpe_train(spark, sf_dir):
    """Three BPE merge-training rounds over the distinct-word vocabulary
    (Sennrich 2016): per-round argmax pair as driver model state, merge
    applied distributively; returns the learned merge table."""
    from async_stream_processing_spark.llm.text_analysis import bpe_train

    return bpe_train(_docs(spark, sf_dir), n_merges=3)


def q_line_dedup(spark, sf_dir):
    """CCNet-style segment-level exact dedup: 10-word segments, global
    first-seen wins, documents reassembled from surviving segments."""
    from async_stream_processing_spark.llm.dedup import line_dedup

    return line_dedup(_docs(spark, sf_dir), width=10)


def q_rp_project(spark, sf_dir):
    """Johnson-Lindenstrauss ±1 random projection 64 -> 16 dims
    (Achlioptas 2003): narrow one-pass map with the sign matrix compiled
    in as literals -- the cheap front half of embedding pipelines."""
    from async_stream_processing_spark.llm.linalg import rp_project

    return rp_project(_emb(spark, sf_dir), k=16, d=64, seed=7)


def q_dedup_pair_recall(spark, sf_dir):
    """LSH blocker eval: precision/recall of the MinHash(16)+LSH(8x2)
    candidate set against exact >= 0.25 Jaccard ground truth -- the
    dedup counterpart of ann_recall."""
    from async_stream_processing_spark.llm.dedup import lsh_pair_recall

    return lsh_pair_recall(_docs(spark, sf_dir), threshold=0.25)


def q_knn_ivfpq(spark, sf_dir):
    """IVF-PQ ADC top-k (FAISS IVFADC shape): coarse cells + residual
    product quantization + asymmetric integer distance, probing 2/8
    cells -- the composition that runs at billion-vector scale."""
    from async_stream_processing_spark.llm.similarity import knn_ivfpq

    return knn_ivfpq(
        _emb(spark, sf_dir),
        n_queries=10, k=5, n_coarse=8, nprobe=2, m=8, ksub=16, d=64,
    )


def q_bpe_merge_pairs(spark, sf_dir):
    """Top-20 adjacent character-pair counts (the first BPE merge-step
    statistic): pair explode over the DISTINCT-word vocabulary, not the
    corpus token stream."""
    from async_stream_processing_spark.llm.text_analysis import (
        bpe_merge_pairs,
    )

    return bpe_merge_pairs(_docs(spark, sf_dir), k=20)


def q_pq_dedup_groups(spark, sf_dir):
    """Embedding near-dup candidate groups by shared PQ code-word
    prefix (block_m=4 of 8): ONE hash-groupBy over small ints --
    quantization as the blocking function for billion-vector dedup."""
    from async_stream_processing_spark.llm.similarity import pq_dedup_groups

    return pq_dedup_groups(_emb(spark, sf_dir), m=8, ksub=16, d=64, block_m=4)


def q_stream_pq_codes(spark, sf_dir):
    """pq_codes EXECUTED BY THE STREAMING ENGINE: encode-on-ingest as a
    stateless narrow map (stream-static broadcast of the codebook, the
    model-state shape), append mode -- the embedding pipeline's arrival
    branch; same oracle as the batch query."""
    from async_stream_processing_spark.llm.similarity import pq_codes
    from async_stream_processing_spark.sources.parquet import (
        load_table,
        stream_table,
    )
    from async_stream_processing_spark.streaming.replay import drain

    batch = load_table(spark, sf_dir, "embeddings")
    cents = batch.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("c_emb"),
    )
    s = stream_table(spark, sf_dir, "embeddings")
    return drain(
        pq_codes(s, m=8, ksub=16, d=64, centroids=cents),
        output_mode="append",
    )


def q_bigram_predictability(spark, sf_dir):
    """Bigram-LM predictability: fraction of each doc's transitions that
    are the trained model's argmax continuation -- perplexity filtering's
    log-free, bit-portable cousin (high = templated/boilerplate)."""
    from async_stream_processing_spark.llm.text_analysis import (
        bigram_predictability,
    )

    return bigram_predictability(_docs(spark, sf_dir))


def q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): cluster the embedding space, drop
    within-cell near-identical vectors keeping the most-central member
    per duplicate group (the parallel dominated-pair form).  tau tuned
    to the synthetic corpus's cosine range so the verdict is
    non-trivial at every sf."""
    from async_stream_processing_spark.llm.similarity import semdedup

    return semdedup(_emb(spark, sf_dir), n_centroids=8, tau=0.4)


def q_dedup_source_matrix(spark, sf_dir):
    """Cross-source near-dup contamination matrix: verified pair counts
    per unordered source pair (diagonal = within-source duplication)."""
    from async_stream_processing_spark.llm.dedup import dedup_source_matrix

    return dedup_source_matrix(_docs(spark, sf_dir), threshold=0.25)


def q_ivfpq_upsert(spark, sf_dir):
    """ANN index MAINTENANCE (r6 verdict item 6): a cell-partitioned
    IVF-PQ code store built from the corpus (vec_id % 50 != 37), then a
    new vector batch (vec_id % 50 == 37) merged in by
    ``ivfpq_upsert`` -- encoded against the SERVING model, touched cell
    directories dynamically overwritten, stored corpus never reshuffled
    (rewrite asserted touched-cells-only in tests/test_llm_ops.py).
    The split leaves the model's seed vectors (vec_id < 16) in the
    corpus, so the serving model equals the full-corpus model and the
    oracle is simply: the final store must equal a clean rebuild over
    the final corpus (``sql_ivfpq_codes``)."""
    from async_stream_processing_spark.llm.similarity import (
        ivfpq_encode,
        ivfpq_read_codes,
        ivfpq_upsert,
        ivfpq_write_store,
    )

    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") % 50 != 37)
    batch = emb.filter(F.col("vec_id") % 50 == 37)
    with tempfile.TemporaryDirectory(prefix="asp_ivfpq_store_",
                                     ignore_cleanup_errors=True) as tmp:
        store = os.path.join(tmp, "store")
        codes_long, coarse, rcode = ivfpq_encode(corpus)
        ivfpq_write_store(codes_long, store)
        ivfpq_upsert(spark, store, batch, coarse, rcode)
        out = ivfpq_read_codes(spark, store).localCheckpoint(eager=True)
    return out


def q_knn_ivfpq_served(spark, sf_dir):
    """IVF-PQ search SERVED FROM THE LAKE: codes persisted once as a
    cell-partitioned parquet store; the query-side probe list becomes a
    literal partition filter, so the scan opens ONLY the probed cells'
    files (pruning asserted in tests/test_llm_ops.py) -- the ANN serving
    posture at billion-vector scale.  Results identical to knn_ivfpq
    (same oracle)."""
    from async_stream_processing_spark.llm.similarity import (
        ivfpq_encode,
        ivfpq_read_codes_wide,
        ivfpq_search,
        ivfpq_write_store,
    )

    emb = _emb(spark, sf_dir)
    with tempfile.TemporaryDirectory(prefix="asp_ivfpq_serve_",
                                     ignore_cleanup_errors=True) as tmp:
        store = os.path.join(tmp, "store")
        codes, coarse, rcode = ivfpq_encode(emb)
        ivfpq_write_store(codes, store)
        stored = ivfpq_read_codes_wide(spark, store)
        out = ivfpq_search(
            emb, stored, coarse, rcode,
            n_queries=10, k=5, nprobe=2, prune_cells=True,
        ).localCheckpoint(eager=True)
    return out


def q_stream_ivfpq_upsert(spark, sf_dir):
    """ivfpq_upsert EXECUTED BY THE STREAMING ENGINE: new vectors arrive
    through readStream and each micro-batch merges into the
    cell-partitioned code store via foreachBatch + ivfpq_upsert
    (touched-cells-only dynamic overwrite; idempotent merge = the
    exactly-once foreachBatch recipe, the stream_upsert_state pattern).
    The final store must equal a clean rebuild over the final corpus --
    same oracle as the batch ivfpq_upsert."""
    from async_stream_processing_spark.llm.similarity import (
        ivfpq_encode,
        ivfpq_read_codes,
        ivfpq_upsert,
        ivfpq_write_store,
    )
    from async_stream_processing_spark.sources.parquet import stream_table

    emb = _emb(spark, sf_dir)
    with tempfile.TemporaryDirectory(prefix="asp_ivfpq_stream_",
                                     ignore_cleanup_errors=True) as tmp:
        store, ck = os.path.join(tmp, "store"), os.path.join(tmp, "ck")
        codes_long, coarse, rcode = ivfpq_encode(
            emb.filter(F.col("vec_id") % 50 != 37)
        )
        ivfpq_write_store(codes_long, store)
        s = stream_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") % 50 == 37
        )
        q = (
            s.writeStream.foreachBatch(
                lambda b, _i: ivfpq_upsert(spark, store, b, coarse, rcode)
            )
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        await_drain(q, 300)
        out = ivfpq_read_codes(spark, store).localCheckpoint(eager=True)
    return out


def q_ivfpq_recall(spark, sf_dir):
    """Recall@5 of the IVF-PQ index vs exact brute force -- the eval row
    that justifies nprobe/n_coarse/m before a full 100 TB index build."""
    from async_stream_processing_spark.llm.similarity import knn_ivfpq

    emb = _emb(spark, sf_dir)
    return recall_at_k(emb, knn_ivfpq(emb, n_queries=10, k=5), 10, 5)


def q_filter_audit(spark, sf_dir):
    """Per-source filter-funnel report: docs/tokens removed by the
    Gopher and C4 quality stacks and what survives both -- the audit
    table a curation run prints before anyone trusts it."""
    from async_stream_processing_spark.llm.curation import filter_audit

    return filter_audit(_docs(spark, sf_dir))


def q_knn_refine(spark, sf_dir):
    """Two-stage ANN: PQ-ADC shortlist (20 per query) then exact cosine
    re-rank of only the shortlist -- the deployment composition that
    keeps exact math off the corpus."""
    from async_stream_processing_spark.llm.similarity import knn_refine

    return knn_refine(_emb(spark, sf_dir), n_queries=10, k=5, shortlist=20)


def q_stream_minhash_sigs(spark, sf_dir):
    """minhash_sigs EXECUTED BY THE STREAMING ENGINE: the narrow plan is
    stateless (per-row column expressions), so signatures compute on
    ingest in append mode with zero state -- same oracle as the batch
    query."""
    from async_stream_processing_spark.llm.dedup import minhash_signatures
    from async_stream_processing_spark.sources.parquet import stream_table
    from async_stream_processing_spark.streaming.replay import drain

    s = stream_table(spark, sf_dir, "documents")
    return drain(minhash_signatures(s), output_mode="append")


def q_stream_simhash(spark, sf_dir):
    """simhash EXECUTED BY THE STREAMING ENGINE: the narrow signature is
    stateless per-row column math, so fingerprints compute on ingest in
    append mode -- same oracle as the batch query."""
    from async_stream_processing_spark.llm.dedup import simhash
    from async_stream_processing_spark.sources.parquet import stream_table
    from async_stream_processing_spark.streaming.replay import drain

    return drain(
        simhash(stream_table(spark, sf_dir, "documents")),
        output_mode="append",
    )


def q_stream_bpe_apply(spark, sf_dir):
    """bpe_apply EXECUTED BY THE STREAMING ENGINE: merge rules learned
    once from the BATCH corpus (driver-held model state), then the
    encode is a stateless narrow map over arriving documents -- the
    tokenize-on-ingest shape; same oracle as the batch query."""
    from async_stream_processing_spark.llm.text_analysis import (
        bpe_apply,
        bpe_train,
    )
    from async_stream_processing_spark.sources.parquet import stream_table
    from async_stream_processing_spark.streaming.replay import drain

    batch = _docs(spark, sf_dir)
    merges = [
        r["pair"]
        for r in sorted(
            bpe_train(batch, 3).collect(), key=lambda r: r["merge_round"]
        )
    ]
    s = stream_table(spark, sf_dir, "documents")
    return drain(bpe_apply(s, merges=merges), output_mode="append")


def q_bpe_apply(spark, sf_dir):
    """BPE ENCODE: learn 3 merge rules (bpe_train's driver-held model),
    apply them in order to every word of every document as a narrow
    transform -- per-doc word/symbol/token counts, all integers."""
    from async_stream_processing_spark.llm.text_analysis import bpe_apply

    return bpe_apply(_docs(spark, sf_dir), n_merges=3)


def q_minhash_sigs(spark, sf_dir):
    """The zero-shuffle minhash signatures (plan='narrow'): each doc's
    16-permutation signature as pure column expressions over its own
    shingle array -- gates the narrow path the whole LSH family now
    rides (values provably equal to the explode+min-agg formulation)."""
    from async_stream_processing_spark.llm.dedup import minhash_signatures

    return minhash_signatures(_docs(spark, sf_dir))


def q_dedup_keep_best(spark, sf_dir):
    """Cluster near-dups, keep the longest member per cluster (ties ->
    min doc_id); singletons survive as themselves -- the keep-best dedup
    pass of RefinedWeb-style pipelines, one row per surviving doc."""
    from async_stream_processing_spark.llm.dedup import dedup_keep_best

    return dedup_keep_best(_docs(spark, sf_dir), threshold=0.25)


def q_temperature_mixture(spark, sf_dir):
    """Alpha=0.5 temperature mixture weights per source (Conneau &
    Lample 2019): sqrt-scaled counts, integer-quantized so the
    cross-source sum is order-free, budgets by integer DIV."""
    from async_stream_processing_spark.llm.curation import temperature_mixture

    return temperature_mixture(_docs(spark, sf_dir), total_target=1000)


def q_versioned_time_travel(spark, sf_dir):
    """Versioned-lake lifecycle gate (the ivfpq_upsert oracle pattern):
    commit the corpus as v1 (doc_id%5!=0), append the rest as v2, then
    TIME-TRAVEL read v1 -- which must equal a plain filter of the source
    table even though the head has moved (snapshot isolation as a
    hash-checked result, not just a pytest claim)."""
    from async_stream_processing_spark.plans.versioned import (
        commit_append,
        read_version,
    )

    docs = _docs(spark, sf_dir)
    with tempfile.TemporaryDirectory(prefix="asp_vlake_",
                                     ignore_cleanup_errors=True) as tmp:
        lake = os.path.join(tmp, "lake")
        commit_append(docs.filter(F.col("doc_id") % 5 != 0), lake)
        commit_append(docs.filter(F.col("doc_id") % 5 == 0), lake)
        out = read_version(spark, lake, 1).select(
            "doc_id", "text", "lang", "source", "n_chars"
        ).localCheckpoint(eager=True)
    return out


def q_stream_versioned_sink(spark, sf_dir):
    """versioned_sink EXECUTED BY THE STREAMING ENGINE: micro-batches
    commit one lake version each (batch_id in the manifest); the final
    head must equal the whole source table -- and the exactly-once claim
    is hash-gated, not just unit-tested."""
    from async_stream_processing_spark.plans.versioned import (
        read_version,
        versioned_sink,
    )
    from async_stream_processing_spark.sources.parquet import stream_table

    with tempfile.TemporaryDirectory(prefix="asp_vsink_",
                                     ignore_cleanup_errors=True) as tmp:
        lake, ck = os.path.join(tmp, "lake"), os.path.join(tmp, "ck")
        s = stream_table(spark, sf_dir, "documents")
        q = versioned_sink(s, lake, ck)
        await_drain(q, 300)
        out = read_version(spark, lake).select(
            "doc_id", "text", "lang", "source", "n_chars"
        ).localCheckpoint(eager=True)
    return out


def q_versioned_merge(spark, sf_dir):
    """MERGE-as-one-version gate (Delta MERGE INTO semantics, copy-on-
    write at file granularity): target = doc_id%3!=0 committed across
    several files; one CDC batch updates doc_id%4==0 (UPPER(text),
    lang='merged' -- inserts where unmatched) and deletes doc_id%7==0
    (disjoint from updates).  The post-merge head must equal the plain
    SQL merge expression; only-touched-files-rewritten is pinned in
    pytest, the RESULT is hash-gated here."""
    from async_stream_processing_spark.plans.versioned import (
        commit_append,
        merge_into,
        read_version,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    with tempfile.TemporaryDirectory(prefix="asp_vmerge_",
                                     ignore_cleanup_errors=True) as tmp:
        lake = os.path.join(tmp, "lake")
        commit_append(
            docs.filter(F.col("doc_id") % 3 != 0).repartition(4), lake
        )
        ups = docs.filter(F.col("doc_id") % 4 == 0).select(
            "doc_id",
            F.upper("text").alias("text"),
            F.lit("merged").alias("lang"),
            "source", "n_chars",
            F.lit(False).alias("is_delete"),
        )
        dels = docs.filter(
            (F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 4 != 0)
        ).select(
            "doc_id", "text", "lang", "source", "n_chars",
            F.lit(True).alias("is_delete"),
        )
        merge_into(
            spark, lake, ups.unionByName(dels), ["doc_id"],
            delete_col="is_delete",
        )
        out = read_version(spark, lake).localCheckpoint(eager=True)
    return out


def q_stream_versioned_merge(spark, sf_dir):
    """versioned_merge EXECUTED BY THE STREAMING ENGINE: the CDC batch
    is split into three files and streamed at maxFilesPerTrigger=1, so
    the MERGE applies across three micro-batches (one lake version
    each, batch_id in the manifest -- the Delta streaming MERGE shape);
    the final head must hash-match the SAME oracle as the one-shot
    batch merge."""
    from async_stream_processing_spark.plans.versioned import (
        commit_append,
        read_version,
        versioned_merge_sink,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    ups = docs.filter(F.col("doc_id") % 4 == 0).select(
        "doc_id",
        F.upper("text").alias("text"),
        F.lit("merged").alias("lang"),
        "source", "n_chars",
        F.lit(False).alias("is_delete"),
    )
    dels = docs.filter(
        (F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 4 != 0)
    ).select(
        "doc_id", "text", "lang", "source", "n_chars",
        F.lit(True).alias("is_delete"),
    )
    cdc = ups.unionByName(dels)

    with tempfile.TemporaryDirectory(prefix="asp_svmerge_",
                                     ignore_cleanup_errors=True) as tmp:
        lake, ck = os.path.join(tmp, "lake"), os.path.join(tmp, "ck")
        commit_append(
            docs.filter(F.col("doc_id") % 3 != 0).repartition(4), lake
        )
        # three files -> three merge micro-batches
        src = land_batches(cdc.withColumn("__b", F.col("doc_id") % 3),
                           "__b", 3, os.path.join(tmp, "src"))
        q = versioned_merge_sink(
            replay_stream(spark, src, spark.read.parquet(src).schema,
                          max_files_per_trigger=1),
            lake, ["doc_id"], ck, delete_col="is_delete",
        )
        await_drain(q, 300)
        out = read_version(spark, lake).localCheckpoint(eager=True)
    return out


def q_versioned_changes(spark, sf_dir):
    """Change-data-feed gate: three appends (doc_id mod 3 slices); the
    v1->v3 feed must be exactly the later two slices as inserts -- the
    version diff reads only the differenced files, never the table."""
    from async_stream_processing_spark.plans.versioned import (
        commit_append,
        table_changes,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    with tempfile.TemporaryDirectory(prefix="asp_vcdf_",
                                     ignore_cleanup_errors=True) as tmp:
        lake = os.path.join(tmp, "lake")
        for m in range(3):
            commit_append(docs.filter(F.col("doc_id") % 3 == m), lake)
        out = table_changes(spark, lake, 1, 3).localCheckpoint(eager=True)
    return out


def q_versioned_prune_read(spark, sf_dir):
    """Stat-pruned snapshot read gate: three range-disjoint appends
    record footer min/max in the manifest; scan_version(doc_id in
    [lo, hi]) must equal the plain filter (that it opens ONLY the
    intersecting files is proven by the corruption test in pytest --
    here the VALUES are hash-gated).  Since round 11 the scan runs
    through the DISTRIBUTED checkpoint-prune path (checkpoint_manifest
    first, FLOAT query bounds) so the sharded checkpoint write and the
    integer-exact BIGINT bound comparison are themselves
    driver-gated."""
    from async_stream_processing_spark.plans.versioned import (
        checkpoint_manifest,
        commit_append,
        scan_version,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    n = docs.count()
    with tempfile.TemporaryDirectory(prefix="asp_vprune_",
                                     ignore_cleanup_errors=True) as tmp:
        lake = os.path.join(tmp, "lake")
        third = (n + 2) // 3
        for i in range(3):
            commit_append(
                docs.filter(
                    (F.col("doc_id") >= i * third)
                    & (F.col("doc_id") < (i + 1) * third)
                ).coalesce(1),
                lake, stats_cols=["doc_id"],
            )
        checkpoint_manifest(spark, lake)
        # float bounds: exercises the floor/ceil integer-exact compare
        lo, hi = float(third // 2) - 0.5, float(third + third // 2) + 0.5
        out = scan_version(spark, lake, "doc_id", lo, hi) \
            .localCheckpoint(eager=True)
    return out


def q_versioned_point_lookup(spark, sf_dir):
    """Bloom point-lookup gate: bloom-tracked appends, then three
    primary-key fetches (n/4, n/2, 3n/4) against the head -- each opens
    only files whose manifest bloom might contain the key (no false
    negatives proven in pytest by corrupting rejected files; the VALUES
    are hash-gated here).  Since round 11 the lookups run through the
    DISTRIBUTED checkpoint path (checkpoint_manifest first) so the
    Arrow-batched bloom probe over the sharded checkpoint is itself
    driver-gated."""
    from async_stream_processing_spark.plans.versioned import (
        checkpoint_manifest,
        commit_append,
        lookup_version,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    n = docs.count()
    with tempfile.TemporaryDirectory(prefix="asp_vlookup_",
                                     ignore_cleanup_errors=True) as tmp:
        lake = os.path.join(tmp, "lake")
        third = (n + 2) // 3
        for i in range(3):
            commit_append(
                docs.filter(
                    (F.col("doc_id") >= i * third)
                    & (F.col("doc_id") < (i + 1) * third)
                ).coalesce(1),
                lake, bloom_cols=["doc_id"],
            )
        checkpoint_manifest(spark, lake)
        parts = [
            lookup_version(spark, lake, "doc_id", k)
            for k in (n // 4, n // 2, (3 * n) // 4)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out = out.localCheckpoint(eager=True)
    return out


def q_versioned_compact(spark, sf_dir):
    """OPTIMIZE gate: three appends (doc_id mod 3 slices) then a compact
    rewrite into one file as a new version -- the head must still equal
    the whole source table (compaction changes bytes, never content)."""
    from async_stream_processing_spark.plans.versioned import (
        commit_append,
        compact,
        read_version,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    with tempfile.TemporaryDirectory(prefix="asp_vcompact_",
                                     ignore_cleanup_errors=True) as tmp:
        lake = os.path.join(tmp, "lake")
        for m in range(3):
            commit_append(docs.filter(F.col("doc_id") % 3 == m), lake)
        compact(spark, lake, target_files=1)
        out = read_version(spark, lake).localCheckpoint(eager=True)
    return out


def q_versioned_merge_composite(spark, sf_dir):
    """MERGE on a COMPOSITE key (r7 verdict item 4): the lake is keyed
    by (source, doc_id), committed as three range-sliced files with
    manifest stats on BOTH key columns, and the CDC batch
    updates/deletes/inserts by the two-column key.  The stat pre-prune
    ANDs the per-column interval tests (corruption-proven in pytest);
    here the merged VALUES are hash-gated cross-engine."""
    from async_stream_processing_spark.plans.versioned import (
        commit_append,
        merge_into,
        read_version,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    n = docs.count()
    with tempfile.TemporaryDirectory(prefix="asp_vmergec_",
                                     ignore_cleanup_errors=True) as tmp:
        lake = os.path.join(tmp, "lake")
        third = (n + 2) // 3
        for i in range(3):
            commit_append(
                docs.filter(
                    (F.col("doc_id") % 3 != 0)
                    & (F.col("doc_id") >= i * third)
                    & (F.col("doc_id") < (i + 1) * third)
                ).coalesce(1),
                lake, stats_cols=["source", "doc_id"],
            )
        ups = docs.filter(F.col("doc_id") % 4 == 0).select(
            "source", "doc_id",
            F.upper("text").alias("text"),
            F.lit("cmerged").alias("lang"),
            "n_chars",
            F.lit(False).alias("is_delete"),
        )
        dels = docs.filter(
            (F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 4 != 0)
        ).select(
            "source", "doc_id", "text", "lang", "n_chars",
            F.lit(True).alias("is_delete"),
        )
        merge_into(
            spark, lake, ups.unionByName(dels), ["source", "doc_id"],
            delete_col="is_delete",
        )
        out = read_version(spark, lake).select(
            "doc_id", "text", "lang", "source", "n_chars"
        ).localCheckpoint(eager=True)
    return out


def q_versioned_changes_rows(spark, sf_dir):
    """ROW-LEVEL change-data-feed (r7 verdict item 8): a copy-on-write
    MERGE rewrites whole files, so the file-level CDF reports carried
    rows as self-cancelling insert+delete churn; table_changes(...,
    row_level=True) nets that churn out with exceptAll over the
    differenced files.  The surviving feed must be EXACTLY the update
    pre+post images and the deletes -- hash-gated against a DuckDB
    diff-by-key oracle."""
    from async_stream_processing_spark.plans.versioned import (
        commit_append,
        merge_into,
        table_changes,
        versions,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    with tempfile.TemporaryDirectory(prefix="asp_vcdfrl_",
                                     ignore_cleanup_errors=True) as tmp:
        lake = os.path.join(tmp, "lake")
        commit_append(docs.repartition(4), lake)
        ups = docs.filter(F.col("doc_id") % 4 == 0).select(
            "doc_id",
            F.upper("text").alias("text"),
            F.lit("rl").alias("lang"),
            "source", "n_chars",
            F.lit(False).alias("is_delete"),
        )
        dels = docs.filter(
            (F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 4 != 0)
        ).select(
            "doc_id", "text", "lang", "source", "n_chars",
            F.lit(True).alias("is_delete"),
        )
        merge_into(
            spark, lake, ups.unionByName(dels), ["doc_id"],
            delete_col="is_delete",
        )
        v1, v2 = versions(lake)[0], versions(lake)[-1]
        out = table_changes(
            spark, lake, v1, v2, row_level=True
        ).localCheckpoint(eager=True)
    return out


def q_versioned_merge_schema(spark, sf_dir):
    """MERGE with schema evolution (Delta mergeSchema-on-MERGE, r7
    verdict item 4): the CDC batch carries a NEW ``score`` column; the
    merged head (read with merge_schema=True) must show the source rows
    with their scores and every carried row with score NULL -- untouched
    files keep their old schema on disk."""
    from async_stream_processing_spark.plans.versioned import (
        commit_append,
        merge_into,
        read_version,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    with tempfile.TemporaryDirectory(prefix="asp_vmergesc_",
                                     ignore_cleanup_errors=True) as tmp:
        lake = os.path.join(tmp, "lake")
        commit_append(
            docs.filter(F.col("doc_id") % 3 != 0).repartition(4), lake
        )
        ups = docs.filter(F.col("doc_id") % 4 == 0).select(
            "doc_id",
            F.upper("text").alias("text"),
            F.lit("ev").alias("lang"),
            "source", "n_chars",
            (F.col("n_chars") * 2).alias("score"),
            F.lit(False).alias("is_delete"),
        )
        merge_into(
            spark, lake, ups, ["doc_id"],
            delete_col="is_delete", merge_schema=True,
        )
        out = read_version(spark, lake, merge_schema=True).select(
            "doc_id", "text", "lang", "source", "n_chars", "score"
        ).localCheckpoint(eager=True)
    return out


def q_versioned_clone(spark, sf_dir):
    """SHALLOW CLONE gate: clone the corpus lake zero-copy (manifest
    references the source's files by absolute path), then MERGE a CDC
    batch into the CLONE -- the clone's head must equal the SQL merge
    expression while the source lake stays byte-untouched (pinned in
    pytest; the VALUES are hash-gated here)."""
    from async_stream_processing_spark.plans.versioned import (
        commit_append,
        merge_into,
        read_version,
        shallow_clone,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    with tempfile.TemporaryDirectory(prefix="asp_vclone_",
                                     ignore_cleanup_errors=True) as tmp:
        src, dst = os.path.join(tmp, "src"), os.path.join(tmp, "dst")
        for m in range(3):
            commit_append(docs.filter(F.col("doc_id") % 3 == m), src)
        shallow_clone(src, dst)
        ups = docs.filter(F.col("doc_id") % 5 == 0).select(
            "doc_id", "text",
            F.lit("cloned").alias("lang"),
            "source", "n_chars",
            F.lit(False).alias("is_delete"),
        )
        dels = docs.filter(
            (F.col("doc_id") % 11 == 0) & (F.col("doc_id") % 5 != 0)
        ).select(
            "doc_id", "text", "lang", "source", "n_chars",
            F.lit(True).alias("is_delete"),
        )
        merge_into(spark, dst, ups.unionByName(dels), ["doc_id"],
                   delete_col="is_delete")
        out = read_version(spark, dst).localCheckpoint(eager=True)
    return out


def q_versioned_restore(spark, sf_dir):
    """RESTORE gate (Delta RESTORE semantics, r8 verdict item 4): commit
    the corpus subset as v1, MERGE a BAD cdc batch (lang='bad') as v2,
    RESTORE to v1 (v3 -- a new head referencing v1's files, zero
    copies, history preserved), then MERGE a good batch (v4).  The
    final head must equal v1 merged with ONLY the good batch: the hash
    gate proves the restore erased the bad merge's effect while the
    post-restore merge still lands on top.  Stats/bloom carry and
    point-lookup-after-restore are pinned in pytest; the VALUES are
    gated here."""
    from async_stream_processing_spark.plans.versioned import (
        commit_append,
        merge_into,
        read_version,
        restore,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    with tempfile.TemporaryDirectory(prefix="asp_vrestore_",
                                     ignore_cleanup_errors=True) as tmp:
        lake = os.path.join(tmp, "lake")
        commit_append(
            docs.filter(F.col("doc_id") % 5 != 0).repartition(4), lake
        )
        bad = docs.filter(F.col("doc_id") % 4 == 0).select(
            "doc_id", F.upper("text").alias("text"),
            F.lit("bad").alias("lang"), "source", "n_chars",
        )
        merge_into(spark, lake, bad, ["doc_id"])
        v = restore(lake, 1)
        assert v == 3, f"restore should publish v3, got v{v}"
        good = docs.filter(F.col("doc_id") % 6 == 0).select(
            "doc_id", F.upper("text").alias("text"),
            F.lit("good").alias("lang"), "source", "n_chars",
        )
        merge_into(spark, lake, good, ["doc_id"])
        out = read_version(spark, lake).localCheckpoint(eager=True)
    return out


def q_versioned_delete(spark, sf_dir):
    """DELETE DML gate (Delta `DELETE FROM ... WHERE`): commit the
    corpus range-partitioned on doc_id with manifest stats, then two
    copy-on-write deletes — a doc_id RANGE delete that the manifest
    min/max stats must prune to a file subset (asserted: at least one
    file skipped without a read, at least one carried by reference),
    and a non-key predicate delete (n_chars) that rides parquet-footer
    pushdown.  The head must equal the corpus minus both predicates;
    NULL-predicate semantics and audit counters are pinned in pytest,
    the VALUES are hash-gated here."""
    from async_stream_processing_spark.plans.versioned import (
        _read_manifest,
        commit_append,
        delete_where,
        read_version,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    with tempfile.TemporaryDirectory(prefix="asp_vdel_",
                                     ignore_cleanup_errors=True) as tmp:
        lake = os.path.join(tmp, "lake")
        commit_append(
            docs.repartitionByRange(8, "doc_id"), lake,
            stats_cols=["doc_id", "n_chars"],
        )
        v = delete_where(spark, lake, "doc_id >= 100 AND doc_id < 180")
        m = _read_manifest(lake, v)
        assert m["stat_pruned_files"] >= 1, (
            f"range delete should stat-prune files, got {m}"
        )
        assert m["carried_files"] >= 1, "untouched files must carry"
        delete_where(spark, lake, "n_chars < 250")
        out = read_version(spark, lake).localCheckpoint(eager=True)
    return out


def q_versioned_delete_mor(spark, sf_dir):
    """DELETION-VECTOR DELETE gate (Delta merge-on-read DELETE): commit
    the corpus range-partitioned with stats, then two MOR deletes — the
    manifest must keep the data FILE SET BYTE-IDENTICAL (asserted: no
    file rewritten, stats pre-prune the range predicate, DVs recorded)
    while every reader anti-joins the dead positions out; then COMPACT,
    which reads DV-applied and materializes the deletions into clean
    files (asserted: post-compact manifest carries no DVs).  The final
    head is hash-gated against the corpus minus both predicates —
    proving delete-as-metadata and delete-materialization agree."""
    from async_stream_processing_spark.plans.versioned import (
        _read_manifest,
        commit_append,
        compact,
        delete_where,
        read_version,
        versions,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    with tempfile.TemporaryDirectory(prefix="asp_vdelmor_",
                                     ignore_cleanup_errors=True) as tmp:
        lake = os.path.join(tmp, "lake")
        commit_append(
            docs.repartitionByRange(8, "doc_id"), lake,
            stats_cols=["doc_id", "n_chars"],
        )
        files_v1 = _read_manifest(lake, 1)["files"]
        v = delete_where(spark, lake, "doc_id >= 200 AND doc_id < 260",
                         mode="mor")
        m = _read_manifest(lake, v)
        assert m["files"] == files_v1, "MOR delete must rewrite no file"
        assert m["stat_pruned_files"] >= 1, m
        assert m.get("dvs"), "deletion vectors must be recorded"
        v = delete_where(spark, lake, "n_chars < 150", mode="mor")
        m = _read_manifest(lake, v)
        assert m["files"] == files_v1, "MOR delete must rewrite no file"
        compact(spark, lake, target_files=2)
        mc = _read_manifest(lake, versions(lake)[-1])
        assert not mc.get("dvs"), "compact must materialize DVs away"
        out = read_version(spark, lake).localCheckpoint(eager=True)
    return out


def q_versioned_update_mor(spark, sf_dir):
    """DV-BACKED UPDATE gate (Delta merge-on-read UPDATE): the matched
    rows' positions die via a deletion vector and their updated images
    APPEND as a new file — the original files are asserted to survive
    verbatim in the manifest.  Two MOR updates compose (the second's
    predicate reads the first's postimages), then COMPACT materializes
    (asserted: no DVs left).  Hash-gated against the same two CASE
    WHEN passes in SQL — metadata-only update and materialized update
    must agree row for row."""
    from async_stream_processing_spark.plans.versioned import (
        _read_manifest,
        commit_append,
        compact,
        read_version,
        update_where,
        versions,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    with tempfile.TemporaryDirectory(prefix="asp_vupdmor_",
                                     ignore_cleanup_errors=True) as tmp:
        lake = os.path.join(tmp, "lake")
        commit_append(
            docs.repartitionByRange(8, "doc_id"), lake,
            stats_cols=["doc_id", "n_chars"],
        )
        files_v1 = _read_manifest(lake, 1)["files"]
        v = update_where(
            spark, lake, "doc_id >= 300 AND doc_id < 360",
            {"lang": "'mor'", "n_chars": "n_chars + 1000"}, mode="mor",
        )
        m = _read_manifest(lake, v)
        assert set(files_v1) <= set(m["files"]), \
            "MOR update must keep every original file"
        assert m["stat_pruned_files"] >= 1 and m.get("dvs"), m
        update_where(spark, lake, "n_chars > 1400",
                     {"lang": "'jumbo'"}, mode="mor")
        compact(spark, lake, target_files=2)
        mc = _read_manifest(lake, versions(lake)[-1])
        assert not mc.get("dvs"), "compact must materialize DVs away"
        out = read_version(spark, lake).localCheckpoint(eager=True)
    return out


def q_versioned_mv_incremental(spark, sf_dir):
    """Incremental MATERIALIZED-VIEW maintenance over the lake's CDF
    (plans/mv.py): a per-(user, event_type) count/sum view seeded at
    version 1 follows the table through an append, a copy-on-write
    DELETE and a deletion-vector DELETE by folding ONLY the row-level
    change feed -- never re-scanning the table.  The returned view is
    hash-gated against a plain SQL aggregate mirroring the three
    predicates, so incremental-equals-recompute is checked by the
    oracle on every gate; the stepped-equals-jumped composition law and
    the recompute equivalence through UPDATE/DELETE/MOR are pinned by
    tests (tests/test_scale.py mv gates, including the fixture-scale
    replica of this exact flow) rather than re-proven inside the timed
    query (r11: the former in-gate exceptAll x4 + an extra jump fold +
    a full recompute were ~half this query's jobs, all redundant with
    the oracle hash).  This is the O(changed rows) refresh a reporting
    layer runs instead of an O(table) recompute at 100 TB."""
    from async_stream_processing_spark.plans.mv import (
        maintain_view,
        sum_count_view,
    )
    from async_stream_processing_spark.plans.versioned import (
        commit_append,
        delete_where,
        read_version,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("x_c"),
    )
    keys = ["user_id", "event_type"]
    with tempfile.TemporaryDirectory(prefix="asp_vmv_",
                                     ignore_cleanup_errors=True) as tmp:
        lake = os.path.join(tmp, "lake")
        commit_append(ev.filter(F.col("user_id") % 3 == 0), lake,
                      stats_cols=["user_id"])
        base = sum_count_view(
            read_version(spark, lake, 1), keys, "x_c"
        ).localCheckpoint(eager=True)
        commit_append(ev.filter(F.col("user_id") % 3 == 1), lake,
                      stats_cols=["user_id"])
        delete_where(spark, lake, "x_c < 1000")
        delete_where(spark, lake, "user_id % 7 = 3", mode="mor")
        mv = maintain_view(
            spark, lake, base, keys, "x_c", 1, 4, step=1
        ).localCheckpoint(eager=True)
    return mv


def q_versioned_update(spark, sf_dir):
    """UPDATE DML gate (Delta `UPDATE ... SET ... WHERE`): commit the
    corpus, then two copy-on-write updates — a source-keyed update
    whose SET rewrites two columns at once (every right-hand side
    evaluated against the OLD row: n_chars doubles while lang is
    replaced), then a second update whose predicate reads the FIRST
    update's output (rows it already doubled past 800 get re-tagged),
    proving updates compose across versions.  Untouched rows must
    survive byte-identical through the rewritten files; the head is
    hash-gated against the same two CASE WHEN passes in SQL."""
    from async_stream_processing_spark.plans.versioned import (
        commit_append,
        read_version,
        update_where,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    with tempfile.TemporaryDirectory(prefix="asp_vupd_",
                                     ignore_cleanup_errors=True) as tmp:
        lake = os.path.join(tmp, "lake")
        commit_append(docs.repartitionByRange(4, "doc_id"), lake,
                      stats_cols=["doc_id"])
        update_where(
            spark, lake, "source = 'src7'",
            {"lang": "'boosted'", "n_chars": "n_chars * 2 + 1"},
        )
        update_where(
            spark, lake, "n_chars > 800 AND lang = 'boosted'",
            {"lang": "'jumbo'"},
        )
        out = read_version(spark, lake).localCheckpoint(eager=True)
    return out


def q_versioned_history(spark, sf_dir):
    """DESCRIBE HISTORY gate: a four-commit lifecycle (append half,
    append rest, update-only MERGE, RESTORE to v2) read back through
    ``history()`` — each version's operation from manifest METADATA
    joined with its actual pinned-read row count, so the audit view and
    time travel are hash-checked together (a history row claiming an
    operation whose snapshot doesn't match its expected count fails the
    gate)."""
    from async_stream_processing_spark.plans.versioned import (
        commit_append,
        history,
        merge_into,
        read_version,
        restore,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    with tempfile.TemporaryDirectory(prefix="asp_vhist_",
                                     ignore_cleanup_errors=True) as tmp:
        lake = os.path.join(tmp, "lake")
        commit_append(docs.filter(F.col("doc_id") % 2 == 0), lake)
        commit_append(docs.filter(F.col("doc_id") % 2 != 0), lake)
        ups = docs.filter(F.col("doc_id") % 3 == 0).select(
            "doc_id", F.upper("text").alias("text"), "lang", "source",
            "n_chars",
        )
        merge_into(spark, lake, ups, ["doc_id"])  # update-only
        restore(lake, 2)
        rows = [
            (h["version"], h["operation"],
             read_version(spark, lake, h["version"]).count())
            for h in history(lake)
        ]
        out = spark.createDataFrame(
            rows, "version long, operation string, n_rows long"
        ).localCheckpoint(eager=True)
    return out


def q_stream_versioned_maintained(spark, sf_dir):
    """versioned_sink WITH the auto-maintenance policy (r7 verdict item
    5) EXECUTED BY THE STREAMING ENGINE: many micro-batches, compaction
    every 4 commits, vacuum to the last 3 versions -- the drained head
    must still equal the whole source table even though most manifests
    and small files were rewritten/vacuumed mid-stream (maintenance
    changes bytes, never content; the exactly-once watermark survives
    vacuum)."""
    from async_stream_processing_spark.plans.versioned import (
        read_version,
        versioned_sink,
    )

    with tempfile.TemporaryDirectory(prefix="asp_vmaint_",
                                     ignore_cleanup_errors=True) as tmp:
        lake, ck = os.path.join(tmp, "lake"), os.path.join(tmp, "ck")
        docs = _docs(spark, sf_dir).select(
            "doc_id", "text", "lang", "source", "n_chars"
        )
        # ten source files -> ten micro-batches, so compaction fires
        # repeatedly mid-stream (the driver table is ONE file = one
        # trigger, which would never exercise the policy)
        src = land_batches(docs.withColumn("__b", F.col("doc_id") % 10),
                           "__b", 10, os.path.join(tmp, "src"))
        s = replay_stream(spark, src, spark.read.parquet(src).schema,
                          max_files_per_trigger=1)
        q = versioned_sink(s, lake, ck, compact_every=4,
                           compact_target_files=1, vacuum_keep=3)
        await_drain(q, 300)
        out = read_version(spark, lake).select(
            "doc_id", "text", "lang", "source", "n_chars"
        ).localCheckpoint(eager=True)
    return out


def q_knn_pq_rotated(spark, sf_dir):
    """PQ-ADC top-k in a ±1-rotated space (the OPQ random-rotation rung,
    Ge et al. 2013 / Achlioptas JL signs): rotation is a narrow
    model-as-data pass, then the verified PQ chain runs unchanged on
    the rotated relation."""
    from async_stream_processing_spark.llm.similarity import knn_pq_rotated

    return knn_pq_rotated(_emb(spark, sf_dir), n_queries=10, k=5)


def q_pq_rotation_recall(spark, sf_dir):
    """Does rotation help PQ here?  recall@3 of plain vs rotated PQ-ADC
    against the exact original-space top-k -- the measured row that
    decides whether the rotation ships."""
    from async_stream_processing_spark.llm.similarity import (
        pq_rotation_recall,
    )

    return pq_rotation_recall(_emb(spark, sf_dir), n_queries=10, k=3)


def q_kmeans_silhouette(spark, sf_dir):
    """Clustering eval: per-cell SIMPLIFIED silhouette (centroid-based
    O(n*k), cosine distance) -- the measured row an n_centroids re-tune
    reads; narrow top-2 scoring against one broadcast centroid row,
    order-free integer-quantized sums."""
    from async_stream_processing_spark.llm.similarity import (
        kmeans_silhouette,
    )

    return kmeans_silhouette(_emb(spark, sf_dir), n_centroids=8)


def q_perceptron_eval(spark, sf_dir):
    """Held-out eval of the quality classifier (train on doc_id%5!=0,
    score the rest): confusion counts + precision/recall/accuracy vs the
    Gopher teacher -- the MEASURE row of train/apply/measure."""
    from async_stream_processing_spark.llm.classifier import perceptron_eval

    return perceptron_eval(_docs(spark, sf_dir), n_buckets=64, n_rounds=3)


def q_vocab_growth(spark, sf_dir):
    """Heaps'-law curve: cumulative tokens vs cumulative DISTINCT types
    per 50-doc bucket -- cumulative distinct made one-pass exact via
    first-appearance counting (min(doc_id) per token), running sums
    over the O(#buckets) aggregate only."""
    from async_stream_processing_spark.llm.text_analysis import vocab_growth

    return vocab_growth(_docs(spark, sf_dir), bucket_docs=50)


def q_source_token_diversity(spark, sf_dir):
    """Per-source Simpson diversity + type/token ratio (log-free entropy
    cousin): template-generated sources show up as a diversity cliff.
    One explode, two keyed aggregates."""
    from async_stream_processing_spark.llm.text_analysis import (
        source_token_diversity,
    )

    return source_token_diversity(_docs(spark, sf_dir))


def _codes_str(col: str):
    """'_'-join an integer code array for gate output (array cells void
    the driver's pandas canonicalizer -- the user_event_paths lesson)."""
    return F.concat_ws(
        "_", F.transform(F.col(col), lambda c: c.cast("string"))
    ).alias("codes_str")


def q_sq8_codes(spark, sf_dir):
    """SQ8 scalar-quantization encoding (FAISS SQ8): each dimension to
    one uint8 level on the corpus's per-dim [min,max] grid -- 4x
    compression with no codebook, the first rung of the ANN ladder;
    NARROW one-pass encode against an O(d) broadcast stats row.  The
    code array is emitted '_'-joined (the user_event_paths lesson: the
    driver's canonicalizer cannot hash array cells)."""
    from async_stream_processing_spark.llm.similarity import sq8_codes

    return sq8_codes(_emb(spark, sf_dir), d=64).select(
        "vec_id", _codes_str("codes")
    )


def q_knn_sq8(spark, sf_dir):
    """Symmetric-distance top-k over SQ8 codes: pure INTEGER squared
    code deltas (order-free BIGINT sums, no corpus-side float math),
    query codes as a broadcast, per-query top-k window."""
    from async_stream_processing_spark.llm.similarity import knn_sq8

    return knn_sq8(_emb(spark, sf_dir), n_queries=10, k=5, d=64)


def q_stream_sq8_codes(spark, sf_dir):
    """sq8_codes EXECUTED BY THE STREAMING ENGINE: encode-on-ingest
    against a FROZEN serving grid (stats trained batch-side, riding as
    a stream-static broadcast -- the model-state shape), append mode;
    same oracle as the batch query."""
    from async_stream_processing_spark.llm.similarity import sq8_codes, sq8_stats
    from async_stream_processing_spark.sources.parquet import (
        load_table,
        stream_table,
    )
    from async_stream_processing_spark.streaming.replay import drain

    stats = sq8_stats(load_table(spark, sf_dir, "embeddings"), d=64)
    s = stream_table(spark, sf_dir, "embeddings")
    enc = sq8_codes(s, d=64, stats=stats).select(
        "vec_id", _codes_str("codes")
    )
    return drain(enc, output_mode="append")


def q_matryoshka_recall(spark, sf_dir):
    """Recall@k of exact search over the first 16 dims vs the full 64
    (Matryoshka prefix truncation): the measure-before-deploy row for
    serving embeddings at a prefix."""
    emb = _emb(spark, sf_dir)
    prefix = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    return recall_at_k(emb, knn_bruteforce(prefix, n_queries=10, k=5), 10, 5)


def q_versioned_compact_zorder(spark, sf_dir):
    """OPTIMIZE ZORDER gate: three appends then a CLUSTERED compaction
    (Morton range-partition on (doc_id, n_chars)) -- the head must
    still equal the whole source table (clustering changes layout,
    never content; that the recomputed stats prune both columns is
    corruption-proven in pytest)."""
    from async_stream_processing_spark.plans.versioned import (
        commit_append,
        compact,
        read_version,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    with tempfile.TemporaryDirectory(prefix="asp_vzorder_",
                                     ignore_cleanup_errors=True) as tmp:
        lake = os.path.join(tmp, "lake")
        for m in range(3):
            commit_append(docs.filter(F.col("doc_id") % 3 == m), lake,
                          stats_cols=["doc_id", "n_chars"])
        compact(spark, lake, target_files=4,
                cluster_by=["doc_id", "n_chars"], zorder_bits=12)
        out = read_version(spark, lake).localCheckpoint(eager=True)
    return out


def q_knn_hamming(spark, sf_dir):
    """1-bit sign-hash top-k: Hamming distance over packed sign words
    (two XOR+popcounts per candidate, pure integer codegen) -- the
    cheapest rung of the ANN compression ladder, deterministic ties."""
    from async_stream_processing_spark.llm.similarity import knn_hamming

    return knn_hamming(_emb(spark, sf_dir))


def q_hamming_recall(spark, sf_dir):
    """Recall@k of the 1-bit Hamming search vs exact cosine brute force
    (the measured-ladder discipline: place the rung before using it)."""
    from async_stream_processing_spark.llm.similarity import knn_hamming

    emb = _emb(spark, sf_dir)
    return recall_at_k(emb, knn_hamming(emb, n_queries=10, k=5, d=64), 10, 5)


def q_knn_hamming_rerank(spark, sf_dir):
    """Binary-then-rerank (r8 verdict item 3): Hamming top-R prefilter
    over 16 B/vector sign codes, exact cosine rerank of ONLY the R
    candidates per query -- float math never touches the corpus."""
    from async_stream_processing_spark.llm.similarity import (
        knn_hamming_rerank,
    )

    return knn_hamming_rerank(_emb(spark, sf_dir))


def q_hamming_rerank_recall(spark, sf_dir):
    """Recall@k of the prefilter+rerank pipeline vs exact brute force --
    the deploy/no-deploy row for the binary serving path (R is the
    knob when this drops)."""
    from async_stream_processing_spark.llm.similarity import (
        knn_hamming_rerank,
    )

    emb = _emb(spark, sf_dir)
    return recall_at_k(
        emb, knn_hamming_rerank(emb, n_queries=10, k=5, r=20, d=64), 10, 5)


def q_stream_binary_codes(spark, sf_dir):
    """binary_sign_codes EXECUTED BY THE STREAMING ENGINE: the 1-bit
    encode is a stateless narrow projection, so it streams append-mode
    with zero state; same oracle as the batch codes."""
    from async_stream_processing_spark.llm.similarity import (
        binary_sign_codes,
    )
    from async_stream_processing_spark.sources.parquet import stream_table
    from async_stream_processing_spark.streaming.replay import drain

    s = stream_table(spark, sf_dir, "embeddings")
    return drain(binary_sign_codes(s), output_mode="append")


def q_bpe_coverage(spark, sf_dir):
    """Tokenizer eval: per-source BPE compression (tokens-after /
    symbols-before) -- the measured row that decides whether the
    learned vocabulary ships (train / apply / MEASURE)."""
    from async_stream_processing_spark.llm.text_analysis import bpe_coverage

    return bpe_coverage(_docs(spark, sf_dir), n_merges=3)


def q_packing_efficiency(spark, sf_dir):
    """Packer eval: per-source fill ratio of the pack_sequences layout
    (tokens / chunks*budget) -- the padding fraction a pretraining run
    pays for directly."""
    from async_stream_processing_spark.llm.curation import packing_efficiency

    return packing_efficiency(_docs(spark, sf_dir), budget=512)


def q_length_bucketed_packing(spark, sf_dir):
    """Length-bucketed batching audit: quantile buckets by token count,
    longest-first offset chunking inside each bucket, per-batch
    pad-to-longest waste as exact integers -- the padded-collator cost
    a training loop pays, measured before anyone ships the layout."""
    from async_stream_processing_spark.llm.curation import (
        length_bucketed_packing,
    )

    return length_bucketed_packing(
        _docs(spark, sf_dir), n_length_buckets=4, batch_tokens=2048
    )


def q_doremi_mixture(spark, sf_dir):
    """Domain-mixture OPTIMIZATION (DoReMi shape, Xie et al. 2023):
    three multiplicative-weights rounds upweighting the domains most
    divergent (TV) from the current weighted mixture -- integer
    arithmetic throughout, weight update as O(n_domains) driver model
    state, unrolled CTE-chain oracle.  Output: the (source, round,
    w_q) trajectory."""
    from async_stream_processing_spark.llm.curation import doremi_mixture

    return doremi_mixture(_docs(spark, sf_dir), n_rounds=3)


def q_sq8_recall(spark, sf_dir):
    """Recall@5 of the SQ8 symmetric-distance search vs exact brute
    force -- completes the measured ANN-compression ladder (LSH/SQ8/
    PQ/IVF-PQ each carry a recall row)."""
    from async_stream_processing_spark.llm.similarity import knn_sq8

    emb = _emb(spark, sf_dir)
    return recall_at_k(emb, knn_sq8(emb, n_queries=10, k=5, d=64), 10, 5)


def q_trigram_backoff(spark, sf_dir):
    """Stupid-Backoff trigram LM scoring (Brants et al. 2007 -- the
    published web-scale LM recipe; CCNet's perplexity filter in
    distributed-counts form): model trained on the even-doc_id half so
    held-out docs genuinely back off, per-transition scores
    floor-quantized and summed as order-free BIGINTs."""
    from async_stream_processing_spark.llm.text_analysis import (
        trigram_backoff_score,
    )

    return trigram_backoff_score(_docs(spark, sf_dir))


def q_stream_trigram_backoff(spark, sf_dir):
    """trigram_backoff EXECUTED BY THE STREAMING ENGINE: the LM trains
    once on the batch corpus's even half (vocab-bounded serving
    relations), arriving documents score per micro-batch via
    stream-static joins and a state-store aggregation (complete mode)
    -- perplexity filtering composed with the reference's past->live
    intake posture.  Same oracle as the batch query."""
    from async_stream_processing_spark.llm.text_analysis import (
        trigram_model,
        trigram_score_on_ingest,
    )
    from async_stream_processing_spark.sources.parquet import stream_table
    from async_stream_processing_spark.streaming.replay import drain

    docs = _docs(spark, sf_dir)
    model = trigram_model(docs.filter(F.col("doc_id") % 2 == 0))
    s = stream_table(spark, sf_dir, "documents")
    return drain(trigram_score_on_ingest(s, model), output_mode="complete")


def q_source_tv_distance(spark, sf_dir):
    """Per-source token-distribution drift: total-variation distance
    between each source's unigram distribution and the corpus's --
    exact integer numerators over a common denominator (the log-free
    cousin of DoReMi's KL term)."""
    from async_stream_processing_spark.llm.text_analysis import (
        source_tv_distance,
    )

    return source_tv_distance(_docs(spark, sf_dir))


def q_tfidf_cosine_pairs(spark, sf_dir):
    """Sparse tf-idf cosine near-dup pairs (>= 0.6) over a df-capped
    vocabulary: integer-quantized ratio-idf weights, order-free BIGINT
    dots/norms; the df cap (sklearn max_df) IS the join's skew cap."""
    from async_stream_processing_spark.llm.dedup import tfidf_cosine_pairs

    return tfidf_cosine_pairs(_docs(spark, sf_dir), tau=0.6)


def q_intradoc_dedup(spark, sf_dir):
    """Within-document repeated-segment removal (first occurrence wins,
    reassembled): the intra-page cleanup before corpus-level line_dedup.
    ONE narrow pass -- the seen-set is the segment array's own prefix;
    zero shuffles at any corpus size.  width=2 exercises the removal
    path on the driver corpus (r7 probe: 181 docs lose segments)."""
    from async_stream_processing_spark.llm.dedup import intradoc_dedup

    return intradoc_dedup(_docs(spark, sf_dir), width=2)


def q_lsh_s_curve(spark, sf_dir):
    """Empirical LSH detection S-curve: per true-Jaccard vigintile, the
    fraction of shared-shingle pairs the banded blocker catches -- the
    calibration row a (n_hashes, bands) re-tune reads.  Integer-exact
    binning; one IEEE division per bin."""
    from async_stream_processing_spark.llm.dedup import lsh_s_curve

    return lsh_s_curve(_docs(spark, sf_dir))


def q_unimax_mixture(spark, sf_dir):
    """UniMax budget allocation (Chung et al. 2023): uniform token budget
    across sources with a hard epoch cap, as one exact integer
    waterfilling window pass over the #sources aggregate."""
    from async_stream_processing_spark.llm.curation import unimax_mixture

    return unimax_mixture(_docs(spark, sf_dir), budget_tokens=200_000,
                          epoch_cap=4)


def q_hard_negatives(spark, sf_dir):
    """Contrastive hard-negative mining: top-5 most cosine-similar
    DIFFERENT-label vectors per query -- broadcast queries, one narrow
    corpus pass, per-query top-k window."""
    from async_stream_processing_spark.llm.similarity import hard_negatives

    return hard_negatives(_emb(spark, sf_dir), n_queries=10, k=5)


def q_pmi_pairs(spark, sf_dir):
    """Top-50 PMI collocations over adjacent-token bigrams: ranking on
    the exact integer quotient (log is monotone), marginals derived from
    the pair table -- ONE corpus explode, TakeOrdered cut."""
    from async_stream_processing_spark.llm.text_analysis import pmi_pairs

    return pmi_pairs(_docs(spark, sf_dir), min_count=5, k=50)


def q_langid_confusion(spark, sf_dir):
    """lang_id eval harness: predicted-vs-label confusion matrix with
    per-cell share of the true-label total (diagonal = recall)."""
    from async_stream_processing_spark.llm.text_analysis import (
        langid_confusion,
    )

    return langid_confusion(_docs(spark, sf_dir))


# -- oracle SQL ------------------------------------------------------------

def _sql_doc_shingles(src: str = "documents") -> str:
    """CTE fragment: (doc_id, h) distinct hashed 3-gram shingles."""
    return f"""
        words AS (SELECT doc_id,
                         string_split_regex(lower(trim(text)), ' +') AS w
                  FROM {src}),
        sh AS (SELECT DISTINCT doc_id,
                      {sql_stable_hash60('s')} AS h
               FROM (SELECT doc_id, unnest({sql_shingles('w', 3)}) AS s
                     FROM words))
    """


def _sql_minhash_sig() -> str:
    coeffs = minhash_coeffs(N_MINHASH)
    mins = ",\n                   ".join(
        f"MIN({sql_minhash_term('h', a, b)}) AS mh_{j}"
        for j, (a, b) in enumerate(coeffs)
    )
    return f"""
        sig AS (SELECT doc_id,
                   {mins}
                FROM sh GROUP BY doc_id)
    """


def _sql_lsh_cand() -> str:
    """CTE fragment: LSH band buckets + distinct candidate pairs (needs
    the ``sig`` CTE from :func:`_sql_minhash_sig` in scope)."""
    rows = N_MINHASH // LSH_BANDS
    band_rows = []
    for b in range(LSH_BANDS):
        cols = " || '_' || ".join(
            f"CAST(mh_{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        band_rows.append(f"SELECT doc_id, {b} AS band, {cols} AS sig FROM sig")
    buckets = " UNION ALL ".join(band_rows)
    return f"""
        buckets AS ({buckets}),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM buckets a JOIN buckets b
                   ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
    """


def _sql_lsh_pairs(threshold: float) -> str:
    return f"""
        {_sql_lsh_cand()},
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
                  FROM cand c
                  JOIN sh sa ON sa.doc_id = c.doc_a
                  JOIN sh sb ON sb.doc_id = c.doc_b AND sa.h = sb.h
                  GROUP BY c.doc_a, c.doc_b),
        jac AS (SELECT c.doc_a, c.doc_b,
                       COALESCE(i.n_common, 0) AS n_common,
                       za.n AS n_a, zb.n AS n_b,
                       CAST(COALESCE(i.n_common, 0) AS DOUBLE)
                           / CAST(za.n + zb.n - COALESCE(i.n_common, 0) AS DOUBLE)
                           AS jaccard
                FROM cand c
                LEFT JOIN inter i USING (doc_a, doc_b)
                JOIN sizes za ON za.doc_id = c.doc_a
                JOIN sizes zb ON zb.doc_id = c.doc_b)
    """


def _ivf_kmeans_sql(n_centroids: int = 8, n_iter: int = 4) -> str:
    """Unrolled Lloyd-iteration twin of ``kmeans_train`` + ``ivf_assign``.

    Every training step is deterministic by construction (first-k init,
    exact decimal(27,18) sums cast to double THEN divided, left-fold
    norms, float32 centroid casts), so a fixed iteration count unrolls
    into a plain CTE chain that reproduces the trained centroids -- and
    therefore the final assignment -- bit-for-bit."""
    parts = [
        f"cents0 AS (SELECT vec_id AS centroid_id, embedding AS c_emb\n"
        f"                FROM embeddings WHERE vec_id < {n_centroids})"
    ]
    for i in range(1, n_iter + 1):
        p = i - 1
        parts.append(f"""
            scored{i} AS (SELECT e.vec_id, c.centroid_id, e.embedding,
                              {sql_cosine('e.embedding', 'c.c_emb')} AS cos
                       FROM embeddings e CROSS JOIN cents{p} c),
            assign{i} AS (SELECT vec_id, centroid_id, embedding FROM (
                           SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY cos DESC, centroid_id ASC) AS rnk
                           FROM scored{i}) WHERE rnk = 1),
            dims{i} AS (SELECT centroid_id,
                           generate_subscripts(embedding, 1) - 1 AS pos,
                           CAST(unnest(embedding) AS DOUBLE) AS v
                    FROM assign{i}),
            means{i} AS (SELECT centroid_id, pos,
                            CAST(SUM(CAST(v AS DECIMAL(27,18))) AS DOUBLE)
                                / COUNT(*) AS v
                     FROM dims{i} GROUP BY centroid_id, pos),
            news{i} AS (SELECT centroid_id,
                           list_transform(m, x ->
                               CAST(x / {sql_norm('m')} AS FLOAT)) AS c_emb
                    FROM (SELECT centroid_id, list(v ORDER BY pos) AS m
                          FROM means{i} GROUP BY centroid_id)),
            cents{i} AS (SELECT p.centroid_id,
                            COALESCE(n.c_emb, p.c_emb) AS c_emb
                     FROM cents{p} p LEFT JOIN news{i} n
                       ON p.centroid_id = n.centroid_id)""")
    chain = ",\n".join(parts)
    return f"""
        WITH {chain},
        fscored AS (SELECT e.vec_id, c.centroid_id,
                           {sql_cosine('e.embedding', 'c.c_emb')} AS cos
                    FROM embeddings e CROSS JOIN cents{n_iter} c),
        franked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                        ORDER BY cos DESC, centroid_id ASC) AS rnk
                    FROM fscored)
        SELECT vec_id, centroid_id, cos AS centroid_cosine
        FROM franked WHERE rnk = 1
    """


def _lang_hits_sql(lang: str) -> str:
    stops = ", ".join(f"'{s}'" for s in LANG_STOPWORDS[lang])
    return (
        f"len(list_filter(string_split_regex(lower(trim(text)), ' +'), "
        f"x -> list_contains([{stops}], x)))"
    )


def _sql_token_rarity() -> str:
    from async_stream_processing_spark.llm.text_analysis import sql_token_rarity

    return sql_token_rarity()


def _sql_tfidf_top_terms() -> str:
    from async_stream_processing_spark.llm.text_analysis import (
        sql_tfidf_top_terms,
    )

    return sql_tfidf_top_terms()


def _sql_embedding_covariance() -> str:
    from async_stream_processing_spark.llm.linalg import sql_gram_exact

    return sql_gram_exact()


def llm_oracle_sql() -> dict[str, str]:
    langs = sorted(LANG_STOPWORDS)
    max_hits = "GREATEST(" + ", ".join(f"h_{lang}" for lang in langs) + ")"
    winner = "LEAST(" + ", ".join(
        f"CASE WHEN h_{lang} = {max_hits} THEN '{lang}' END" for lang in langs
    ) + ")"
    from async_stream_processing_spark.llm.curation import (
        sql_chunk_documents,
        sql_gopher_quality,
        sql_gopher_repetition,
        sql_mixture_sample,
        sql_pack_sequences,
    )
    from async_stream_processing_spark.llm.dedup import (
        sql_line_dedup,
        sql_simhash,
        sql_substring_dups,
        sql_substring_dup_spans,
        sql_substring_dedup_apply,
    )
    from async_stream_processing_spark.llm.text_analysis import (
        sql_heavy_hitters,
        sql_inverted_index,
    )

    from async_stream_processing_spark.llm.curation import sql_c4_quality
    from async_stream_processing_spark.llm.importance import (
        sql_dsir_score,
        sql_hashed_ngram_features,
    )
    from async_stream_processing_spark.llm.text_analysis import (
        sql_ngram_novelty,
        sql_source_overlap,
    )

    from async_stream_processing_spark.llm.curation import (
        sql_gopher_repetition_full,
    )

    from async_stream_processing_spark.llm.text_analysis import (
        sql_cms_token_counts,
    )

    from async_stream_processing_spark.llm.sampling import (
        sql_epoch_shuffle,
        sql_train_val_split,
    )
    from async_stream_processing_spark.llm.text_analysis import sql_bm25_topk

    from async_stream_processing_spark.llm.linalg import sql_rp_project
    from async_stream_processing_spark.llm.similarity import (
        sql_knn_ivfpq,
        sql_knn_pq_adc,
        sql_pq_codes,
        sql_pq_dedup_groups,
    )

    from async_stream_processing_spark.llm.text_analysis import (
        sql_bpe_merge_pairs,
        sql_bpe_train,
    )

    from async_stream_processing_spark.llm.curation import (
        sql_temperature_mixture,
    )

    from async_stream_processing_spark.llm.text_analysis import (
        sql_bigram_predictability,
        sql_bpe_apply,
        sql_bpe_coverage,
    )

    from async_stream_processing_spark.llm.similarity import (
        sql_ivfpq_codes,
        sql_knn_refine,
        sql_semdedup,
    )
    from async_stream_processing_spark.llm.classifier import (
        sql_perceptron_score,
        sql_perceptron_train,
    )

    minhash_sig_sql = f"""
            WITH {_sql_doc_shingles()},
            {_sql_minhash_sig()}
            SELECT * FROM sig
        """
    from async_stream_processing_spark.llm.curation import (
        sql_doremi_mixture,
        sql_filter_audit,
        sql_length_bucketed_packing,
        sql_packing_efficiency,
    )

    from async_stream_processing_spark.llm.similarity import (
        sql_binary_sign_codes,
        sql_knn_hamming,
        sql_knn_hamming_rerank,
        sql_knn_sq8,
        sql_sq8_codes,
    )
    from async_stream_processing_spark.llm.text_analysis import (
        sql_source_tv_distance,
        sql_trigram_backoff_score,
    )
    from async_stream_processing_spark.llm.dedup import (
        sql_intradoc_dedup,
        sql_tfidf_cosine_pairs,
    )

    from async_stream_processing_spark.llm.curation import (
        sql_unimax_mixture,
    )
    from async_stream_processing_spark.llm.similarity import (
        sql_hard_negatives,
        sql_kmeans_silhouette,
        sql_knn_pq_rotated,
        sql_pq_rotation_recall,
    )
    from async_stream_processing_spark.llm.text_analysis import (
        sql_pmi_pairs,
        sql_source_token_diversity,
        sql_vocab_growth,
    )
    from async_stream_processing_spark.llm.classifier import (
        sql_perceptron_eval,
    )

    out = {
        "lsh_s_curve": f"""
            WITH {_sql_doc_shingles()},
            {_sql_minhash_sig()},
            {_sql_lsh_cand()},
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
            allp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                            COUNT(*) AS n_common
                     FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
                     GROUP BY 1, 2),
            truth AS (SELECT p.doc_a, p.doc_b,
                             LEAST(19, (20 * p.n_common)
                                   // (za.n + zb.n - p.n_common)) AS j_bin
                      FROM allp p
                      JOIN sizes za ON za.doc_id = p.doc_a
                      JOIN sizes zb ON zb.doc_id = p.doc_b)
            SELECT t.j_bin,
                   COUNT(*) AS n_pairs,
                   CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_caught,
                   CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                        AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS catch_rate
            FROM truth t LEFT JOIN cand c
              ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
            GROUP BY t.j_bin
        """,
        "unimax_mixture": sql_unimax_mixture(
            budget_tokens=200_000, epoch_cap=4),
        "hard_negatives": sql_hard_negatives(n_queries=10, k=5),
        "kmeans_silhouette": sql_kmeans_silhouette(n_centroids=8),
        "knn_pq_rotated": sql_knn_pq_rotated(n_queries=10, k=5),
        "pq_rotation_recall": sql_pq_rotation_recall(n_queries=10, k=3),
        "perceptron_eval": sql_perceptron_eval(
            n_buckets=64, n_rounds=3, holdout_mod=5),
        "source_token_diversity": sql_source_token_diversity(),
        "vocab_growth": sql_vocab_growth(bucket_docs=50),
        "versioned_time_travel": """
            SELECT doc_id, text, lang, source, n_chars
            FROM documents WHERE doc_id % 5 != 0
        """,
        "stream_versioned_sink": """
            SELECT doc_id, text, lang, source, n_chars FROM documents
        """,
        "stream_versioned_merge": """
            WITH target AS (SELECT doc_id, text, lang, source, n_chars
                            FROM documents WHERE doc_id % 3 != 0),
            ups AS (SELECT doc_id, UPPER(text) AS text,
                           'merged' AS lang, source, n_chars
                    FROM documents WHERE doc_id % 4 = 0),
            dels AS (SELECT doc_id FROM documents
                     WHERE doc_id % 7 = 0 AND doc_id % 4 != 0)
            SELECT t.doc_id, t.text, t.lang, t.source, t.n_chars
            FROM target t
            WHERE t.doc_id NOT IN (SELECT doc_id FROM ups)
              AND t.doc_id NOT IN (SELECT doc_id FROM dels)
            UNION ALL
            SELECT doc_id, text, lang, source, n_chars FROM ups
        """,
        "versioned_merge": """
            WITH target AS (SELECT doc_id, text, lang, source, n_chars
                            FROM documents WHERE doc_id % 3 != 0),
            ups AS (SELECT doc_id, UPPER(text) AS text,
                           'merged' AS lang, source, n_chars
                    FROM documents WHERE doc_id % 4 = 0),
            dels AS (SELECT doc_id FROM documents
                     WHERE doc_id % 7 = 0 AND doc_id % 4 != 0)
            SELECT t.doc_id, t.text, t.lang, t.source, t.n_chars
            FROM target t
            WHERE t.doc_id NOT IN (SELECT doc_id FROM ups)
              AND t.doc_id NOT IN (SELECT doc_id FROM dels)
            UNION ALL
            SELECT doc_id, text, lang, source, n_chars FROM ups
        """,
        "versioned_compact": """
            SELECT doc_id, text, lang, source, n_chars FROM documents
        """,
        "versioned_point_lookup": """
            WITH p AS (SELECT COUNT(*) AS n FROM documents)
            SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
            FROM documents d, p
            WHERE d.doc_id IN (p.n // 4, p.n // 2, (3 * p.n) // 4)
        """,
        "versioned_prune_read": """
            WITH p AS (SELECT ((COUNT(*) + 2) // 3) AS third
                       FROM documents)
            SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
            FROM documents d, p
            WHERE d.doc_id BETWEEN p.third // 2
                                AND p.third + p.third // 2
        """,
        "versioned_changes": """
            SELECT doc_id, text, lang, source, n_chars,
                   'insert' AS _change_type
            FROM documents WHERE doc_id % 3 IN (1, 2)
        """,
        "versioned_merge_composite": """
            WITH target AS (SELECT doc_id, text, lang, source, n_chars
                            FROM documents WHERE doc_id % 3 != 0),
            ups AS (SELECT doc_id, UPPER(text) AS text,
                           'cmerged' AS lang, source, n_chars
                    FROM documents WHERE doc_id % 4 = 0),
            dels AS (SELECT doc_id FROM documents
                     WHERE doc_id % 7 = 0 AND doc_id % 4 != 0)
            SELECT t.doc_id, t.text, t.lang, t.source, t.n_chars
            FROM target t
            WHERE t.doc_id NOT IN (SELECT doc_id FROM ups)
              AND t.doc_id NOT IN (SELECT doc_id FROM dels)
            UNION ALL
            SELECT doc_id, text, lang, source, n_chars FROM ups
        """,
        "versioned_changes_rows": """
            WITH pre AS (SELECT doc_id, text, lang, source, n_chars
                         FROM documents),
            dels AS (SELECT doc_id FROM documents
                     WHERE doc_id % 7 = 0 AND doc_id % 4 != 0)
            SELECT doc_id, text, lang, source, n_chars,
                   'delete' AS _change_type
            FROM pre
            WHERE doc_id % 4 = 0 OR doc_id IN (SELECT doc_id FROM dels)
            UNION ALL
            SELECT doc_id, UPPER(text) AS text, 'rl' AS lang, source,
                   n_chars, 'insert' AS _change_type
            FROM documents WHERE doc_id % 4 = 0
        """,
        "stream_versioned_maintained": """
            SELECT doc_id, text, lang, source, n_chars FROM documents
        """,
        "versioned_delete": """
            SELECT doc_id, text, lang, source, n_chars
            FROM documents
            WHERE NOT (doc_id >= 100 AND doc_id < 180)
              AND NOT (n_chars < 250)
        """,
        "versioned_delete_mor": """
            SELECT doc_id, text, lang, source, n_chars
            FROM documents
            WHERE NOT (doc_id >= 200 AND doc_id < 260)
              AND NOT (n_chars < 150)
        """,
        "versioned_mv_incremental": """
            WITH t AS (
                SELECT user_id, event_type,
                       CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                           AS x_c
                FROM events
                WHERE user_id % 3 <= 1),
            kept AS (
                SELECT * FROM t
                WHERE NOT (x_c < 1000) AND NOT (user_id % 7 = 3))
            SELECT user_id, event_type,
                   COUNT(*) AS n_rows,
                   CAST(SUM(x_c) AS BIGINT) AS sum_m
            FROM kept GROUP BY user_id, event_type
        """,
        "versioned_update_mor": """
            WITH pass1 AS (
                SELECT doc_id, text,
                       CASE WHEN doc_id >= 300 AND doc_id < 360
                            THEN 'mor' ELSE lang END AS lang,
                       source,
                       CASE WHEN doc_id >= 300 AND doc_id < 360
                            THEN n_chars + 1000 ELSE n_chars END AS n_chars
                FROM documents
            )
            SELECT doc_id, text,
                   CASE WHEN n_chars > 1400 THEN 'jumbo' ELSE lang END
                       AS lang,
                   source, n_chars
            FROM pass1
        """,
        "versioned_update": """
            WITH pass1 AS (
                SELECT doc_id, text,
                       CASE WHEN source = 'src7' THEN 'boosted'
                            ELSE lang END AS lang,
                       source,
                       CASE WHEN source = 'src7' THEN n_chars * 2 + 1
                            ELSE n_chars END AS n_chars
                FROM documents
            )
            SELECT doc_id, text,
                   CASE WHEN n_chars > 800 AND lang = 'boosted'
                        THEN 'jumbo' ELSE lang END AS lang,
                   source, n_chars
            FROM pass1
        """,
        "versioned_history": """
            SELECT 1 AS version, 'append' AS operation,
                   (SELECT COUNT(*) FROM documents WHERE doc_id % 2 = 0)
                       AS n_rows
            UNION ALL
            SELECT 2, 'append', (SELECT COUNT(*) FROM documents)
            UNION ALL
            SELECT 3, 'merge', (SELECT COUNT(*) FROM documents)
            UNION ALL
            SELECT 4, 'restore', (SELECT COUNT(*) FROM documents)
        """,
        "versioned_restore": """
            WITH base AS (SELECT doc_id, text, lang, source, n_chars
                          FROM documents WHERE doc_id % 5 != 0),
            good AS (SELECT doc_id, UPPER(text) AS text, 'good' AS lang,
                            source, n_chars
                     FROM documents WHERE doc_id % 6 = 0)
            SELECT b.doc_id, b.text, b.lang, b.source, b.n_chars
            FROM base b
            WHERE b.doc_id NOT IN (SELECT doc_id FROM good)
            UNION ALL
            SELECT doc_id, text, lang, source, n_chars FROM good
        """,
        "versioned_clone": """
            WITH ups AS (SELECT doc_id, text, 'cloned' AS lang,
                                source, n_chars
                         FROM documents WHERE doc_id % 5 = 0),
            dels AS (SELECT doc_id FROM documents
                     WHERE doc_id % 11 = 0 AND doc_id % 5 != 0)
            SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
            FROM documents d
            WHERE d.doc_id % 5 != 0
              AND d.doc_id NOT IN (SELECT doc_id FROM dels)
            UNION ALL
            SELECT doc_id, text, lang, source, n_chars FROM ups
        """,
        "versioned_merge_schema": """
            WITH target AS (SELECT doc_id, text, lang, source, n_chars
                            FROM documents WHERE doc_id % 3 != 0),
            ups AS (SELECT doc_id, UPPER(text) AS text, 'ev' AS lang,
                           source, n_chars,
                           CAST(n_chars * 2 AS BIGINT) AS score
                    FROM documents WHERE doc_id % 4 = 0)
            SELECT t.doc_id, t.text, t.lang, t.source, t.n_chars,
                   CAST(NULL AS BIGINT) AS score
            FROM target t
            WHERE t.doc_id NOT IN (SELECT doc_id FROM ups)
            UNION ALL
            SELECT doc_id, text, lang, source, n_chars, score FROM ups
        """,
        "pmi_pairs": sql_pmi_pairs(min_count=5, k=50),
        "langid_confusion": f"""
            WITH h AS (SELECT doc_id, lang AS lang_label,
                   {", ".join(f'{_lang_hits_sql(lang)} AS h_{lang}' for lang in langs)}
                       FROM documents),
            pred AS (SELECT lang_label,
                            CASE WHEN {max_hits} > 0 THEN {winner}
                                 ELSE 'und' END AS lang_pred
                     FROM h),
            cell AS (SELECT lang_label, lang_pred, COUNT(*) AS n_docs
                     FROM pred GROUP BY 1, 2),
            tot AS (SELECT lang_label, CAST(SUM(n_docs) AS BIGINT) AS n_label
                    FROM cell GROUP BY 1)
            SELECT lang_label, lang_pred, CAST(n_docs AS BIGINT) AS n_docs,
                   n_label,
                   CAST(n_docs AS DOUBLE) / CAST(n_label AS DOUBLE) AS rate
            FROM cell JOIN tot USING (lang_label)
        """,
        "sq8_codes": sql_sq8_codes(d=64),
        "knn_hamming": sql_knn_hamming(),
        "matryoshka_recall": sql_recall_at_k(sql_knn_bruteforce(
            10, 5,
            src="(SELECT vec_id, embedding[1:16] AS embedding FROM embeddings)",
        ), 10, 5),
        "versioned_compact_zorder": """
            SELECT doc_id, text, lang, source, n_chars FROM documents
        """,
        "hamming_recall": sql_recall_at_k(sql_knn_hamming(10, 5, 64), 10, 5),
        "knn_hamming_rerank": sql_knn_hamming_rerank(),
        "hamming_rerank_recall": sql_recall_at_k(
            sql_knn_hamming_rerank(10, 5, 20, 64), 10, 5),
        "stream_binary_codes": sql_binary_sign_codes(d=64),
        "knn_sq8": sql_knn_sq8(n_queries=10, k=5, d=64),
        "stream_sq8_codes": sql_sq8_codes(d=64),
        "sq8_recall": sql_recall_at_k(
            sql_knn_sq8(n_queries=10, k=5, d=64), 10, 5),
        "doremi_mixture": sql_doremi_mixture(n_rounds=3),
        "bpe_coverage": sql_bpe_coverage(n_merges=3),
        "packing_efficiency": sql_packing_efficiency(budget=512),
        "length_bucketed_packing": sql_length_bucketed_packing(
            n_length_buckets=4, batch_tokens=2048),
        "trigram_backoff": sql_trigram_backoff_score(),
        "stream_trigram_backoff": sql_trigram_backoff_score(),
        "source_tv_distance": sql_source_tv_distance(),
        "tfidf_cosine_pairs": sql_tfidf_cosine_pairs(tau=0.6),
        "intradoc_dedup": sql_intradoc_dedup(width=2),
        "bpe_apply": sql_bpe_apply(n_merges=3),
        "filter_audit": sql_filter_audit(),
        "dedup_source_matrix": f"""
            WITH {_sql_doc_shingles()},
            {_sql_minhash_sig()},
            {_sql_lsh_pairs(0.25)},
            vp AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.25)
            SELECT LEAST(da.source, db.source) AS src_lo,
                   GREATEST(da.source, db.source) AS src_hi,
                   COUNT(*) AS n_pairs
            FROM vp
            JOIN documents da ON da.doc_id = vp.doc_a
            JOIN documents db ON db.doc_id = vp.doc_b
            GROUP BY 1, 2
        """,
        "bigram_predictability": sql_bigram_predictability(),
        "semdedup": sql_semdedup(n_centroids=8, tau=0.4),
        "ivfpq_recall": sql_recall_at_k(
            sql_knn_ivfpq(n_queries=10, k=5), 10, 5),
        "ivfpq_upsert": sql_ivfpq_codes(),
        "perceptron_train": sql_perceptron_train(
            n_buckets=64, n_rounds=3),
        "perceptron_score": sql_perceptron_score(
            n_buckets=64, n_rounds=3),
        "stream_ivfpq_upsert": sql_ivfpq_codes(),
        "knn_ivfpq_served": sql_knn_ivfpq(
            n_queries=10, k=5, n_coarse=8, nprobe=2),
        "knn_refine": sql_knn_refine(n_queries=10, k=5, shortlist=20),
        "stream_minhash_sigs": minhash_sig_sql,
        "minhash_sigs": f"""
            WITH {_sql_doc_shingles()},
            {_sql_minhash_sig()}
            SELECT * FROM sig
        """,
        "dedup_keep_best": f"""
            WITH RECURSIVE {_sql_doc_shingles()},
            {_sql_minhash_sig()},
            {_sql_lsh_pairs(0.25)},
            pairs AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.25),
            edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                      UNION SELECT doc_b, doc_a FROM pairs),
            nodes AS (SELECT DISTINCT a AS v FROM edges),
            walk(v, r) AS (
                SELECT v, v FROM nodes
                UNION
                SELECT e.a, w.r FROM edges e JOIN walk w ON e.b = w.v),
            comp AS (SELECT v AS doc_id, MIN(r) AS cluster_id
                     FROM walk GROUP BY v),
            labeled AS (
                SELECT d.doc_id, d.n_chars,
                       COALESCE(c.cluster_id, d.doc_id) AS cluster_id
                FROM documents d LEFT JOIN comp c USING (doc_id)),
            csz AS (SELECT cluster_id, COUNT(*) AS cluster_size
                    FROM labeled GROUP BY cluster_id),
            ranked AS (
                SELECT l.cluster_id, l.doc_id, l.n_chars, s.cluster_size,
                       ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                           ORDER BY l.n_chars DESC, l.doc_id ASC) AS rn
                FROM labeled l JOIN csz s USING (cluster_id))
            SELECT cluster_id, doc_id AS survivor_doc_id,
                   CAST(cluster_size AS BIGINT) AS cluster_size, n_chars
            FROM ranked WHERE rn = 1
        """,
        "temperature_mixture": sql_temperature_mixture(total_target=1000),
        "stream_pq_codes": sql_pq_codes(m=8, ksub=16, d=64),
        "pq_dedup_groups": sql_pq_dedup_groups(m=8, ksub=16, d=64, block_m=4),
        "bpe_merge_pairs": sql_bpe_merge_pairs(k=20),
        "bpe_train": sql_bpe_train(n_merges=3),
        "ann_recall": sql_recall_at_k(sql_knn_lsh(10, 3, 6), 10, 3),
        "pq_codes": sql_pq_codes(m=8, ksub=16, d=64),
        "dedup_pair_recall": f"""
            WITH {_sql_doc_shingles()},
            {_sql_minhash_sig()},
            {_sql_lsh_pairs(0.25)},
            allp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                            COUNT(*) AS n_common
                     FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
                     GROUP BY 1, 2),
            tp AS (SELECT p.doc_a, p.doc_b
                   FROM allp p
                   JOIN sizes za ON za.doc_id = p.doc_a
                   JOIN sizes zb ON zb.doc_id = p.doc_b
                   WHERE CAST(p.n_common AS DOUBLE)
                             / CAST(za.n + zb.n - p.n_common AS DOUBLE)
                         >= 0.25),
            hit AS (SELECT c.doc_a, c.doc_b
                    FROM cand c JOIN tp USING (doc_a, doc_b)),
            counts AS (SELECT (SELECT COUNT(*) FROM tp) AS n_true,
                              (SELECT COUNT(*) FROM cand) AS n_cand,
                              (SELECT COUNT(*) FROM hit) AS n_hit)
            SELECT n_true, n_cand, n_hit,
                   CASE WHEN n_cand > 0 THEN
                       CAST(n_hit AS DOUBLE) / CAST(n_cand AS DOUBLE)
                   END AS pair_precision,
                   CASE WHEN n_true > 0 THEN
                       CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE)
                   END AS pair_recall
            FROM counts
        """,
        "knn_pq_adc": sql_knn_pq_adc(n_queries=10, k=5),
        "knn_ivfpq": sql_knn_ivfpq(
            n_queries=10, k=5, n_coarse=8, nprobe=2, m=8, ksub=16, d=64
        ),
        "bm25_topk": sql_bm25_topk(BM25_TERMS, k=10),
        "train_val_split": sql_train_val_split(val_pct=1, test_pct=1),
        "epoch_shuffle": sql_epoch_shuffle(n_epochs=2, n_shards=4),
        "cms_token_counts": sql_cms_token_counts(k=20),
        "stream_c4_quality": sql_c4_quality(),
        "gopher_repetition_full": sql_gopher_repetition_full(),
        "c4_quality": sql_c4_quality(),
        "hashed_ngram_features": sql_hashed_ngram_features(),
        "dsir_score": sql_dsir_score(),
        "ngram_novelty": sql_ngram_novelty(),
        "source_overlap": sql_source_overlap(),
        "heavy_hitters": sql_heavy_hitters(k=30),
        "substring_dups": sql_substring_dups(n=20, w=8),
        "substring_dup_spans": sql_substring_dup_spans(
            n=20, w=8, max_occurrences=50),
        "substring_dedup_apply": sql_substring_dedup_apply(
            n=20, w=8, max_occurrences=50),
        "inverted_index": sql_inverted_index(max_postings=1000),
        "doc_chunks": sql_chunk_documents(budget=64, overlap=16),
        "stream_gopher_quality": sql_gopher_quality(),
        "gopher_repetition": sql_gopher_repetition(),
        "gopher_quality": sql_gopher_quality(),
        "pack_sequences": sql_pack_sequences(budget=512),
        "mixture_sample": sql_mixture_sample(),
        "dedup_exact": """
            SELECT md5(lower(trim(text))) AS fingerprint,
                   MIN(doc_id) AS canonical_doc_id,
                   COUNT(*) AS n_copies
            FROM documents GROUP BY 1
        """,
        "dedup_minhash_lsh": f"""
            WITH {_sql_doc_shingles()},
            {_sql_minhash_sig()},
            {_sql_lsh_pairs(0.25)}
            SELECT doc_a, doc_b, n_common, n_a, n_b, jaccard
            FROM jac WHERE jaccard >= 0.25
        """,
        "incremental_dedup": f"""
            WITH {_sql_doc_shingles()},
            {_sql_minhash_sig()},
            {_sql_lsh_pairs(0.25)}
            SELECT CASE WHEN doc_a % 5 = 0 THEN doc_a ELSE doc_b END
                       AS doc_new,
                   CASE WHEN doc_a % 5 = 0 THEN doc_b ELSE doc_a END
                       AS doc_corpus,
                   jaccard
            FROM jac
            WHERE jaccard >= 0.25
              AND (doc_a % 5 = 0) <> (doc_b % 5 = 0)
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE {_sql_doc_shingles()},
            {_sql_minhash_sig()},
            {_sql_lsh_pairs(0.25)},
            pairs AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.25),
            edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                      UNION SELECT doc_b, doc_a FROM pairs),
            nodes AS (SELECT DISTINCT a AS v FROM edges),
            walk(v, r) AS (
                SELECT v, v FROM nodes
                UNION
                SELECT e.a, w.r FROM edges e JOIN walk w ON e.b = w.v),
            comp AS (SELECT v AS doc_id, MIN(r) AS cluster_id
                     FROM walk GROUP BY v)
            SELECT c.doc_id, c.cluster_id, s.cluster_size
            FROM comp c
            JOIN (SELECT cluster_id, COUNT(*) AS cluster_size
                  FROM comp GROUP BY cluster_id) s USING (cluster_id)
        """,
        "ngram_jaccard_pairs": f"""
            WITH {_sql_doc_shingles()},
            cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                     FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
            inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
                      FROM cand c
                      JOIN sh sa ON sa.doc_id = c.doc_a
                      JOIN sh sb ON sb.doc_id = c.doc_b AND sa.h = sb.h
                      GROUP BY c.doc_a, c.doc_b)
            SELECT c.doc_a, c.doc_b, i.n_common, za.n AS n_a, zb.n AS n_b,
                   CAST(i.n_common AS DOUBLE)
                       / CAST(za.n + zb.n - i.n_common AS DOUBLE) AS jaccard
            FROM cand c
            JOIN inter i USING (doc_a, doc_b)
            JOIN sizes za ON za.doc_id = c.doc_a
            JOIN sizes zb ON zb.doc_id = c.doc_b
            WHERE CAST(i.n_common AS DOUBLE)
                      / CAST(za.n + zb.n - i.n_common AS DOUBLE) >= 0.25
        """,
        "containment_pairs": f"""
            WITH {_sql_doc_shingles()},
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                             COUNT(*) AS n_common
                      FROM sh a JOIN sh b
                        ON a.h = b.h AND a.doc_id < b.doc_id
                      GROUP BY 1, 2)
            SELECT doc_a, doc_b, n_common, za.n AS n_a, zb.n AS n_b,
                   CAST(n_common AS DOUBLE)
                       / CAST(LEAST(za.n, zb.n) AS DOUBLE) AS containment
            FROM inter
            JOIN sizes za ON za.doc_id = doc_a
            JOIN sizes zb ON zb.doc_id = doc_b
            WHERE CAST(n_common AS DOUBLE)
                      / CAST(LEAST(za.n, zb.n) AS DOUBLE) >= 0.4
        """,
        "simhash_fingerprint": sql_simhash(bits=32),
        "knn_range_search": sql_range_search(n_queries=10, tau=0.25),
        "knn_bruteforce": sql_knn_bruteforce(10, 5),
        "ann_lsh_buckets": f"""
            SELECT vec_id, label,
                   CAST({sql_lsh_bucket('embedding', 6)} AS BIGINT) AS bucket
            FROM embeddings
        """,
        "knn_lsh": sql_knn_lsh(10, 3, 6),
        "knn_lsh_multiprobe": f"""
            WITH b AS (SELECT vec_id, embedding,
                              {sql_lsh_bucket('embedding', 6)} AS bucket
                       FROM embeddings),
            q AS (SELECT vec_id AS query_id, embedding AS q_emb,
                         unnest([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4), xor(bucket, 8), xor(bucket, 16), xor(bucket, 32)]) AS bucket
                  FROM b WHERE vec_id < 10),
            cand AS (SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id,
                            q.q_emb, c.embedding AS c_emb
                     FROM b c JOIN q ON c.bucket = q.bucket
                     WHERE c.vec_id != q.query_id),
            scored AS (SELECT query_id, neighbor_id,
                              {sql_cosine('q_emb', 'c_emb')} AS cosine
                       FROM cand),
            ranked AS (SELECT *, ROW_NUMBER() OVER (
                           PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id ASC) AS rank
                       FROM scored)
            SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
            FROM ranked WHERE rank <= 3
        """,
        "ivf_assign": f"""
            WITH cents AS (SELECT vec_id AS centroid_id, embedding AS c_emb
                           FROM embeddings WHERE vec_id < 8),
            scored AS (SELECT e.vec_id, c.centroid_id,
                              {sql_cosine('e.embedding', 'c.c_emb')} AS cos
                       FROM embeddings e CROSS JOIN cents c),
            ranked AS (SELECT *, ROW_NUMBER() OVER (
                           PARTITION BY vec_id
                           ORDER BY cos DESC, centroid_id ASC) AS rnk
                       FROM scored)
            SELECT vec_id, centroid_id, cos AS centroid_cosine
            FROM ranked WHERE rnk = 1
        """,
"stream_ivf_assign": f"""
            WITH cents AS (SELECT vec_id AS centroid_id, embedding AS c_emb
                           FROM embeddings WHERE vec_id < 8),
            scored AS (SELECT e.vec_id, c.centroid_id,
                              {sql_cosine('e.embedding', 'c.c_emb')} AS cos
                       FROM embeddings e CROSS JOIN cents c),
            ranked AS (SELECT *, ROW_NUMBER() OVER (
                           PARTITION BY vec_id
                           ORDER BY cos DESC, centroid_id ASC) AS rnk
                       FROM scored)
            SELECT vec_id, centroid_id, cos AS centroid_cosine
            FROM ranked WHERE rnk = 1
        """,
        "ivf_kmeans_assign": _ivf_kmeans_sql(n_centroids=8, n_iter=4),
        "knn_ivf": f"""
            WITH cents AS (SELECT vec_id AS centroid_id, embedding AS c_emb
                           FROM embeddings WHERE vec_id < 8),
            assign AS (SELECT vec_id, centroid_id FROM (
                           SELECT e.vec_id, c.centroid_id,
                                  ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY {sql_cosine('e.embedding', 'c.c_emb')} DESC,
                                               c.centroid_id ASC) AS rnk
                           FROM embeddings e CROSS JOIN cents c)
                       WHERE rnk = 1),
            q AS (SELECT vec_id AS query_id, embedding AS q_emb
                  FROM embeddings WHERE vec_id < 10),
            probes AS (SELECT query_id, q_emb, centroid_id FROM (
                           SELECT q.query_id, q.q_emb, c.centroid_id,
                                  ROW_NUMBER() OVER (PARTITION BY q.query_id
                                      ORDER BY {sql_cosine('q.q_emb', 'c.c_emb')} DESC,
                                               c.centroid_id ASC) AS rnk
                           FROM q CROSS JOIN cents c)
                       WHERE rnk <= 2),
            cands AS (SELECT p.query_id, e.vec_id,
                             {sql_cosine('p.q_emb', 'e.embedding')} AS cos
                      FROM assign a
                      JOIN embeddings e ON e.vec_id = a.vec_id
                      JOIN probes p ON p.centroid_id = a.centroid_id
                      WHERE e.vec_id != p.query_id),
            ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY cos DESC, vec_id ASC) AS rank
                       FROM cands)
            SELECT query_id, vec_id AS neighbor_id,
                   CAST(rank AS BIGINT) AS rank, cos AS cosine
            FROM ranked WHERE rank <= 3
        """,
        "embedding_dedup": f"""
            WITH b AS (SELECT vec_id, embedding,
                              {sql_lsh_bucket('embedding', 6)} AS bucket
                       FROM embeddings)
            SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
                   {sql_cosine('a.embedding', 'c.embedding')} AS cosine
            FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
            WHERE {sql_cosine('a.embedding', 'c.embedding')} >= 0.35
        """,
        "top_terms_per_source": """
            WITH terms AS (
                SELECT source, doc_id,
                       unnest(string_split_regex(lower(trim(text)), ' +')) AS term
                FROM documents),
            tf AS (SELECT source, term, COUNT(*) AS tf,
                          COUNT(DISTINCT doc_id) AS df_in_source
                   FROM terms GROUP BY source, term)
            SELECT source, term, tf, df_in_source, CAST(rank AS BIGINT) AS rank
            FROM (SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY source ORDER BY tf DESC, term ASC) AS rank
                  FROM tf)
            WHERE rank <= 10
        """,
        "repetition_stats": f"""
            WITH words AS (SELECT doc_id,
                                  string_split_regex(lower(trim(text)), ' +') AS w
                           FROM documents),
            sh AS (SELECT doc_id, unnest({sql_shingles('w', 3)}) AS s FROM words),
            per AS (SELECT doc_id, s, COUNT(*) AS c FROM sh GROUP BY doc_id, s),
            agg AS (SELECT doc_id, SUM(c) AS n_shingles, MAX(c) AS top_shingle_count,
                           COUNT(*) AS n_distinct_shingles
                    FROM per GROUP BY doc_id)
            SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
                   CAST(top_shingle_count AS BIGINT) AS top_shingle_count,
                   n_distinct_shingles,
                   CAST(top_shingle_count AS DOUBLE) / CAST(n_shingles AS DOUBLE)
                       AS top_shingle_ratio,
                   1.0 - CAST(n_distinct_shingles AS DOUBLE)
                       / CAST(n_shingles AS DOUBLE) AS dup_shingle_ratio
            FROM agg
        """,
        "weighted_sample": f"""
            WITH pri AS (
                SELECT doc_id, source,
                       len(string_split_regex(lower(trim(text)), ' +'))
                           AS weight,
                       CAST({sql_stable_hash60('text')} AS DOUBLE)
                           / CAST(len(string_split_regex(lower(trim(text)),
                                                         ' +')) AS DOUBLE)
                           AS priority
                FROM documents)
            SELECT doc_id, source, weight, priority,
                   CAST(ROW_NUMBER() OVER (ORDER BY priority, doc_id)
                        AS BIGINT) AS rank
            FROM pri
            ORDER BY priority, doc_id
            LIMIT 50
        """,
        "stratified_sample": f"""
            SELECT doc_id, source,
                   CAST(100 + (CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) % 5)
                        * 150 AS INT) AS rate_permille
            FROM documents
            WHERE {sql_stable_hash60('text')} % 1000
                  < 100 + (CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) % 5) * 150
        """,
        "text_stats": """
            WITH w AS (SELECT doc_id, length(text) AS n_chars,
                              string_split_regex(lower(trim(text)), ' +') AS words
                       FROM documents)
            SELECT doc_id, n_chars,
                   len(words) AS n_words,
                   len(list_distinct(words)) AS n_unique_words,
                   CAST(len(list_distinct(words)) AS DOUBLE)
                       / CAST(len(words) AS DOUBLE) AS type_token_ratio,
                   CAST(list_reduce(list_transform(words, x -> length(x)),
                                    (a, b) -> a + b) AS DOUBLE)
                       / CAST(len(words) AS DOUBLE) AS avg_word_len
            FROM w
        """,
        "quality_score": f"""
            WITH w AS (SELECT doc_id, text,
                              string_split_regex(lower(trim(text)), ' +') AS words
                       FROM documents),
            c AS (SELECT doc_id, text, len(words) AS n_words,
                         len(list_filter(words, x -> list_contains(
                             [{', '.join(repr(s) for s in LANG_STOPWORDS['en'])}], x)))
                             AS n_stopwords,
                         length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
                             AS n_punct,
                         length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                             AS n_digit
                  FROM w)
            SELECT doc_id, n_words, n_stopwords,
                   CAST(n_stopwords AS DOUBLE) / CAST(n_words AS DOUBLE)
                       AS stopword_ratio,
                   CAST(n_punct AS DOUBLE) / CAST(length(text) AS DOUBLE)
                       AS punct_ratio,
                   CAST(n_digit AS DOUBLE) / CAST(length(text) AS DOUBLE)
                       AS digit_ratio,
                   100.0 * (0.5 * LEAST(CAST(n_stopwords AS DOUBLE)
                                        / CAST(n_words AS DOUBLE) * 5, 1.0)
                          + 0.25 * (1.0 - LEAST(CAST(n_punct AS DOUBLE)
                                        / CAST(length(text) AS DOUBLE) * 10, 1.0))
                          + 0.25 * (1.0 - LEAST(CAST(n_digit AS DOUBLE)
                                        / CAST(length(text) AS DOUBLE) * 10, 1.0)))
                       AS quality_score
            FROM c
        """,
        "lang_id": f"""
            WITH h AS (SELECT doc_id, lang AS lang_label,
                   {", ".join(f'{_lang_hits_sql(lang)} AS h_{lang}' for lang in langs)}
                       FROM documents)
            SELECT doc_id,
                   CASE WHEN {max_hits} > 0 THEN {winner} ELSE 'und' END AS lang_pred,
                   CAST({max_hits} AS INT) AS n_hits,
                   lang_label
            FROM h
        """,
        "token_counts": f"""
            SELECT doc_id,
                   len(string_split_regex(lower(trim(text)), ' +')) AS n_ws_tokens,
                   len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS n_bpe_tokens,
                   CAST(length(text) AS DOUBLE) / 4.0 AS n_tok_est
            FROM documents
        """,
        "doc_fingerprints": f"""
            WITH w AS (SELECT doc_id, lower(trim(text)) AS norm,
                              string_split_regex(lower(trim(text)), ' +') AS wds
                       FROM documents)
            SELECT doc_id, md5(norm) AS md5_fingerprint,
                   list_min(list_transform(({sql_shingles('wds', 3)})[1:8],
                                           s -> md5(s))) AS winnow_fingerprint,
                   {sql_stable_hash60('norm')} AS hash60
            FROM w
        """,
        "decontaminate": f"""
            WITH words AS (SELECT doc_id,
                                  string_split_regex(lower(trim(text)), ' +') AS w
                           FROM documents),
            cg AS (SELECT DISTINCT doc_id, {sql_stable_hash60('g')} AS h
                   FROM (SELECT doc_id, unnest({sql_shingles('w', 8)}) AS g
                         FROM words)),
            bg AS (SELECT DISTINCT doc_id AS bench_id, {sql_stable_hash60('g')} AS h
                   FROM (SELECT doc_id, unnest({sql_shingles('w', 8)}) AS g
                         FROM words WHERE doc_id < 20))
            SELECT cg.doc_id, bg.bench_id, COUNT(*) AS n_collisions
            FROM cg JOIN bg ON cg.h = bg.h
            GROUP BY cg.doc_id, bg.bench_id
        """,
        "redact_pii": """
            WITH pii AS (SELECT doc_id,
                                text || ' contact user' || CAST(doc_id AS VARCHAR)
                                     || '@mail.com ref '
                                     || CAST(doc_id * 7 AS VARCHAR) AS text
                         FROM documents)
            SELECT doc_id,
                   regexp_replace(
                       regexp_replace(text, '[a-zA-Z0-9.]+@[a-zA-Z0-9.]+',
                                      '<EMAIL>', 'g'),
                       '[0-9]+', '<NUM>', 'g') AS clean_text,
                   CAST(len(regexp_extract_all(text, '[a-zA-Z0-9.]+@[a-zA-Z0-9.]+'))
                        AS BIGINT) AS n_emails_redacted,
                   CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT)
                       AS n_numbers_redacted
            FROM pii
        """,
        "pipeline_end_to_end": f"""
            WITH kept AS (
                SELECT *, CAST(len(string_split_regex(lower(trim(text)), ' +'))
                               AS BIGINT) AS n_words
                FROM documents
                WHERE len(string_split_regex(lower(trim(text)), ' +')) >= 40),
            canon AS (
                SELECT * FROM (
                    SELECT *, ROW_NUMBER() OVER (
                        PARTITION BY md5(lower(trim(text)))
                        ORDER BY doc_id) AS rn
                    FROM kept)
                WHERE rn = 1),
            {_sql_doc_shingles('canon')},
            {_sql_minhash_sig()},
            {_sql_lsh_pairs(0.5)},
            dropped AS (SELECT DISTINCT doc_b AS doc_id FROM jac
                        WHERE jaccard >= 0.5),
            survivors AS (SELECT * FROM canon
                          WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
            sampled AS (
                SELECT * FROM survivors
                WHERE {sql_stable_hash60('text')} % 1000
                      < 100 + (CAST(regexp_extract(source, '([0-9]+)', 1) AS INT)
                               % 5) * 150)
            SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_words) AS BIGINT) AS sum_words,
                   MIN(doc_id) AS min_doc_id
            FROM sampled GROUP BY source
        """,
        "multimodal_meta": """
            SELECT doc_id,
                   strlen(text) AS n_bytes,
                   CASE strlen(text) % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                        ELSE 'webp' END AS format,
                   CAST((ascii(substr(text, 1, 1)) % 64 + 1) * 10 AS INT) AS width,
                   CAST((ascii(substr(text, 2, 1)) % 64 + 1) * 10 AS INT) AS height,
                   (strlen(text) * 2654435761) % 2147483647 AS checksum
            FROM documents
        """,
        "frame_sample": """
            SELECT doc_id, n_frames,
                   unnest(range(0, CAST(n_frames AS BIGINT), 10)) AS frame_idx
            FROM (SELECT doc_id, strlen(text) % 100 + 1 AS n_frames
                  FROM documents)
        """,
        # Spark genuinely builds binary payloads and parses their headers;
        # the oracle recomputes the synthesis closed form (both fixture
        # layouts are exactly 45 bytes -- see synth_image_payload).
        "multimodal_decode": """
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
                   CAST(16 + doc_id % 1009 AS INT) AS width,
                   CAST(16 + (doc_id * 7) % 997 AS INT) AS height,
                   CAST(45 AS BIGINT) AS n_bytes
            FROM documents
        """,
        "multimodal_pixels": """
            WITH dims AS (
                SELECT doc_id,
                       CAST(4 + doc_id % 5 AS INT) AS w,
                       CAST(3 + doc_id % 4 AS INT) AS h
                FROM documents),
            px AS (
                SELECT d.doc_id, d.w, d.h, c.c,
                       (d.doc_id + 3 * x.x + 7 * y.y + 11 * c.c) % 256 AS v
                FROM dims d
                CROSS JOIN LATERAL unnest(range(0, d.w)) AS x(x)
                CROSS JOIN LATERAL unnest(range(0, d.h)) AS y(y)
                CROSS JOIN LATERAL unnest(range(0, 3)) AS c(c))
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'bmp' END AS fmt,
                   w AS width, h AS height, CAST(c AS INT) AS channel,
                   COUNT(*) AS n_px, CAST(SUM(v) AS BIGINT) AS sum_val,
                   CAST(MIN(v) AS INT) AS min_val,
                   CAST(MAX(v) AS INT) AS max_val
            FROM px GROUP BY doc_id, w, h, c
        """,
        "multimodal_audio": """
            SELECT doc_id, 'pcm_wav' AS codec,
                   CAST(1 + doc_id % 2 AS INT) AS channels,
                   CAST(8000 * (1 + doc_id % 3) AS INT) AS sample_rate,
                   CAST(16 AS INT) AS bits_per_sample,
                   CAST(1000 + doc_id % 997 AS BIGINT) AS data_bytes
            FROM documents
        """,
        "multimodal_video": """
            SELECT doc_id, 'mp4' AS container,
                   CAST(1000 * (1 + doc_id % 4) AS INT) AS timescale,
                   CAST(10000 + doc_id % 9001 AS BIGINT) AS duration,
                   CAST(3 AS INT) AS n_boxes
            FROM documents
        """,
        # stateless streaming decode emits exactly the batch result
        "stream_multimodal_decode": """
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
                   CAST(16 + doc_id % 1009 AS INT) AS width,
                   CAST(16 + (doc_id * 7) % 997 AS INT) AS height,
                   CAST(45 AS BIGINT) AS n_bytes
            FROM documents
        """,
        "token_rarity": _sql_token_rarity(),
        "tfidf_top_terms": _sql_tfidf_top_terms(),
        # Bloom prefilter is exact-equivalent to the plain path (no false
        # negatives + exact verification join) -- same oracle by design.
        "bloom_decontaminate": f"""
            WITH words AS (SELECT doc_id,
                                  string_split_regex(lower(trim(text)), ' +') AS w
                           FROM documents),
            cg AS (SELECT DISTINCT doc_id, {sql_stable_hash60('g')} AS h
                   FROM (SELECT doc_id, unnest({sql_shingles('w', 8)}) AS g
                         FROM words)),
            bg AS (SELECT DISTINCT doc_id AS bench_id, {sql_stable_hash60('g')} AS h
                   FROM (SELECT doc_id, unnest({sql_shingles('w', 8)}) AS g
                         FROM words WHERE doc_id < 20))
            SELECT cg.doc_id, bg.bench_id, COUNT(*) AS n_collisions
            FROM cg JOIN bg ON cg.h = bg.h
            GROUP BY cg.doc_id, bg.bench_id
        """,
        "embedding_covariance": _sql_embedding_covariance(),
        "rp_project": sql_rp_project(k=16, d=64, seed=7),
        "line_dedup": sql_line_dedup(width=10),
        "embedding_dedup_clusters": f"""
            WITH RECURSIVE b AS (
                SELECT vec_id, embedding,
                       {sql_lsh_bucket('embedding', 6)} AS bucket
                FROM embeddings),
            pairs AS (
                SELECT a.vec_id AS va, c.vec_id AS vb
                FROM b a JOIN b c
                  ON a.bucket = c.bucket AND a.vec_id < c.vec_id
                WHERE {sql_cosine('a.embedding', 'c.embedding')} >= 0.35),
            edges AS (SELECT va AS a, vb AS b FROM pairs
                      UNION SELECT vb, va FROM pairs),
            nodes AS (SELECT DISTINCT a AS v FROM edges),
            walk(v, r) AS (
                SELECT v, v FROM nodes
                UNION
                SELECT e.a, w.r FROM edges e JOIN walk w ON e.b = w.v)
            SELECT v AS vec_id, MIN(r) AS cluster_id FROM walk GROUP BY v
        """,
        "approx_quality_stratified": """
            SELECT CAST(range AS BIGINT) AS stratum,
                   CAST(5 AS BIGINT) AS n_kept,
                   TRUE AS depth_ok,
                   TRUE AS monotone_ok
            FROM range(1, 11)
        """,
        "quality_stratified_sample": f"""
            WITH toks AS (
                SELECT doc_id,
                       unnest(string_split_regex(lower(trim(text)), ' +')) AS tok
                FROM documents),
            vocab AS (SELECT tok, COUNT(*) AS freq FROM toks GROUP BY tok),
            rare AS (
                SELECT t.doc_id,
                       CAST(CAST(SUM(v.freq) AS BIGINT) AS DOUBLE) / COUNT(*)
                           AS mean_tok_freq
                FROM toks t JOIN vocab v USING (tok)
                GROUP BY t.doc_id),
            strata AS (
                SELECT r.doc_id, r.mean_tok_freq, d.text,
                       CAST(NTILE(10) OVER (ORDER BY r.mean_tok_freq ASC,
                                            r.doc_id ASC) AS BIGINT)
                           AS stratum
                FROM rare r JOIN documents d USING (doc_id))
            SELECT doc_id, stratum, mean_tok_freq FROM (
                SELECT *, ROW_NUMBER() OVER (
                           PARTITION BY stratum
                           ORDER BY {sql_stable_hash60('text')} ASC,
                                    doc_id ASC) AS rk
                FROM strata)
            WHERE rk <= 5
        """,
        # contract oracle: Bessel's inequality holds for every vector under
        # any orthonormal projection -- the oracle asserts the invariant,
        # the Spark side computes it (same pattern as cardinality_sketch /
        # quantile_sketch).
        "pca_project": """
            SELECT vec_id, CAST(8 AS INT) AS n_components,
                   TRUE AS bessel_ok
            FROM embeddings
        """,
    }
    out["stream_simhash"] = out["simhash_fingerprint"]
    out["stream_bpe_apply"] = out["bpe_apply"]
    out["stream_incremental_dedup"] = out["incremental_dedup"]
    out["stream_decontaminate"] = out["decontaminate"]
    out["stream_perceptron_score"] = out["perceptron_score"]
    return out
