"""Semantic tests for the LLM-pipeline operators on hand-built fixtures
(the oracle harness covers the driver tables; these pin the *semantics*)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from async_stream_processing_spark.llm.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_dedup_pairs,
    minhash_signatures,
    simhash,
)
from async_stream_processing_spark.llm.multimodal import (
    decode_image_header,
    decode_image_meta,
    decode_pixels,
    parse_image_header,
    synth_image_payload,
    with_binary_payload,
)
from async_stream_processing_spark.llm.similarity import knn_bruteforce, lsh_buckets
from async_stream_processing_spark.llm.text_analysis import lang_id, text_stats


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_exact_dedup_counts_copies(spark):
    df = _docs(spark, ["a b c", "a b c", "  A B C ", "x y z"])
    out = {r["canonical_doc_id"]: r["n_copies"] for r in exact_dedup(df).collect()}
    # normalization folds case/whitespace: docs 0,1,2 collapse
    assert out == {0: 3, 3: 1}


def test_minhash_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    near = base.replace("lazy", "sleepy")
    other = "completely different words everywhere nothing shared at all " * 3
    df = _docs(spark, [base, near, other])
    pairs = minhash_dedup_pairs(df, threshold=0.3).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [(0, 1)]
    assert 0.3 <= pairs[0]["jaccard"] < 1.0


def test_minhash_identical_docs_sign_equal(spark):
    df = _docs(spark, ["one two three four five", "one two three four five"])
    sigs = minhash_signatures(df).collect()
    s0 = [sigs[0][f"mh_{j}"] for j in range(16)]
    s1 = [sigs[1][f"mh_{j}"] for j in range(16)]
    assert s0 == s1
    cands = lsh_candidate_pairs(minhash_signatures(df)).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in cands] == [(0, 1)]


def test_simhash_similar_docs_close(spark):
    df = _docs(spark, [
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta eta iota",   # 1 token differs
        "qqq www eee rrr ttt yyy uuu iii",                # disjoint
    ])
    out = {r["doc_id"]: r["simhash"] for r in simhash(df, bits=32).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(out[0], out[1]) < ham(out[0], out[2])


def test_knn_bruteforce_orders_by_cosine(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),   # closest to 0
        (2, [0.0, 1.0, 0.0], 1),
        (3, [-1.0, 0.0, 0.0], 1),  # antipode
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = knn_bruteforce(df, n_queries=1, k=3).orderBy("rank").collect()
    assert [r["neighbor_id"] for r in out] == [1, 2, 3]
    assert out[0]["cosine"] == pytest.approx(0.9938, abs=1e-3)


def test_lsh_buckets_deterministic_and_sign_based(spark):
    rows = [
        (0, [1.0] * 8, 0),
        (1, [1.0] * 8, 0),      # identical -> same bucket
        (2, [-1.0] * 8, 1),     # negated -> complementary bucket
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r["vec_id"]: r["bucket"] for r in lsh_buckets(df, n_planes=4).collect()}
    assert out[0] == out[1]
    assert out[0] != out[2]


def test_text_stats_basic(spark):
    df = _docs(spark, ["aa bb aa"])
    r = text_stats(df).collect()[0]
    assert (r["n_words"], r["n_unique_words"]) == (3, 2)
    assert r["avg_word_len"] == 2.0
    assert r["type_token_ratio"] == pytest.approx(2 / 3)


def test_lang_id_votes_stopwords(spark):
    df = _docs(spark, [
        "the cat and the dog in a house",       # en
        "der hund und die katze ist nicht da",  # de
        "zz yy xx ww",                          # no hits -> und
    ])
    out = {r["doc_id"]: r["lang_pred"] for r in lang_id(df).collect()}
    assert out == {0: "en", 1: "de", 2: "und"}


def test_multimodal_stub_plumbing(spark):
    df = with_binary_payload(_docs(spark, ["hello world", "abc"]))
    assert dict(df.dtypes)["payload"] == "binary"
    out = {r["doc_id"]: r for r in decode_image_meta(df).collect()}
    assert out[0]["n_bytes"] == 11
    assert out[0]["width"] == (ord("h") % 64 + 1) * 10
    assert out[1]["format"] == "png"  # 3 bytes % 3 == 0
    # non-PPM/BMP payloads hit the import-gated Pillow seam at execute
    # time (decode is lazy mapInPandas now, not a driver-side raise)
    with pytest.raises(Exception, match="Pillow|PPM"):
        decode_pixels(df).collect()


def test_parse_image_header_formats():
    """Pure header-parse logic on handcrafted byte layouts."""
    import struct

    png = (
        b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
        + struct.pack(">II", 640, 480) + b"\x08\x06\x00\x00\x00" + b"\x00" * 4
    )
    assert parse_image_header(png) == ("png", 640, 480)

    # JPEG whose SOF0 sits behind APP0 + COM segments (the scan must walk)
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
        + b"\xff\xfe\x00\x07hello"                 # COM, len 7
        + b"\xff\xc2\x00\x11\x08" + struct.pack(">HH", 99, 1234)  # SOF2 (progressive)
        + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    )
    assert parse_image_header(jpeg) == ("jpeg", 1234, 99)

    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00\x00\x00"
    assert parse_image_header(gif) == ("gif", 320, 200)

    # DHT (C4) must NOT be mistaken for a SOF marker
    jpeg_dht_first = (
        b"\xff\xd8" + b"\xff\xc4\x00\x04\x00\x00"
        + b"\xff\xc0\x00\x11\x08" + struct.pack(">HH", 7, 8)
        + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    )
    assert parse_image_header(jpeg_dht_first) == ("jpeg", 8, 7)

    assert parse_image_header(None) == (None, None, None)
    assert parse_image_header(b"") == (None, None, None)
    assert parse_image_header(b"not an image") == (None, None, None)
    assert parse_image_header(b"\xff\xd8\xff\xe0") == ("jpeg", None, None)
    assert parse_image_header(b"\x89PNG\r\n\x1a\nshort") == (None, None, None)

    # 0xFF fill bytes pad before a marker (ITU T.81 B.1.1.2): a run of
    # 0xFF collapses to one marker, not a bogus 0xFF-length segment
    jpeg_fill = (
        b"\xff\xd8" + b"\xff\xff\xff"
        + b"\xc0\x00\x11\x08" + struct.pack(">HH", 33, 44)
        + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    )
    assert parse_image_header(jpeg_fill) == ("jpeg", 44, 33)

    # TEM (0x01) and RSTn (0xD0-0xD7) are standalone markers with no
    # length field: a 2-byte advance, not a seglen read
    jpeg_standalone = (
        b"\xff\xd8" + b"\xff\x01" + b"\xff\xd3"
        + b"\xff\xc0\x00\x11\x08" + struct.pack(">HH", 5, 6)
        + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    )
    assert parse_image_header(jpeg_standalone) == ("jpeg", 6, 5)

    # EOI ends the walk -- bytes after it are entropy tail, not segments
    assert parse_image_header(b"\xff\xd8\xff\xd9\xff\xc0garbage") == (
        "jpeg", None, None,
    )


def test_decode_image_header_null_payload(spark):
    """A null payload row decodes to all-null fields, not a crash."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    png = (
        b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
        + b"\x00\x00\x00\x08\x00\x00\x00\x09"
        + b"\x08\x06\x00\x00\x00" + b"\x00" * 4
    )
    df = spark.createDataFrame([(0, png), (1, None)], schema)
    out = {r["doc_id"]: r for r in decode_image_header(df).collect()}
    assert out[0]["format"] == "png" and out[0]["n_bytes"] == len(png)
    assert out[1]["format"] is None
    assert out[1]["width"] is None and out[1]["height"] is None
    assert out[1]["n_bytes"] is None


def test_synth_roundtrip_decode(spark):
    """synth_image_payload -> decode_image_header recovers the closed form."""
    docs = _docs(spark, ["a", "b", "c", "d"])
    out = {r["doc_id"]: r for r in
           decode_image_header(synth_image_payload(docs)).collect()}
    for did in range(4):
        r = out[did]
        assert r["format"] == ("png" if did % 2 == 0 else "jpeg")
        assert r["width"] == 16 + did % 1009
        assert r["height"] == 16 + (7 * did) % 997
        assert r["n_bytes"] == 45


def test_stop_shingle_filter_preserves_near_dup_detection(spark):
    """Boilerplate shingles shared by every doc are dropped; planted
    near-dups still pair on their rare shingles."""
    from async_stream_processing_spark.llm.dedup import (
        doc_shingle_hashes,
        jaccard_pairs_direct,
    )

    boiler = "standard header boilerplate text appears everywhere always "
    docs = _docs(spark, [
        boiler + "unique alpha beta gamma delta epsilon zeta eta " * 2,
        boiler + "unique alpha beta gamma delta epsilon zeta iota " * 2,
        boiler + "totally different payload nothing shared here at all",
        boiler + "another unrelated body of words for the corpus fine",
    ])
    sh_all = doc_shingle_hashes(docs)
    sh_filt = doc_shingle_hashes(docs, max_doc_ratio=0.9)
    assert sh_filt.count() < sh_all.count()  # boilerplate shingles dropped
    pairs = jaccard_pairs_direct(sh_filt, threshold=0.3).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [(0, 1)]


def test_ivf_recall_on_clustered_vectors(spark):
    """IVF probing on data with real cluster structure (the driver's random
    embeddings have none -- STATUS/SCALE note): plant 8 tight clusters,
    check recall@3 of knn_ivf vs knn_bruteforce.  Deterministic synthetic
    input (fixed seed), so this is a hard bound, not flaky."""
    import random
    from async_stream_processing_spark.llm.similarity import knn_bruteforce, knn_ivf

    rng = random.Random(7)
    dim, n_clusters, per_cluster = 16, 8, 25
    centers = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(n_clusters)]
    rows = []
    vid = 0
    # vec_ids 0..7 are the cluster centers themselves: they double as the
    # deterministic IVF centroids (ivf_assign uses the first n vectors)
    for c in centers:
        rows.append((vid, f"c{vid}", [float(x) for x in c])); vid += 1
    for ci, c in enumerate(centers):
        for _ in range(per_cluster):
            rows.append((vid, f"m{ci}",
                         [float(x + rng.gauss(0, 0.05)) for x in c])); vid += 1
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<float>")

    exact = {}
    for r in knn_bruteforce(df, n_queries=8, k=3).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx = {}
    for r in knn_ivf(df, n_queries=8, k=3, n_centroids=8, nprobe=2).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.9, f"recall {hits}/{total}"


def test_parse_wav_header():
    """RIFF/WAVE chunk walk on a handcrafted header with a LIST chunk
    between fmt and data."""
    import struct

    from async_stream_processing_spark.llm.multimodal import parse_wav_header

    fmt = (b"fmt " + struct.pack("<I", 16)
           + struct.pack("<HHIIHH", 1, 2, 44100, 176400, 4, 16))
    lst = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # odd: padded
    data = b"data" + struct.pack("<I", 8000)
    body = b"WAVE" + fmt + lst + data
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    assert parse_wav_header(wav) == ("pcm_wav", 2, 44100, 16, 8000)
    assert parse_wav_header(b"RIFFxxxx") == (None,) * 5
    assert parse_wav_header(None) == (None,) * 5


def test_synth_wav_roundtrip(spark):
    from async_stream_processing_spark.llm.multimodal import (
        decode_audio_header,
        synth_wav_payload,
    )

    docs = _docs(spark, ["a", "b", "c"])
    out = {r["doc_id"]: r for r in
           decode_audio_header(synth_wav_payload(docs)).collect()}
    for did in range(3):
        r = out[did]
        assert r["codec"] == "pcm_wav"
        assert r["channels"] == 1 + did % 2
        assert r["sample_rate"] == 8000 * (1 + did % 3)
        assert r["bits_per_sample"] == 16
        assert r["data_bytes"] == 1000 + did % 997


def test_kmeans_improves_ivf_recall(spark):
    """Trained spherical k-means vs the first-k centroid stand-in, on a
    fixture whose first 8 vectors all sit in just TWO of the 8 true
    clusters (deliberately bad init).  Lloyd's step is monotone in the
    spherical objective (mean assignment cosine), so trained must beat
    untrained on it; recall@3 must not degrade."""
    import random

    from async_stream_processing_spark.llm.similarity import (
        ivf_assign,
        kmeans_train,
        knn_bruteforce,
        knn_ivf,
    )

    rng = random.Random(11)
    dim, n_clusters, per_cluster = 16, 8, 20
    centers = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(n_clusters)]
    rows, vid = [], 0
    # bad init: the first 8 vectors come from clusters 0 and 1 only
    for ci in (0, 0, 0, 0, 1, 1, 1, 1):
        rows.append((vid, [float(x + rng.gauss(0, 0.05)) for x in centers[ci]]))
        vid += 1
    for ci, c in enumerate(centers):
        for _ in range(per_cluster):
            rows.append((vid, [float(x + rng.gauss(0, 0.05)) for x in c]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    trained = kmeans_train(df, n_centroids=8, n_iter=4)
    cents = trained.collect()
    assert len(cents) == 8
    for r in cents:  # spherical: unit-norm centroids
        assert abs(sum(x * x for x in r["c_emb"]) - 1.0) < 1e-5

    def objective(centroids=None):
        out = ivf_assign(df, 8, centroids=centroids).collect()
        return sum(r["centroid_cosine"] for r in out) / len(out)

    assert objective(trained) > objective(None) + 0.01

    def recall(centroids=None):
        exact, approx = {}, {}
        for r in knn_bruteforce(df, n_queries=8, k=3).collect():
            exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        for r in knn_ivf(df, n_queries=8, k=3, n_centroids=8, nprobe=2,
                         centroids=centroids).collect():
            approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
        return hits / sum(len(v) for v in exact.values())

    assert recall(trained) >= recall(None)


def test_parse_mp4_header():
    import struct

    from async_stream_processing_spark.llm.multimodal import parse_mp4_header

    mvhd = (struct.pack(">I", 108) + b"mvhd" + b"\x00" * 4 + b"\x00" * 8
            + struct.pack(">II", 600, 72000) + b"\x00" * 80)
    moov = struct.pack(">I", 116) + b"moov" + mvhd
    ftyp = struct.pack(">I", 16) + b"ftypisom" + struct.pack(">I", 0x200)
    free = struct.pack(">I", 12) + b"free" + b"\x00" * 4
    assert parse_mp4_header(ftyp + free + moov) == ("mp4", 600, 72000, 3)

    # mvhd version 1: 64-bit times, offsets shift
    mvhd1 = (struct.pack(">I", 120) + b"mvhd" + b"\x01" + b"\x00" * 3
             + b"\x00" * 16 + struct.pack(">I", 90000)
             + struct.pack(">Q", 123456789) + b"\x00" * 80)
    moov1 = struct.pack(">I", 128) + b"moov" + mvhd1
    assert parse_mp4_header(ftyp + moov1) == ("mp4", 90000, 123456789, 2)

    assert parse_mp4_header(b"RIFF....WAVE") == (None,) * 4
    assert parse_mp4_header(None) == (None,) * 4
    # ftyp but no moov: container recognized, no timing
    assert parse_mp4_header(ftyp) == ("mp4", None, None, 1)


def test_synth_mp4_roundtrip(spark):
    from async_stream_processing_spark.llm.multimodal import (
        decode_video_header,
        synth_mp4_payload,
    )

    docs = _docs(spark, ["a", "b", "c"])
    out = {r["doc_id"]: r for r in
           decode_video_header(synth_mp4_payload(docs)).collect()}
    for did in range(3):
        r = out[did]
        assert r["container"] == "mp4"
        assert r["timescale"] == 1000 * (1 + did % 4)
        assert r["duration"] == 10000 + did % 9001
        assert r["n_boxes"] == 3


def _docs_src(spark, rows):
    """rows = [(doc_id, text, source)]"""
    return spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_c4_quality_line_and_page_rules(spark):
    from async_stream_processing_spark.llm.curation import c4_quality

    docs = _docs(spark, [
        "this line has enough words here.\nshort one.\nno terminal punct",
        "lorem ipsum dolor sit amet something here.",
        "a b { c d e f.",
        "one two three. four five six! seven eight nine? ten more words.",
    ])
    out = {r["doc_id"]: r for r in c4_quality(docs).collect()}
    # doc 0: 3 lines; only line 1 kept (ends '.', >=5 words); 1 sentence
    # per line-0+1 -> 2 sentences total => flag_few_sentences
    assert out[0]["n_lines"] == 3 and out[0]["n_kept_lines"] == 1
    assert out[0]["flag_few_sentences"] and not out[0]["keep"]
    # doc 1: lorem ipsum page flag
    assert out[1]["flag_lorem"] and not out[1]["keep"]
    # doc 2: curly brace page flag
    assert out[2]["flag_curly"] and not out[2]["keep"]
    # doc 3: one long line, 4 sentences, kept
    assert out[3]["n_kept_lines"] == 1 and out[3]["n_sentences"] == 4
    assert out[3]["keep"]


def test_hashed_ngram_features_sum_to_total(spark):
    from async_stream_processing_spark.llm.importance import (
        hashed_ngram_features,
    )

    docs = _docs(spark, ["a b c", "x y"])
    rows = hashed_ngram_features(docs, n_buckets=16).collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    # doc 0: 3 unigrams + 2 bigrams = 5 grams; doc 1: 2 + 1 = 3
    assert sum(r["count"] for r in per_doc[0]) == 5
    assert all(r["n_grams"] == 5 for r in per_doc[0])
    assert sum(r["count"] for r in per_doc[1]) == 3
    assert all(0 <= r["bucket"] < 16 for r in rows)


def test_dsir_score_leans_toward_target_vocab(spark):
    from async_stream_processing_spark.llm.importance import dsir_score

    # target source speaks {alpha beta}; the other speaks {gamma delta}
    docs = _docs_src(spark, [
        (0, "alpha beta alpha beta", "tgt"),
        (1, "alpha beta beta alpha", "tgt"),
        (2, "gamma delta gamma delta", "raw"),
        (3, "alpha beta alpha", "raw"),       # raw doc with target vocab
        (4, "gamma delta delta", "raw"),
    ])
    out = {r["doc_id"]: r["score_scaled"]
           for r in dsir_score(docs, target_source="tgt").collect()}
    # target-vocab docs score ABOVE other-vocab docs
    assert out[3] > out[4]
    assert out[0] > out[2]


def test_ngram_novelty_copy_scores_zero(spark):
    from async_stream_processing_spark.llm.text_analysis import ngram_novelty

    docs = _docs(spark, [
        "one two three four five",       # introduces all its grams
        "one two three four five",       # exact copy -> nothing novel
        "six seven eight nine ten",      # all fresh
    ])
    out = {r["doc_id"]: r for r in ngram_novelty(docs, n=3).collect()}
    assert out[0]["novelty_frac"] == 1.0
    assert out[1]["novelty_frac"] == 0.0
    assert out[2]["novelty_frac"] == 1.0
    assert out[0]["n_distinct_grams"] == 3


def test_source_overlap_jaccard(spark):
    from async_stream_processing_spark.llm.text_analysis import source_overlap

    docs = _docs_src(spark, [
        (0, "a b c d e", "s1"),     # grams: abc bcd cde
        (1, "c d e f g", "s2"),     # grams: cde def efg  (shares cde)
        (2, "x y z w v", "s3"),     # disjoint
    ])
    out = {(r["src_a"], r["src_b"]): r
           for r in source_overlap(docs, n=3).collect()}
    r12 = out[("s1", "s2")]
    assert r12["n_common"] == 1 and r12["n_a"] == 3 and r12["n_b"] == 3
    assert r12["jaccard"] == 1.0 / 5.0
    assert r12["containment"] == 1.0 / 3.0
    assert ("s1", "s3") not in out  # zero-overlap pairs don't emit


def test_cms_upper_bounds_true_counts(spark):
    from async_stream_processing_spark.llm.text_analysis import (
        cms_token_counts,
    )

    docs = _docs(spark, [
        "apple apple apple banana banana cherry",
        "apple banana date elderberry fig grape",
    ])
    out = {r["tok"]: r["est_count"]
           for r in cms_token_counts(docs, k=10).collect()}
    true = {"apple": 4, "banana": 3, "cherry": 1, "date": 1,
            "elderberry": 1, "fig": 1, "grape": 1}
    # CMS never underestimates; at 8 distinct tokens vs 1024 buckets the
    # collision probability in all 4 rows is negligible -> exact here
    for tok, t in true.items():
        assert out[tok] >= t
    assert out["apple"] == 4 and out["banana"] == 3


def test_bm25_ranks_rare_term_and_tf_saturation(spark):
    from async_stream_processing_spark.llm.text_analysis import bm25_topk

    docs = _docs(spark, [
        "cat cat cat cat dog",   # heavy tf on common term
        "zebra dog",             # hits the rare term
        "cat dog",               # one of each common
        "fish fish fish",        # no query term
    ])
    out = bm25_topk(docs, ["cat", "zebra"], k=10).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert 3 not in by_id  # no-match docs never surface
    # 'zebra' (df=1) outweighs any tf pile-up of 'cat' (df=2): doc 1 first
    assert [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])][0] == 1
    # tf saturation: doc 0 (tf=4) beats doc 2 (tf=1) but by less than 4x
    assert by_id[0]["score_q"] > by_id[2]["score_q"]
    assert by_id[0]["score_q"] < 4 * by_id[2]["score_q"]


def test_train_val_split_exact_strata_and_determinism(spark):
    from async_stream_processing_spark.llm.sampling import train_val_split

    rows = [(i, f"t{i}", "en", f"src{i % 3}", 2) for i in range(300)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = train_val_split(docs, val_pct=10, test_pct=5).collect()
    assert len(out) == 300
    per = {}
    for r in out:
        per.setdefault(r["source"], []).append(r["split"])
    for src, splits in per.items():
        n = len(splits)  # 100 per source
        assert splits.count("val") == n * 10 // 100
        assert splits.count("test") == n * 5 // 100
    # deterministic: same assignment on re-run (no rand() anywhere)
    again = {r["doc_id"]: r["split"] for r in
             train_val_split(docs, val_pct=10, test_pct=5).collect()}
    assert all(again[r["doc_id"]] == r["split"] for r in out)


def test_epoch_shuffle_deterministic_independent_epochs(spark):
    """Per-epoch shuffle: deterministic on re-run, epoch permutations
    genuinely different, positions contiguous 1..n within every
    (epoch, shard), and every doc appears exactly once per epoch."""
    from async_stream_processing_spark.llm.sampling import epoch_shuffle

    rows = [(i, f"t{i}", "en", "s", 2) for i in range(200)]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = epoch_shuffle(docs, n_epochs=3, n_shards=4).collect()
    assert len(out) == 600
    by_epoch: dict = {}
    for r in out:
        by_epoch.setdefault(r["epoch"], []).append(r)
    for e, rs in by_epoch.items():
        assert sorted(r["doc_id"] for r in rs) == list(range(200))
        shards: dict = {}
        for r in rs:
            shards.setdefault(r["shard"], []).append(r["pos"])
        for s, ps in shards.items():
            assert sorted(ps) == list(range(1, len(ps) + 1)), (e, s)
        # hash-balanced: no shard takes more than half the epoch
        assert max(len(p) for p in shards.values()) < 100
    # different epochs order docs differently (permutation independence)
    o0 = [(r["shard"], r["pos"]) for r in
          sorted(by_epoch[0], key=lambda r: r["doc_id"])]
    o1 = [(r["shard"], r["pos"]) for r in
          sorted(by_epoch[1], key=lambda r: r["doc_id"])]
    assert o0 != o1
    # deterministic re-run
    again = epoch_shuffle(docs, n_epochs=3, n_shards=4).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_grouping_sets_two_marginals_one_pass(spark):
    """GROUPING SETS yields exactly the named marginals — no pair rows,
    no grand total — with grouping_id telling which dim each row
    aggregates over, and ONE Exchange in the plan (map-side expand)."""
    from pyspark.sql import functions as F

    from async_stream_processing_spark.operators.analytics import (
        grouping_sets_agg,
    )

    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 4)],
        "p string, s string, v long",
    )
    out = grouping_sets_agg(
        df, [["p"], ["s"]], {"n": F.count(F.lit(1)), "sv": F.sum("v")}
    ).collect()
    got = {(r["p"], r["s"], r["grouping_id"], r["n"], r["sv"]) for r in out}
    assert got == {
        ("a", None, 1, 2, 3), ("b", None, 1, 1, 4),
        (None, "x", 2, 2, 5), (None, "y", 2, 1, 2),
    }
    plan = (
        grouping_sets_agg(df, [["p"], ["s"]], {"n": F.count(F.lit(1))})
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") <= 1, plan


def _emb_fixture(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )


def test_pq_codes_centroids_encode_to_themselves(spark):
    """A codebook vector's own sub-vectors are distance-0 to themselves,
    so the first ksub vectors must encode to their own ids in EVERY
    subspace; ties (duplicate sub-centroids) resolve to the smallest id."""
    import random

    from async_stream_processing_spark.llm.similarity import pq_codes

    rng = random.Random(7)
    vecs = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(12)]
    out = {r["vec_id"]: r for r in
           pq_codes(_emb_fixture(spark, vecs), m=4, ksub=4, d=8).collect()}
    assert len(out) == 12
    for cid in range(4):
        for j in range(4):
            assert out[cid][f"code_{j}"] == cid
    # every code is a valid codebook id
    for r in out.values():
        assert all(0 <= r[f"code_{j}"] < 4 for j in range(4))


def test_knn_pq_adc_finds_cluster_neighbors(spark):
    """Well-separated clusters: ADC over PQ codes must rank same-cluster
    vectors ahead of other clusters (the codes quantize to per-cluster
    codebook entries, so cross-cluster ADC distance is large)."""
    import random

    from async_stream_processing_spark.llm.similarity import knn_pq_adc

    rng = random.Random(3)
    base = {0: [10.0] * 8, 1: [-10.0] * 8}
    vecs = []
    for i in range(16):
        c = base[i % 2]
        vecs.append([x + rng.uniform(-0.1, 0.1) for x in c])
    out = knn_pq_adc(
        _emb_fixture(spark, vecs), n_queries=4, k=3, m=4, ksub=8, d=8
    ).collect()
    assert len(out) == 12
    for r in out:
        assert r["query_id"] % 2 == r["neighbor_id"] % 2, r


def test_knn_ivfpq_finds_cluster_neighbors(spark):
    """IVF-PQ with well-separated clusters: the coarse quantizer routes
    each cluster to its own cell, residual codes are near-zero within
    the cluster, and ADC must rank same-cluster vectors first."""
    import random

    from async_stream_processing_spark.llm.similarity import knn_ivfpq

    rng = random.Random(11)
    base = {0: [10.0] * 8, 1: [-10.0] * 8}
    vecs = []
    for i in range(20):
        c = base[i % 2]
        vecs.append([x + rng.uniform(-0.1, 0.1) for x in c])
    out = knn_ivfpq(
        _emb_fixture(spark, vecs),
        n_queries=4, k=3, n_coarse=2, nprobe=1, m=4, ksub=8, d=8,
    ).collect()
    assert len(out) == 12
    for r in out:
        assert r["query_id"] % 2 == r["neighbor_id"] % 2, r
        assert 1 <= r["rank"] <= 3


def test_knn_ivfpq_nprobe_all_cells_covers_probe_misses(spark):
    """nprobe = n_coarse degenerates IVF routing away: every vector is a
    candidate for every query, so each query returns a full top-k even
    when its nearest neighbors live in another cell."""
    import random

    from async_stream_processing_spark.llm.similarity import knn_ivfpq

    rng = random.Random(5)
    vecs = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(24)]
    out = knn_ivfpq(
        _emb_fixture(spark, vecs),
        n_queries=3, k=5, n_coarse=4, nprobe=4, m=4, ksub=8, d=8,
    ).collect()
    per = {}
    for r in out:
        per.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(per) == {0, 1, 2}
    for q, ns in per.items():
        assert len(ns) == 5 and q not in ns


def test_lsh_pair_recall_counts_are_consistent(spark):
    """On a corpus with planted near-duplicates: hits are bounded by both
    candidate and truth counts, ratios equal their integer quotients,
    and the planted exact duplicate is always both true and recalled."""
    from async_stream_processing_spark.llm.dedup import lsh_pair_recall

    rows = []
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    for i in range(12):
        text = " ".join(words[(i + j) % len(words)] for j in range(6))
        rows.append((i, text))
    rows.append((100, rows[0][1]))  # exact duplicate of doc 0
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    r = lsh_pair_recall(docs, threshold=0.25).collect()[0]
    assert r["n_hit"] <= min(r["n_cand"], r["n_true"])
    assert r["n_true"] >= 1  # the planted duplicate pair
    if r["n_cand"]:
        assert r["pair_precision"] == r["n_hit"] / r["n_cand"]
    if r["n_true"]:
        assert r["pair_recall"] == r["n_hit"] / r["n_true"]
    # an exact duplicate agrees on every band: it is always recalled,
    # so with only one true pair recall is exactly 1.0
    assert r["pair_recall"] is None or r["pair_recall"] > 0


def test_line_dedup_drops_repeated_segments_keeps_first(spark):
    """Planted shape: doc 0 and doc 1 share their first 10-word segment;
    the earlier (doc_id, seg_idx) keeps it, the later loses it, and
    unique tails survive on both sides."""
    from async_stream_processing_spark.llm.dedup import line_dedup

    seg_a = " ".join(f"w{i}" for i in range(10))        # shared segment
    tail_0 = " ".join(f"x{i}" for i in range(10))
    tail_1 = " ".join(f"y{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (0, seg_a + " " + tail_0),
            (1, seg_a + " " + tail_1),
            (2, seg_a),                                  # fully duplicated
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in line_dedup(docs, width=10).collect()}
    assert out[0]["n_segs"] == 2 and out[0]["n_kept"] == 2
    assert out[0]["text_dedup"] == seg_a + " " + tail_0
    assert out[1]["n_segs"] == 2 and out[1]["n_kept"] == 1
    assert out[1]["text_dedup"] == tail_1
    assert out[2]["n_segs"] == 1 and out[2]["n_kept"] == 0
    assert out[2]["text_dedup"] == ""


def test_line_dedup_short_final_segment_is_its_own_unit(spark):
    """A document whose word count is not a multiple of the width gets a
    short final segment, deduped as a unit like any other."""
    from async_stream_processing_spark.llm.dedup import line_dedup

    docs = spark.createDataFrame(
        [(0, "a b c d e f g h i j k l"), (1, "k l")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in line_dedup(docs, width=10).collect()}
    assert out[0]["n_segs"] == 2 and out[0]["n_kept"] == 2
    # doc 1 duplicates doc 0's short tail segment "k l"
    assert out[1]["n_segs"] == 1 and out[1]["n_kept"] == 0


def test_bpe_train_learns_hand_computed_merges(spark):
    """Tiny corpus with hand-computable merges: 'a b' (8 occurrences)
    merges first, then 'ab ab' (3); round 3 finds no mergeable pair
    left and training stops early."""
    from async_stream_processing_spark.llm.text_analysis import bpe_train

    docs = spark.createDataFrame(
        [(0, "abab abab ab"), (1, "abab ab")],
        "doc_id long, text string",
    )
    out = sorted(bpe_train(docs, n_merges=3).collect(),
                 key=lambda r: r["merge_round"])
    assert len(out) == 2  # third round has nothing left to merge
    r1, r2 = out
    assert (r1["pair"], r1["n_occurrences"], r1["merged"]) == ("a b", 8, "ab")
    # after merging: abab -> [ab, ab] (2 syms x 3), ab -> [ab] (1 x 2)
    assert r1["vocab_tokens_after"] == 8
    assert (r2["pair"], r2["n_occurrences"], r2["merged"]) == ("ab ab", 3, "abab")
    assert r2["vocab_tokens_after"] == 5


def test_bpe_merge_replace_dialect_is_stable_on_runs(spark):
    """Runs of the merged pair: the 4-pass replace dialect reduces
    'a a a a' to 'aa aa' and 'a a a' to 'aa a' -- pinned so both engines
    keep agreeing if either changes replace semantics."""
    from pyspark.sql import functions as F

    from async_stream_processing_spark.llm.text_analysis import (
        _bpe_merge_once,
    )

    df = spark.createDataFrame(
        [(" a a a a ",), (" a a a ",)], "s string"
    )
    got = [r["m"] for r in
           df.select(_bpe_merge_once(F.col("s"), "a a").alias("m")).collect()]
    assert got == [" aa aa ", " aa a "]


def test_bpe_apply_merges_reduce_token_count(spark):
    """Encoding with learned rules never increases token count, strictly
    decreases where a learned pair occurs, and a precomputed merge list
    (the deployment shape) reproduces the self-trained result."""
    from async_stream_processing_spark.llm.text_analysis import (
        bpe_apply,
        bpe_train,
    )

    docs = spark.createDataFrame(
        [(0, "the theme there"), (1, "other brother"), (2, "xyz")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bpe_apply(docs, n_merges=2).collect()}
    for r in out.values():
        assert r["n_tokens_bpe"] <= r["n_symbols"]
    # 'th'/'he' dominate: docs containing them compress, doc 2 cannot
    assert out[0]["n_tokens_bpe"] < out[0]["n_symbols"]
    assert out[2]["n_tokens_bpe"] == out[2]["n_symbols"] == 3
    merges = [
        r["pair"]
        for r in sorted(
            bpe_train(docs, 2).collect(), key=lambda r: r["merge_round"]
        )
    ]
    redo = {r["doc_id"]: r for r in
            bpe_apply(docs, merges=merges).collect()}
    assert {k: tuple(v) for k, v in out.items()} == {
        k: tuple(v) for k, v in redo.items()
    }


def test_bpe_batched_scan_equals_sequential(spark, monkeypatch):
    """The batched merge acceptance (one scan can advance several
    rounds, r9 verdict item 8) must learn the IDENTICAL model to the
    strictly-sequential one-merge-per-scan loop — `_BPE_SCAN_TOP_K=1`
    degenerates to the old behavior, so a differential run over
    corpora with ties, runs, and flat tails pins exactness."""
    import async_stream_processing_spark.llm.text_analysis as ta

    corpora = [
        [(0, "abab abab ab"), (1, "abab ab")],           # early stop
        [(0, "aab aab aab"), (1, "aab b")],              # created-pair trap
        [(0, "the theme there then"), (1, "other brother bother")],
        [(0, "xy xy za za qq qq"), (1, "xy za qq xy za")],  # flat ties
        [(0, "a a a a a"), (1, "aaa aa a")],             # run-heavy
    ]
    for rows in corpora:
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        batched = [tuple(r) for r in sorted(
            ta.bpe_train(docs, n_merges=6).collect(),
            key=lambda r: r["merge_round"])]
        monkeypatch.setattr(ta, "_BPE_SCAN_TOP_K", 1)
        seq = [tuple(r) for r in sorted(
            ta.bpe_train(docs, n_merges=6).collect(),
            key=lambda r: r["merge_round"])]
        monkeypatch.undo()
        assert batched == seq, rows


def test_simhash_narrow_equals_agg(spark):
    """The zero-shuffle per-row simhash (array_distinct + bit filters)
    must equal the explode+distinct+groupBy formulation exactly."""
    from async_stream_processing_spark.llm.dedup import simhash

    docs = spark.createDataFrame(
        [
            (0, "the cat sat on the mat the cat"),
            (1, "a completely different set of words here"),
            (2, "the cat sat on the mat the cat"),
            (3, "x"),
        ],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, simhash(docs, plan="agg").collect()))
    b = sorted(map(tuple, simhash(docs, plan="narrow").collect()))
    assert a == b and len(a) == 4


def test_minhash_narrow_equals_agg(spark):
    """The zero-shuffle per-row minhash signatures (array_min over the
    doc's own shingle-hash array) must equal the explode + keyed-min-agg
    formulation exactly -- min over a multiset == min over its set.
    Edge cases: a sub-n-word doc (no shingles -> absent from BOTH
    outputs) and a doc whose repetition yields duplicate shingles."""
    from async_stream_processing_spark.llm.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),
            (1, "the cat sat the cat sat the cat sat"),  # duplicate shingles
            (2, "two words"),                             # < n=3: no shingles
            (3, "a completely different set of words entirely here"),
            (4, ""),                                      # empty text
        ],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, minhash_signatures(docs, plan="agg").collect()))
    b = sorted(map(tuple, minhash_signatures(docs, plan="narrow").collect()))
    assert a == b
    assert [r[0] for r in a] == [0, 1, 3]  # 2 and 4 have no shingles


def test_dedup_source_matrix_counts_cross_source_pairs(spark):
    from async_stream_processing_spark.llm.dedup import dedup_source_matrix

    base = ("the quick brown fox jumps over the lazy sleeping dog "
            "while rain falls softly on the quiet empty street tonight")
    docs = spark.createDataFrame(
        [
            (0, base, "crawl"),
            (1, base + " tail", "books"),
            (2, base + " tail two", "crawl"),
            (3, "entirely different words about mountain weather "
                "and geology formations over long epochs", "books"),
        ],
        "doc_id long, text string, source string",
    )
    out = {(r["src_lo"], r["src_hi"]): r["n_pairs"]
           for r in dedup_source_matrix(docs, threshold=0.5).collect()}
    # docs 0,1,2 are mutual near-dups: pairs (0,1) crawl-books,
    # (0,2) crawl-crawl, (1,2) books-crawl
    assert out[("books", "crawl")] == 2
    assert out[("crawl", "crawl")] == 1
    assert ("books", "books") not in out


def test_ivfpq_recall_bounds_and_self_consistency(spark):
    from async_stream_processing_spark.llm.similarity import ivfpq_recall

    from async_stream_processing_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = ivfpq_recall(emb, n_queries=5, k=3).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r["n_hits"] <= 3
        assert r["recall"] == r["n_hits"] / 3.0


def test_semdedup_keeps_most_central_per_dup_group(spark):
    """Two near-identical vectors in one cell: the one closer to the
    centroid survives; a distinct vector in the same cell survives."""
    from async_stream_processing_spark.llm.similarity import semdedup

    rows = [
        # vec_ids 0..1 are the seed centroids (n_centroids=2)
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.0, 1.0, 0.0, 0.0], 0),
        # 2 and 3: near-identical (cos > 0.99), FAR from both centroids
        # (cos ~0.70) so neither is dominated by a centroid vector;
        # 2 is marginally closer to its centroid than 3
        (2, [0.7, 0.7, 0.05, 0.0], 0),
        (3, [0.7, 0.7, 0.06, 0.0], 0),
        # 4: same cell, far from 2/3
        (4, [0.6, -0.5, 0.4, 0.0], 0),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r["vec_id"]: r for r in
           semdedup(emb, n_centroids=2, tau=0.99).collect()}
    assert out[2]["keep"] and not out[3]["keep"]
    assert out[0]["keep"] and out[1]["keep"] and out[4]["keep"]


def test_bigram_predictability_templated_vs_novel(spark):
    from async_stream_processing_spark.llm.text_analysis import (
        bigram_predictability,
    )

    docs = spark.createDataFrame(
        [
            (0, "a b a b a b a b"),          # perfectly templated
            (1, "a c a d a e a f"),          # 'a' continuations all tie
            (2, "x"),                        # no transitions -> absent
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bigram_predictability(docs).collect()}
    assert out[0]["predictability"] == 1.0
    # doc 1: argmax of 'a' -> lexicographically first among {b,c,d,e,f}
    # ties resolve to 'b' (count 4 from doc 0's corpus presence)
    assert out[1]["n_transitions"] == 7
    assert 2 not in out


def test_ivfpq_upsert_touched_cells_only(spark, tmp_path):
    """Index maintenance contract: merging a batch (a) rewrites ONLY the
    cell partitions the batch lands in, (b) leaves the store equal to a
    clean rebuild over the final corpus, (c) is idempotent, and (d)
    update-wins for a re-ingested vec_id INCLUDING one whose changed
    embedding moves it to a DIFFERENT coarse cell -- the stale codes in
    its old cell must be cleaned up through the direct map (r7 review
    finding: touched-new-cells-only scanning silently left them
    behind)."""
    import os

    from async_stream_processing_spark.llm.similarity import (
        codes_to_long,
        ivfpq_encode,
        ivfpq_encode_with_model,
        ivfpq_read_codes,
        ivfpq_upsert,
        ivfpq_write_store,
    )
    from async_stream_processing_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    corpus = emb.filter(F.col("vec_id") % 50 != 37)
    batch = emb.filter(F.col("vec_id") % 50 == 37)
    store = str(tmp_path / "store")
    codes_long, coarse, rcode = ivfpq_encode(corpus)
    ivfpq_write_store(codes_long, store)
    codes_dir = os.path.join(store, "codes")

    def snapshot():
        out = {}
        for d in os.listdir(codes_dir):
            if d.startswith("cell="):
                p = os.path.join(codes_dir, d)
                out[d] = sorted(
                    (f, os.path.getmtime(os.path.join(p, f)))
                    for f in os.listdir(p) if not f.startswith(("_", "."))
                )
        return out

    before = snapshot()
    touched = ivfpq_upsert(spark, store, batch, coarse, rcode)
    after = snapshot()
    assert touched  # the batch landed somewhere
    untouched_dirs = [d for d in before if int(d.split("=")[1]) not in touched]
    assert untouched_dirs, "degenerate fixture: batch touched every cell"
    for d in untouched_dirs:  # (a) untouched partitions byte-untouched
        assert after[d] == before[d]
    for cell in touched:      # touched partitions really were rewritten
        assert after[f"cell={cell}"] != before.get(f"cell={cell}")

    def content():
        return {tuple(r) for r in ivfpq_read_codes(spark, store).collect()}

    got = content()
    # (b) equal to a clean rebuild over the final corpus (same model:
    # the seed vectors vec_id<16 are all in the corpus split)
    rebuild, _, _ = ivfpq_encode(emb)
    assert got == {tuple(r) for r in codes_to_long(rebuild).collect()}
    # (c) idempotent re-delivery
    ivfpq_upsert(spark, store, batch, coarse, rcode)
    assert content() == got
    # (d) update-wins ACROSS CELLS: negate one re-ingested embedding --
    # its argmax-cosine cell flips, so the stale codes sit in a cell the
    # new batch does NOT touch; the direct map must route the cleanup.
    one = batch.limit(1).select("vec_id").first()["vec_id"]
    mutated = emb.filter(F.col("vec_id") == one).select(
        "vec_id",
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    old_cell = next(r[1] for r in got if r[0] == one)
    new_cell = ivfpq_encode_with_model(mutated, coarse, rcode).select(
        "cell"
    ).first()["cell"]
    assert new_cell != old_cell, "fixture did not move cells; pick another"
    ivfpq_upsert(spark, store, mutated, coarse, rcode)
    got2 = content()
    # everything else untouched; the moved vector is EXACTLY its fresh
    # encode -- no stale rows in the old cell (rebuild-equality on the
    # mutated corpus pins it)
    assert {r for r in got2 if r[0] != one} == {r for r in got if r[0] != one}
    fresh = {
        tuple(r) for r in codes_to_long(ivfpq_encode_with_model(
            mutated, coarse, rcode
        )).collect()
    }
    assert {r for r in got2 if r[0] == one} == fresh
    assert all(r[1] == new_cell for r in got2 if r[0] == one)


def test_substring_dup_spans_verified_and_merged(spark):
    """Every reported span is a literal character equality at the stated
    positions; matches on one diagonal merge into ONE maximal span; the
    >= n+w-1 winnowing guarantee holds regardless of alignment."""
    from async_stream_processing_spark.llm.dedup import substring_dup_spans

    shared = "this exact passage is copied verbatim between two documents"
    texts = [
        "AAA " + shared + " and then doc zero rambles on differently",
        "completely other opening here :: " + shared + " trailing tail",
        "no overlap with anybody at all in this one, purely unique text!",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = substring_dup_spans(docs, n=20, w=8, max_occurrences=50).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in out}
    assert pairs == {(0, 1)}  # doc 2 shares nothing
    assert len(out) == 1      # one diagonal -> one merged island
    r = out[0]
    sub_a = texts[0][r["pos_a"] - 1: r["pos_a"] - 1 + r["span_len"]]
    sub_b = texts[1][r["pos_b"] - 1: r["pos_b"] - 1 + r["span_len"]]
    assert sub_a == sub_b and len(sub_a) == r["span_len"]  # certified
    # the TRUE maximal shared span includes the common ' ' on each side
    # (both docs surround the passage with spaces); the report is a
    # certified sub-span of it
    assert r["span_len"] >= 20 and sub_a in (" " + shared + " ")

    # alignment independence: shift doc 1's copy by one char -- winnowing
    # is content-defined, so the span is still found
    docs2 = spark.createDataFrame(
        [(0, texts[0]), (1, "X" + texts[1])], "doc_id long, text string"
    )
    out2 = substring_dup_spans(docs2, n=20, w=8).collect()
    assert len(out2) == 1 and out2[0]["span_len"] >= 20


def test_substring_dup_spans_skew_cap(spark):
    """The occurrence cap drops boilerplate grams BEFORE the self-join
    (quadratic-bucket guard): an all-docs-share-boilerplate corpus
    produces no boilerplate pairs under the cap, while a planted rare
    pair is still found -- and the capped gram really does exceed the
    cap in the selected-gram relation."""
    from async_stream_processing_spark.llm.dedup import (
        _winnowed_grams,
        substring_dup_spans,
    )

    boiler = "subscribe to our newsletter for all the latest updates today"
    rare = "the one genuinely duplicated passage of real document content"
    # fillers share NO cross-doc substring (distinct letters, distinct
    # lengths) -- the only true duplicates are the boilerplate (capped)
    # and the planted rare passage
    texts = [
        boiler + " " + chr(97 + i) * (21 + i) for i in range(12)
    ]
    texts[3] = texts[3] + " " + rare
    texts[7] = rare + " " + texts[7]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    cap = 4
    # the boilerplate gram is genuinely hot: some selected gram occurs
    # in more than `cap` documents
    occ = (
        _winnowed_grams(docs, n=20, w=8).groupBy("gram").count()
        .agg(F.max("count")).first()[0]
    )
    assert occ > cap
    spans = substring_dup_spans(docs, n=20, w=8, max_occurrences=cap)
    out = spans.collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in out}
    assert (3, 7) in pairs                       # rare pair survives
    assert all(p == (3, 7) for p in pairs), pairs  # boilerplate capped away
    # the cap runs on a per-gram count BELOW every collect_list aggregate:
    # a hot gram is dropped before its occurrence array is ever built
    plan = spans._jdf.queryExecution().executedPlan().toString()
    lines = plan.split("== Initial Plan ==")[0].splitlines()  # AQE final
    cap_filter = [
        i for i, ln in enumerate(lines) if "Filter" in ln and "__n_occ" in ln
    ]
    collects = [i for i, ln in enumerate(lines) if "collect_list" in ln]
    assert len(cap_filter) == 1 and collects, lines
    assert max(collects) < cap_filter[0], lines


def test_perceptron_round1_is_label_weighted_feature_sum(spark):
    """Round-1 semantics pinned: with w_0 = 0 every doc is misclassified
    (y * 0 <= 0), so w_1[b] = sum_d y_d * count[d, b] exactly -- and the
    score relation is self-consistent (margin from final w; correct ==
    (pred == y))."""
    from collections import defaultdict

    from async_stream_processing_spark.llm.classifier import (
        _labels,
        perceptron_score,
        perceptron_train_weights,
    )
    from async_stream_processing_spark.llm.importance import (
        hashed_ngram_features,
    )

    texts = [
        # >=50 words, mean word length in [3,10], stop hits, alphabetic
        # -> Gopher keep (y=+1)
        ("the cat sat on the mat with some warm food today " * 6).strip(),
        ("the dog ran in the park with some good toys today " * 6).strip(),
        # short docs -> flag_n_words -> drop (y=-1)
        "tiny one",
        "another small",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    B = 16
    w1 = perceptron_train_weights(docs, n_buckets=B, n_rounds=1)
    y = {r["doc_id"]: r["y"] for r in _labels(docs).collect()}
    assert set(y.values()) == {1, -1}  # the fixture really is two-class
    expect = defaultdict(int)
    for r in hashed_ngram_features(docs, n_buckets=B).collect():
        expect[r["bucket"]] += y[r["doc_id"]] * r["count"]
    assert w1 == [expect[b] for b in range(B)]

    scored = perceptron_score(docs, n_buckets=B, n_rounds=3).collect()
    w3 = perceptron_train_weights(docs, n_buckets=B, n_rounds=3)
    feats = defaultdict(int)
    for r in hashed_ngram_features(docs, n_buckets=B).collect():
        feats[(r["doc_id"], r["bucket"])] = r["count"]
    for r in scored:
        margin = sum(
            c * w3[b] for (d, b), c in feats.items() if d == r["doc_id"]
        )
        assert r["margin"] == margin
        assert r["pred"] == (1 if margin > 0 else -1)
        assert r["correct"] == (r["pred"] == r["y"])


def test_substring_dedup_apply_first_wins(spark):
    """The apply transform: the FIRST doc (lowest id) keeps every
    shared span; later copies lose theirs; removal intervals from
    multiple partners merge; untouched docs pass through byte-identical;
    the reassembled text equals a python reference cut."""
    from async_stream_processing_spark.llm.dedup import (
        substring_dup_spans,
        substring_dedup_apply,
    )

    shared = "this exact passage is copied verbatim between two documents"
    texts = [
        "AAA " + shared + " and then doc zero rambles on differently",
        "completely other opening here :: " + shared + " trailing tail",
        "third copy holder starts here | " + shared + " | closing words",
        "no overlap with anybody at all in this one, purely unique text!",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in
           substring_dedup_apply(docs, n=20, w=8).collect()}
    # doc 0 (first occurrence) and doc 3 (unique) unchanged
    assert out[0]["n_chars_removed"] == 0 and out[0]["text_dedup"] == texts[0]
    assert out[3]["n_chars_removed"] == 0 and out[3]["text_dedup"] == texts[3]
    # docs 1 and 2 lost their copies
    assert out[1]["n_chars_removed"] >= 20 and shared not in out[1]["text_dedup"]
    assert out[2]["n_chars_removed"] >= 20 and shared not in out[2]["text_dedup"]

    # python reference: cut doc 1's merged spans from the span relation
    spans = substring_dup_spans(docs, n=20, w=8).filter(
        F.col("doc_b") == 1
    ).collect()
    iv = sorted({(r["pos_b"], r["pos_b"] + r["span_len"] - 1) for r in spans})
    merged = []
    for s, e in iv:
        if merged and s <= merged[-1][1] + 1:
            merged[-1] = (merged[-1][0], max(merged[-1][1], e))
        else:
            merged.append((s, e))
    t = texts[1]
    kept, cur = [], 0
    for s, e in merged:
        kept.append(t[cur:s - 1])
        cur = e
    kept.append(t[cur:])
    assert out[1]["text_dedup"] == "".join(kept)
    assert out[1]["n_spans_removed"] == len(merged)
    assert out[1]["n_chars_removed"] == sum(e - s + 1 for s, e in merged)


def test_gopher_keep_expr_matches_gopher_quality(spark):
    """The inline keep expression (streaming scoring labels) must equal
    gopher_quality's keep column row-for-row -- pinned on edge cases so
    the two hand-maintained flag stacks can never drift silently (they
    back the SAME perceptron oracle from two plans)."""
    from async_stream_processing_spark.llm.curation import (
        gopher_keep_expr,
        gopher_quality,
    )

    texts = [
        ("the cat sat on the mat with some warm food today " * 6).strip(),
        "tiny one",                                   # n_words flag
        ("a b c d " * 20).strip(),                    # mean word len < 3
        ("zzzz " * 60).strip(),                       # no stop words
        ("the and " + "1234 " * 58).strip(),          # alpha ratio
        "",                                           # empty text
        ("the longword extravagant " * 25).strip(),
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    inline = {
        r["doc_id"]: r["k"]
        for r in docs.select(
            "doc_id", gopher_keep_expr("text").alias("k")
        ).collect()
    }
    full = {
        r["doc_id"]: r["keep"] for r in gopher_quality(docs).collect()
    }
    assert inline == full
    assert set(inline.values()) == {True, False}  # both classes exercised


def test_sq8_codes_grid_endpoints_and_degenerate_dim(spark):
    """Per-dim grid: the corpus min encodes to 0, the max to 255, the
    midpoint to 127 (floor of 127.5); a CONSTANT dimension (hi == lo)
    encodes to 0 instead of dividing by zero."""
    from async_stream_processing_spark.llm.similarity import sq8_codes

    vecs = [
        [0.0, -1.0, 5.0],   # min in dims 0,1; constant dim 2
        [1.0, 3.0, 5.0],    # max in dims 0,1
        [0.5, 1.0, 5.0],    # midpoints
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )
    out = {r["vec_id"]: list(r["codes"]) for r in sq8_codes(emb, d=3).collect()}
    assert out[0] == [0, 0, 0]
    assert out[1] == [255, 255, 0]
    assert out[2] == [127, 127, 0]


def test_knn_sq8_orders_by_integer_code_distance(spark):
    """Hand-checkable 1-D ordering: with one informative dimension the
    integer SDC ranking must follow the scalar ordering, and the query
    itself is excluded."""
    from async_stream_processing_spark.llm.similarity import knn_sq8

    vals = [0.0, 0.1, 0.5, 0.9, 1.0]
    emb = spark.createDataFrame(
        [(i, [float(v), 0.0], 0) for i, v in enumerate(vals)],
        "vec_id long, embedding array<float>, label int",
    )
    rows = knn_sq8(emb, n_queries=1, k=4, d=2).collect()
    order = [r["neighbor_id"] for r in sorted(rows, key=lambda r: r["rank"])]
    assert order == [1, 2, 3, 4]
    assert all(r["query_id"] == 0 and r["neighbor_id"] != 0 for r in rows)


def test_trigram_backoff_tier_chain_exact(spark):
    """Every Stupid-Backoff tier fires with hand-computed quantized
    scores.  Model = even docs = {"a b c d"}: trigram (a,b,c) scores
    tier-1 c123/c12 = 1.0; (z,c,d) has no model trigram but bigram
    (c,d) exists -> tier-2 0.4 * c23/c2 = 0.4; (a,b,d) falls through to
    tier-3 0.16 * c(d)/N = 0.16 * 1/4; an unknown final token scores
    0."""
    from async_stream_processing_spark.llm.text_analysis import (
        trigram_backoff_score,
    )

    docs = spark.createDataFrame(
        [
            (0, "a b c d"),   # the model half
            (1, "a b c"),     # tier 1
            (3, "z c d"),     # tier 2
            (5, "a b d"),     # tier 3, known unigram
            (7, "a b qq"),    # tier 3, unknown unigram -> 0
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in trigram_backoff_score(docs).collect()}
    assert out[1]["sb_q"] == 1_000_000
    assert out[3]["sb_q"] == 400_000
    assert out[5]["sb_q"] == 40_000          # 0.16 * (1/4) * 1e6
    assert out[7]["sb_q"] == 0
    # the model doc scores its own two trigrams at tier 1 (counts 1/1)
    assert out[0]["n_trigrams"] == 2 and out[0]["sb_q"] == 2_000_000


def test_source_tv_distance_identical_and_disjoint(spark):
    """Two sources with identical unigram distributions sit at TV 0;
    a disjoint-vocabulary source lands at the hand-computed 2/3 (its
    mass fully displaced, but the corpus still contains it)."""
    from async_stream_processing_spark.llm.text_analysis import (
        source_tv_distance,
    )

    docs = spark.createDataFrame(
        [
            (0, "a b", "en", "s1", 3),
            (1, "a b", "en", "s2", 3),
            (2, "c c", "en", "s3", 3),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["source"]: r for r in source_tv_distance(docs).collect()}
    # corpus = {a:2, b:2, c:2}, N=6; s1 = {a:1, b:1}, n_s=2
    # in-source: |1*6-2*2| = 2 per token -> A=4; B = 6-4 = 2
    # num = 4 + 2*2 = 8; tv = 8/24 = 1/3
    assert out["s1"]["tv_num"] == 8 and abs(out["s1"]["tv"] - 1 / 3) < 1e-12
    assert out["s2"]["tv_num"] == 8
    # s3 = {c:2}: A = |2*6-2*2| = 8; B = 6-2 = 4; num = 16; tv = 2/3
    assert out["s3"]["tv_num"] == 16 and abs(out["s3"]["tv"] - 2 / 3) < 1e-12


def test_tfidf_cosine_pairs_identity_and_df_cap(spark):
    """Identical documents score cosine ~1; documents sharing ONLY a
    ubiquitous term (df above the cap) never pair -- the cap is part of
    the representation, not a lossy shortcut."""
    from async_stream_processing_spark.llm.dedup import tfidf_cosine_pairs

    docs = spark.createDataFrame(
        [
            (0, "the alpha beta gamma"),
            (1, "the alpha beta gamma"),   # identical to 0
            (2, "the delta epsilon"),       # shares only "the" with 0/1
            (3, "the zeta eta"),
        ],
        "doc_id long, text string",
    )
    rows = tfidf_cosine_pairs(docs, tau=0.5, max_df_ratio=0.5).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["cosine"] for r in rows}
    assert set(pairs) == {(0, 1)}
    assert pairs[(0, 1)] > 0.999


def test_intradoc_dedup_first_wins_within_doc_only(spark):
    """Repeats collapse WITHIN a document (first occurrence wins,
    reassembly preserves order); the same segment in another document
    is untouched -- this operator is narrow by contract."""
    from async_stream_processing_spark.llm.dedup import intradoc_dedup

    docs = spark.createDataFrame(
        [
            (0, "a b a b c d"),
            (1, "a b x y"),
            (2, "c d c d c d"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in intradoc_dedup(docs, width=2).collect()}
    assert out[0]["n_segs"] == 3 and out[0]["n_kept"] == 2
    assert out[0]["text_dedup"] == "a b c d"
    assert out[1]["n_segs"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["text_dedup"] == "a b x y"
    assert out[2]["n_segs"] == 3 and out[2]["n_kept"] == 1
    assert out[2]["text_dedup"] == "c d"


def test_bpe_coverage_compression_bounds(spark):
    """Compression is tokens-after / symbols-before: strictly below 1
    on a source the learned merges fire on, exactly 1 on a source made
    of single characters no merge can touch."""
    from async_stream_processing_spark.llm.text_analysis import bpe_coverage

    docs = spark.createDataFrame(
        [(0, "abab abab abab", "en", "mergey", 14),
         (1, "abab abab", "en", "mergey", 9),
         (2, "q w e r t", "en", "atomic", 9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["source"]: r for r in bpe_coverage(docs, n_merges=2).collect()}
    assert out["mergey"]["compression"] < 1.0
    assert out["mergey"]["n_tokens_bpe"] < out["mergey"]["n_symbols"]
    assert out["atomic"]["compression"] == 1.0


def test_lsh_s_curve_identical_docs_caught(spark):
    """An identical pair (Jaccard 1.0 -> bin 19) MUST be caught (equal
    signatures agree on every band); bins stay in [0, 19]; n_caught is
    bounded by n_pairs."""
    from async_stream_processing_spark.llm.dedup import lsh_s_curve

    base = ("the quick brown fox jumps over the lazy sleeping dog "
            "while rain falls softly on the quiet empty street tonight")
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base),                                     # exact dup of 0
            (2, "the quick brown fox likes warm dry weather in spring"),
            (3, "completely unrelated words about numerical linear algebra"),
        ],
        "doc_id long, text string",
    )
    rows = {r["j_bin"]: r for r in lsh_s_curve(docs).collect()}
    assert all(0 <= b <= 19 for b in rows)
    assert rows[19]["n_caught"] == rows[19]["n_pairs"] >= 1
    assert rows[19]["catch_rate"] == 1.0
    for r in rows.values():
        assert 0 <= r["n_caught"] <= r["n_pairs"]


def test_hard_negatives_label_and_rank_contract(spark):
    """Every mined negative has a DIFFERENT label from its query; ranks
    are 1..k dense per query; cosine is non-increasing in rank."""
    from async_stream_processing_spark.llm.similarity import hard_negatives

    rows = [
        (i, [float((i * 7 + j * 3) % 5 + 1) for j in range(4)], i % 2)
        for i in range(12)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = hard_negatives(emb, n_queries=3, k=4).collect()
    by_q = {}
    for r in out:
        assert r["neighbor_label"] != r["query_label"]
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        cosines = [r["cosine"] for r in rs]
        assert cosines == sorted(cosines, reverse=True)


def test_pmi_pairs_brute_force(spark):
    """Counts and integer PMI quotients match a brute-force recount on a
    tiny corpus."""
    from collections import Counter

    from async_stream_processing_spark.llm.text_analysis import pmi_pairs

    texts = [
        "new york is a big city",
        "new york has new parks in new york",
        "big city life in a big city",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    out = pmi_pairs(docs, min_count=2, k=100).collect()

    pairs = Counter()
    for t in texts:
        w = t.split()
        pairs.update(zip(w, w[1:]))
    cx, cy = Counter(), Counter()
    for (x, y), c in pairs.items():
        cx[x] += c
        cy[y] += c
    n = sum(pairs.values())
    expect = {
        (x, y): (c, cx[x], cy[y], (1_000_000 * c * n) // (cx[x] * cy[y]))
        for (x, y), c in pairs.items()
        if c >= 2
    }
    got = {
        (r["x"], r["y"]): (r["c_xy"], r["c_x"], r["c_y"], r["pmi_q"])
        for r in out
    }
    assert got == expect


def test_langid_confusion_row_shares(spark):
    """Each label's cell counts sum to its n_label and rates sum to 1."""
    from async_stream_processing_spark.llm.text_analysis import (
        langid_confusion,
    )

    docs = spark.createDataFrame(
        [
            (0, "the cat and the dog are in the house", "en"),
            (1, "el gato y el perro en la casa", "es"),
            (2, "le chat et le chien dans la maison", "fr"),
            (3, "zzz qqq xxx", "en"),  # no stopword hits -> 'und'
        ],
        "doc_id long, text string, lang string",
    )
    out = langid_confusion(docs).collect()
    by_label = {}
    for r in out:
        by_label.setdefault(r["lang_label"], []).append(r)
    for label, rs in by_label.items():
        assert sum(r["n_docs"] for r in rs) == rs[0]["n_label"]
        assert abs(sum(r["rate"] for r in rs) - 1.0) < 1e-12
    en = {r["lang_pred"]: r["n_docs"] for r in by_label["en"]}
    assert en.get("und") == 1 and en.get("en") == 1


def test_kmeans_silhouette_separated_clusters(spark):
    """Two tight, well-separated direction clusters score near-1
    silhouette; a cell's n_vecs covers every vector assigned to it."""
    from async_stream_processing_spark.llm.similarity import (
        kmeans_silhouette,
    )

    rows = []
    for i in range(10):
        base = [1.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0, 0.0]
        # tiny per-vector jitter that keeps each cluster tight
        vec = [b + (0.001 * ((i * 13 + j) % 7)) for j, b in enumerate(base)]
        rows.append((i, vec, 0))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = kmeans_silhouette(emb, n_centroids=2).collect()
    assert sum(r["n_vecs"] for r in out) == 10
    for r in out:
        assert 0.9 < r["mean_silhouette"] <= 1.0
        assert r["s_sum_q"] <= r["n_vecs"] * 1_000_000_000


def test_perceptron_eval_confusion_consistency(spark):
    """Confusion cells partition the held-out set; n_eval counts exactly
    the doc_id % 5 == 0 docs; ratios agree with their integer counts."""
    from async_stream_processing_spark.llm.classifier import perceptron_eval

    texts = [
        "the quick brown fox jumps over the lazy dog near the river bank "
        "while evening light settles over the quiet village rooftops",
        "aaa bbb ccc",
        "the market opened higher today as traders weighed the central "
        "bank statement against fresh employment figures from the north",
        "x y z 1 2 3 4 5 6 7 8 9",
    ]
    rows = [(i, texts[i % 4], "s") for i in range(40)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    r = perceptron_eval(docs, n_buckets=16, n_rounds=2).collect()[0]
    assert r["n_eval"] == 8  # doc_ids 0,5,10,...,35
    assert r["tp"] + r["fp"] + r["fn"] + r["tn"] == r["n_eval"]
    if r["tp"] + r["fp"] > 0:
        assert abs(r["precision"] - r["tp"] / (r["tp"] + r["fp"])) < 1e-15
    if r["tp"] + r["fn"] > 0:
        assert abs(r["recall"] - r["tp"] / (r["tp"] + r["fn"])) < 1e-15
    assert abs(r["accuracy"] - (r["tp"] + r["tn"]) / r["n_eval"]) < 1e-15


def test_source_token_diversity_extremes(spark):
    """All-identical tokens -> Simpson 0; all-distinct -> 1 - 1/N."""
    from async_stream_processing_spark.llm.text_analysis import (
        source_token_diversity,
    )

    docs = spark.createDataFrame(
        [
            (0, "spam spam spam spam", "mono"),
            (1, "spam spam spam spam", "mono"),
            (2, "one two three four", "multi"),
            (3, "five six seven eight", "multi"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in source_token_diversity(docs).collect()}
    mono, multi = out["mono"], out["multi"]
    assert mono["n_tokens"] == 8 and mono["n_types"] == 1
    assert mono["sum_c2"] == 64 and mono["simpson_diversity"] == 0.0
    assert multi["n_tokens"] == 8 and multi["n_types"] == 8
    assert multi["sum_c2"] == 8
    assert abs(multi["simpson_diversity"] - (1 - 1 / 8)) < 1e-15
    assert multi["type_token_ratio"] == 1.0


def test_rotated_embeddings_matches_numpy(spark):
    """The fold-based ±1 rotation equals the straightforward matrix
    product (same seeded sign matrix)."""
    import numpy as np

    from async_stream_processing_spark.llm.linalg import rp_signs
    from async_stream_processing_spark.llm.similarity import (
        rotated_embeddings,
    )

    d = 8
    rows = [(i, [float((i * 5 + j * 3) % 7 - 3) for j in range(d)])
            for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: list(r["embedding"])
           for r in rotated_embeddings(emb, d=d).collect()}
    S = np.array(rp_signs(d, d, 7), dtype=np.float64)
    for i, v in rows:
        x = np.array(np.array(v, dtype=np.float32), dtype=np.float64)
        expect = S @ x
        assert np.allclose(got[i], expect, rtol=0, atol=1e-12)


def test_pq_rotation_recall_contract(spark):
    """Recall columns are hit-counts over k, bounded and consistent."""
    from async_stream_processing_spark.llm.similarity import (
        pq_rotation_recall,
    )
    from async_stream_processing_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = pq_rotation_recall(emb, n_queries=5, k=3).collect()
    assert len(out) == 5
    for r in out:
        assert 0 <= r["n_hits_pq"] <= 3 and 0 <= r["n_hits_rot"] <= 3
        assert r["recall_pq"] == r["n_hits_pq"] / 3
        assert r["recall_rotated"] == r["n_hits_rot"] / 3


def test_range_search_radius_semantics_and_no_exchange(spark):
    """Range search returns EVERY neighbor past the threshold (not a
    truncated top-k), excludes self, and plans with zero exchanges --
    the whole operator is one narrow broadcast pass."""
    import re

    from async_stream_processing_spark.llm.similarity import range_search

    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),    # cos ~ 0.994
        (2, [0.7, 0.7, 0.0], 1),    # cos ~ 0.707
        (3, [0.0, 1.0, 0.0], 1),    # cos 0
        (4, [-1.0, 0.0, 0.0], 1),   # cos -1
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = range_search(df, n_queries=1, tau=0.5).collect()
    assert sorted(r["neighbor_id"] for r in out) == [1, 2]
    plan = range_search(df, n_queries=1, tau=0.5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert not re.findall(r"Exchange hashpartitioning", plan), plan


def test_vocab_growth_brute_force(spark):
    """The first-appearance construction equals a Python running-set
    brute force, including a doc that adds no new types."""
    from async_stream_processing_spark.llm.text_analysis import vocab_growth

    texts = [
        "a b c",          # 3 tokens, 3 new
        "a b d",          # 3 tokens, 1 new
        "a a a",          # 3 tokens, 0 new
        "e f",            # bucket 2 (bucket_docs=3): 2 tokens, 2 new
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {r["bucket"]: (r["cum_tokens"], r["cum_types"])
           for r in vocab_growth(df, bucket_docs=3).collect()}
    seen, cum_tok, brute = set(), 0, {}
    for i, t in enumerate(texts):
        ws = t.split()
        cum_tok += len(ws)
        seen |= set(ws)
        brute[i - i % 3] = (cum_tok, len(seen))
    assert out == brute


def test_ivfpq_upsert_driver_traffic_is_o_model(spark, tmp_path,
                                                monkeypatch):
    """The upsert path never collects batch- or corpus-sized relations
    to the driver (r7 verdict item 1: an O(batch) vec_id collect on a
    100 TB ingest serializes the whole CDC batch's keys through the
    driver).  Every collect during an upsert must be model-sized (cells
    / id buckets) and must NOT carry vec_id."""
    from async_stream_processing_spark.llm.similarity import (
        IVFPQ_IDMAP_BUCKETS,
        ivfpq_encode,
        ivfpq_upsert,
        ivfpq_write_store,
    )
    from async_stream_processing_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    corpus = emb.filter(F.col("vec_id") % 2 != 1)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    assert batch.count() > 4 * IVFPQ_IDMAP_BUCKETS  # batch >> model size
    store = str(tmp_path / "store")
    codes_long, coarse, rcode = ivfpq_encode(corpus)
    ivfpq_write_store(codes_long, store)

    seen: list[tuple[int, tuple]] = []
    cls = type(emb)  # the CONCRETE DataFrame class (Spark 4 splits the
    # API base from pyspark.sql.classic; patching the base misses)
    real_collect = cls.collect

    def spy_collect(self):
        rows = real_collect(self)
        seen.append((len(rows), tuple(self.columns)))
        return rows

    monkeypatch.setattr(cls, "collect", spy_collect)
    touched = ivfpq_upsert(spark, store, batch, coarse, rcode)
    assert touched
    assert seen, "expected model-sized collects (cells, id buckets)"
    for n_rows, cols in seen:
        if "vec_id" in cols:  # only the take(1) emptiness probe
            assert n_rows <= 1, f"batch keys crossed to driver: {cols}"
        assert n_rows <= 4 * IVFPQ_IDMAP_BUCKETS, (n_rows, cols)


def test_session_caches_miss_on_rewritten_source(spark, tmp_path):
    """Round-9 advice (low): the session artifact caches key on the
    LOGICAL PLAN's semantics, which don't see data changes — rewriting
    the source parquet within one application must MISS (via the
    input-file fingerprint) and recompute, not serve the stale
    artifact."""
    import numpy as np

    from async_stream_processing_spark.llm.similarity import (
        knn_bruteforce_cached,
    )

    path = str(tmp_path / "emb")

    def write(seed):
        rng = np.random.default_rng(seed)
        rows = [
            (i, [float(x) for x in rng.standard_normal(8)])
            for i in range(40)
        ]
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(path)

    write(7)
    df = spark.read.parquet(path)
    gt1 = {tuple(r) for r in knn_bruteforce_cached(
        df, n_queries=3, k=2).collect()}
    # overwrite the SAME path with different vectors: identical plan
    # semantics, different data — the fingerprint must force a MISS
    write(8)
    df2 = spark.read.parquet(path)
    gt2 = {tuple(r) for r in knn_bruteforce_cached(
        df2, n_queries=3, k=2).collect()}
    assert gt2 and gt1 != gt2, (
        "stale ground truth served after source rewrite")


def test_pipeline_canon_registry_bounded_unpersist(spark):
    """Round-9 advice (low): training_pipeline's persisted corpus is
    held in a bounded registry; eviction unpersists, so a long-lived
    session can't accumulate executor storage."""
    import async_stream_processing_spark.llm.pipeline as P

    P.release_pipeline_cache()
    dfs = []
    for i in range(P._CANON_CACHE_MAX + 2):
        docs = spark.createDataFrame(
            [(j, f"src{i}", " ".join(["w"] * 50) + f" doc{i}_{j}",
              300 + j)
             for j in range(6)],
            "doc_id long, source string, text string, n_chars long",
        )
        P.training_pipeline(docs, min_words=5).collect()
        dfs.append(docs)
    assert len(P._CANON_CACHE) <= P._CANON_CACHE_MAX
    live = [df for df in P._CANON_CACHE.values()
            if df.storageLevel.useMemory or df.storageLevel.useDisk]
    assert len(live) == len(P._CANON_CACHE)
    P.release_pipeline_cache()
    assert not P._CANON_CACHE


def test_hamming_rerank_reads_only_candidates(spark):
    """The exact-cosine rerank stage consumes ONLY the broadcast top-R
    candidate set per query (r8 verdict item 3): the candidate list
    broadcasts onto the corpus scan (BroadcastHashJoin, corpus never
    shuffles for the rerank), and rerank output rows per query never
    exceed R before the final top-k."""
    from pyspark.sql import functions as F

    from async_stream_processing_spark.llm.similarity import (
        knn_hamming_rerank,
    )
    from async_stream_processing_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = knn_hamming_rerank(emb, n_queries=10, k=5, r=20)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan
    assert "BroadcastHashJoin" in plan
    # k <= per-query rows, and each query's candidates were capped at R
    per_q = out.groupBy("query_id").count().agg(F.max("count")).first()[0]
    assert per_q <= 5
    # recall sanity: rerank can only IMPROVE on raw hamming order; with
    # R=4k candidates the pipeline recovers most exact neighbors
    from async_stream_processing_spark.llm.similarity import (
        hamming_rerank_recall,
    )

    rec = hamming_rerank_recall(emb, n_queries=10, k=5, r=20)
    # the exact rerank of the top-R candidate set can only IMPROVE on
    # taking hamming's own top-k (same candidates, better metric); the
    # absolute level is a property of the (random) fixture embeddings
    from async_stream_processing_spark.llm.similarity import hamming_recall

    raw = hamming_recall(emb, n_queries=10, k=5)
    avg_rerank = rec.agg(F.avg("recall")).first()[0]
    avg_raw = raw.agg(F.avg("recall")).first()[0]
    assert avg_rerank >= avg_raw
    assert avg_rerank > 0.2


def test_pixel_decoders_pure():
    """PPM/BMP pixel decoders (r9 verdict item 5): exact round-trip of
    the synthesis formats, including the BMP layout quirks (bottom-up
    rows, BGR order, 4-byte row padding), PPM comment handling, and
    conservative rejection of malformed payloads."""
    import struct

    import numpy as np

    from async_stream_processing_spark.llm.multimodal import (
        parse_bmp_pixels,
        parse_ppm_pixels,
    )

    rgb = np.arange(5 * 3 * 3, dtype=np.uint8).reshape(3, 5, 3)
    # PPM with a header comment
    ppm = b"P6\n# a comment\n5 3\n255\n" + rgb.tobytes()
    arr, w, h = parse_ppm_pixels(ppm)
    assert (w, h) == (5, 3) and np.array_equal(arr, rgb)
    # BMP: bottom-up, BGR, stride padded 15 -> 16
    stride = (5 * 3 + 3) // 4 * 4
    rows = b"".join(
        rgb[y, :, ::-1].tobytes() + b"\x00" * (stride - 15)
        for y in range(2, -1, -1)
    )
    bmp = (b"BM" + struct.pack("<I", 54 + len(rows)) + b"\x00" * 4
           + struct.pack("<I", 54)
           + struct.pack("<IiiHHIIiiII", 40, 5, 3, 1, 24, 0, len(rows),
                         2835, 2835, 0, 0) + rows)
    arr2, w2, h2 = parse_bmp_pixels(bmp)
    assert (w2, h2) == (5, 3) and np.array_equal(arr2, rgb)
    # malformed: truncated pixel data / wrong bpp reject, never crash
    assert parse_ppm_pixels(b"P6\n5 3\n255\n" + rgb.tobytes()[:-1]) is None
    assert parse_bmp_pixels(bmp[:40]) is None
    assert parse_ppm_pixels(b"P5\n5 3\n255\n") is None


def test_decode_pixels_gates_compressed_formats(spark):
    """A PNG payload (compressed, needs Pillow) must raise the
    import-gated NotImplementedError naming the native formats — never
    silently skip or emit wrong stats."""
    import pytest as _pytest

    from async_stream_processing_spark.llm.multimodal import (
        decode_pixels,
        synth_image_payload,
    )

    docs = spark.createDataFrame([(0,)], "doc_id long")
    png_payloads = synth_image_payload(docs)  # even id -> PNG
    try:
        import PIL  # noqa: F401

        _pytest.skip("Pillow present: the gate does not apply")
    except ImportError:
        pass
    with _pytest.raises(Exception) as ei:
        decode_pixels(png_payloads).collect()
    msg = str(ei.value)
    assert "PPM" in msg and "BMP" in msg, msg


def test_group_reservoir_bound_deterministic_and_hash_ordered(spark):
    from async_stream_processing_spark.functions.hashing import stable_hash60
    from async_stream_processing_spark.llm.sampling import group_reservoir
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(g, i) for g in range(4) for i in range(g * 100, g * 100 + 20)],
        "g long, rid long",
    )
    out = group_reservoir(df, ["g"], F.col("rid"), k=3, salt="t")
    rows = out.collect()
    per = {}
    for r in rows:
        per.setdefault(r["g"], []).append((r["rank"], r["rid"]))
    assert set(per) == {0, 1, 2, 3}
    assert all(sorted(rk for rk, _ in v) == [1, 2, 3] for v in per.values())
    # deterministic under repartitioning (retry/AQE invariance)
    again = group_reservoir(
        df.repartition(7, "rid"), ["g"], F.col("rid"), k=3, salt="t"
    ).collect()
    assert {tuple(r) for r in again} == {tuple(r) for r in rows}
    # the kept rows really are the k hash-smallest of each group
    h = df.withColumn(
        "h", stable_hash60(F.concat(F.lit("t|"), F.col("rid").cast("string")))
    ).collect()
    for g, kept in per.items():
        want = sorted(
            ((r["h"], r["rid"]) for r in h if r["g"] == g)
        )[:3]
        assert [rid for _, rid in want] == [
            rid for _, rid in sorted(kept)
        ]
