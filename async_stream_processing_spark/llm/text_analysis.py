"""Text analysis for training-data pipelines: stats, quality, language ID,
token counting, fingerprinting.

All pure column expressions (whole-stage codegen, no UDFs) with bit-exact
DuckDB twins: ratios are single double divisions of exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import BPE_TOKEN_RE, LANG_STOPWORDS, tokens


def text_stats(docs: DataFrame, text: str = "text") -> DataFrame:
    """Per-doc size/quality fundamentals: chars, words, unique words,
    type-token ratio, mean word length."""
    docs = docs.withColumn("__words", tokens(text))
    w = F.col("__words")
    # n_unique's array_distinct is O(words) — materialize it once
    # instead of once for the count column and again for the ratio
    docs = docs.withColumn("__n_unique", F.size(F.array_distinct(w)))
    n_words = F.size(w)
    n_unique = F.col("__n_unique")
    total_len = F.aggregate(
        F.transform(w, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    )
    return docs.select(
        "doc_id",
        F.length(F.col(text)).cast("long").alias("n_chars"),
        n_words.cast("long").alias("n_words"),
        n_unique.cast("long").alias("n_unique_words"),
        (n_unique.cast("double") / n_words.cast("double")).alias("type_token_ratio"),
        (total_len.cast("double") / n_words.cast("double")).alias("avg_word_len"),
    )


def quality_score(docs: DataFrame, text: str = "text") -> DataFrame:
    """Heuristic quality signals (Gopher/C4-style rules, simplified):
    stopword ratio, punctuation density, digit density, plus a composite
    0-100 score.  Deterministic integer counts -> one double division each.
    """
    t = F.col(text)
    docs = docs.withColumn("__words", tokens(text))
    w = F.col("__words")
    n_words = F.size(w)
    en_stop = F.array(*[F.lit(s) for s in LANG_STOPWORDS["en"]])
    # materialize the three scans once each (r11): the stopword filter
    # and the two whole-text regexp_replaces used to be re-evaluated
    # for their output column AND inside the composite score
    docs = docs.withColumn(
        "__qs",
        F.struct(
            F.size(
                F.filter(w, lambda x: F.array_contains(en_stop, x))
            ).alias("n_stop"),
            (
                F.length(t)
                - F.length(F.regexp_replace(t, "[^a-zA-Z0-9 ]", ""))
            ).alias("n_punct"),
            (
                F.length(t) - F.length(F.regexp_replace(t, "[0-9]", ""))
            ).alias("n_digit"),
        ),
    )
    n_stop = F.col("__qs")["n_stop"]
    stop_ratio = n_stop.cast("double") / n_words.cast("double")
    punct_ratio = (
        F.col("__qs")["n_punct"].cast("double") / F.length(t).cast("double")
    )
    digit_ratio = (
        F.col("__qs")["n_digit"].cast("double") / F.length(t).cast("double")
    )
    score = (
        F.lit(100.0)
        * (F.lit(0.5) * F.least(stop_ratio * 5, F.lit(1.0))
           + F.lit(0.25) * (F.lit(1.0) - F.least(punct_ratio * 10, F.lit(1.0)))
           + F.lit(0.25) * (F.lit(1.0) - F.least(digit_ratio * 10, F.lit(1.0))))
    )
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_stop.cast("long").alias("n_stopwords"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        digit_ratio.alias("digit_ratio"),
        score.alias("quality_score"),
    )


def lang_id(docs: DataFrame, text: str = "text") -> DataFrame:
    """Stopword-voting language ID: per language, count token hits in a
    tiny stopword table; argmax with lexicographic tiebreak; 'und' when no
    language scores a hit.  A demonstrator of the heuristic shape -- swap a
    real model (fastText) behind the same signature for production.

    The token array is materialized once (``__words``) so Catalyst doesn't
    re-split the text for each of the 5 language votes, and the per-
    language hit counts + their max are bound ONCE through ``bind1``
    lambdas (r11): HOF subtrees are excluded from subexpression
    elimination, so the former inline form re-ran each language's
    ``size(filter(...))`` vote in the greatest(), again per winner
    comparison, and again for the output columns — ~45 array scans per
    row for 5 real votes.  ``greatest(h1..h5)`` = ``array_max`` over
    the same values (all non-null together, both skip nulls), the
    winner/tiebreak expressions are the identical trees over bound
    values, so results are bit-identical."""
    from ..functions.text import bind1

    docs = docs.withColumn("__words", tokens(text))
    w = F.col("__words")

    def contains(arr):
        return lambda x: F.array_contains(arr, x)

    hit_cols = []
    for lang, stops in sorted(LANG_STOPWORDS.items()):
        arr = F.array(*[F.lit(s) for s in stops])
        hits = F.size(F.filter(w, contains(arr)))
        hit_cols.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))

    def pick(hs):
        def with_max(mh):
            winner = F.transform(
                hs, lambda c: F.when(c["hits"] == mh, c["lang"])
            )
            first_winner = F.array_min(
                F.filter(winner, lambda x: x.isNotNull())
            )
            return F.struct(
                F.when(mh > 0, first_winner)
                .otherwise(F.lit("und"))
                .alias("lang_pred"),
                mh.alias("n_hits"),
            )

        return bind1(
            F.array_max(F.transform(hs, lambda c: c["hits"])), with_max
        )

    docs = docs.withColumn("__lid", bind1(F.array(*hit_cols), pick))
    return docs.select(
        "doc_id",
        F.col("__lid")["lang_pred"].alias("lang_pred"),
        F.col("__lid")["n_hits"].alias("n_hits"),
        F.col("lang").alias("lang_label"),
    )


def token_counts(docs: DataFrame, text: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish subword count (letter runs, digit
    runs, single punctuation marks) + a chars/4 heuristic, per doc."""
    n_ws = F.size(tokens(text))
    n_bpe = F.size(F.expr(f"regexp_extract_all({text}, '{BPE_TOKEN_RE}', 0)"))
    return docs.select(
        "doc_id",
        n_ws.cast("long").alias("n_ws_tokens"),
        n_bpe.cast("long").alias("n_bpe_tokens"),
        (F.length(F.col(text)).cast("double") / F.lit(4.0)).alias("n_tok_est"),
    )


def fingerprints(docs: DataFrame, text: str = "text") -> DataFrame:
    """Deterministic document fingerprints: full-text md5 (exact dedup key)
    + first-8-shingle rolling window fingerprint (content-defined; the
    md5-min over a shingle window approximates winnowing's minimum-hash
    selection)."""
    from ..functions.hashing import stable_hash60
    from ..functions.text import shingles

    # materialize the normalized text and shingle array once each
    docs = docs.withColumn("__norm", F.lower(F.trim(F.col(text)))).withColumn(
        "__sh8", F.slice(shingles(text, 3), 1, 8)
    )
    window_min = F.array_min(F.transform(F.col("__sh8"), lambda s: F.md5(s)))
    return docs.select(
        "doc_id",
        F.md5(F.col("__norm")).alias("md5_fingerprint"),
        window_min.alias("winnow_fingerprint"),
        stable_hash60(F.col("__norm")).alias("hash60"),
    )


def token_rarity(docs: DataFrame, text: str = "text") -> DataFrame:
    """Unigram-LM quality signal in rational space: per doc, the mean and
    minimum corpus frequency of its tokens.

    This is the perplexity-style rarity score with the logs stripped out:
    ``avg(count[tok])`` and ``min(count[tok])`` are pure integer
    aggregates (decimal-exact, order-independent), so the result is
    bit-portable across engines -- a real unigram LM would replace the
    identity with ``-ln(count/total)``, whose libm values no two engines
    share.  High ``mean_tok_freq`` = boilerplate-ish; low ``min_tok_freq``
    = contains corpus-rare tokens (OOV-ish / noise).

    Plan: one token explode -> groupBy(token) counts (map-side combined;
    the vocabulary, not the corpus, crosses the shuffle) -> re-join tokens
    to counts keyed on token -> per-doc aggregate.  Token frequency is
    Zipfian, so the join key is exactly the skew AQE's skew-join handles;
    at 100 TB the top-k head of the vocabulary can also be broadcast as a
    separate map-side branch (``plans/scale.salted_join`` pattern).
    """
    toks = docs.select("doc_id", F.explode(tokens(text)).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    return (
        toks.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("freq").alias("sum_freq"),
            F.min("freq").alias("min_tok_freq"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (F.col("sum_freq").cast("double") / F.col("n_tokens").cast("double"))
            .alias("mean_tok_freq"),
            "min_tok_freq",
        )
    )


def sql_token_rarity(src: str = "documents") -> str:
    """DuckDB twin of :func:`token_rarity` (same tokenizer as sql_tokens)."""
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), ' +')) AS tok
            FROM {src}),
        vocab AS (SELECT tok, COUNT(*) AS freq FROM toks GROUP BY tok)
        SELECT t.doc_id,
               COUNT(*) AS n_tokens,
               CAST(CAST(SUM(v.freq) AS BIGINT) AS DOUBLE) / COUNT(*)
                   AS mean_tok_freq,
               MIN(v.freq) AS min_tok_freq
        FROM toks t JOIN vocab v USING (tok)
        GROUP BY t.doc_id
    """


def tf_postings_cached(docs: DataFrame, text: str = "text") -> DataFrame:
    """The per-document term-frequency relation ``(doc_id, tok, tf)``
    as ONE session-scoped persisted artifact (r9 verdict item 3):
    :func:`tfidf_top_terms` and :func:`~.dedup.tfidf_cosine_pairs`
    both start from the identical token-explode aggregation over the
    same corpus, and each re-deriving it repaid the corpus scan +
    explode + shuffle per query.  The relation is vocabulary-sized per
    doc (far smaller than the exploded token stream), so keeping it
    ``localCheckpoint``-ed costs little and the second consumer starts
    from a materialized artifact — the "compute postings once, fan
    consumers out" structure of a production indexing pipeline.

    Keyed and re-verified by :func:`._cache.cached_artifact`; a
    streaming input has no plan hash to key on and is aggregated
    directly."""
    from ._cache import cached_artifact
    from .dedup import fan_out

    if docs.isStreaming:
        return docs.select(
            "doc_id", F.explode(tokens(text)).alias("tok")
        ).groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    return cached_artifact(
        docs, (text,),
        lambda: fan_out(docs)
        .select("doc_id", F.explode(tokens(text)).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf")),
    )


def tfidf_top_terms(docs: DataFrame, text: str = "text", k: int = 5) -> DataFrame:
    """Top-k characteristic terms per document by rational-space TF-IDF.

    Score = ``tf * N / df`` -- the idf with the non-portable ``ln``
    stripped (monotone in the classic tf*ln(N/df) for fixed tf, and
    bit-portable: integer counts, ONE IEEE division).  Ties break by
    token ascending, so the top-k set is fully deterministic.

    Plan: explode once -> (doc, tok) counts (map-side combined) -> token
    document-frequency from that same aggregate (no second corpus scan)
    -> broadcast 1-row N -> per-doc window top-k.  Both shuffles are on
    the natural keys; the Zipf head skews the df aggregate, which AQE
    splits.
    """
    from pyspark.sql import Window

    tf = tf_postings_cached(docs, text)
    df_counts = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_counts, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            "tf",
            "df",
            (
                (F.col("tf") * F.col("n_docs")).cast("double")
                / F.col("df").cast("double")
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("tok")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "tok", "tf", "df", "tfidf", F.col("rank").cast("long").alias("rank"))
    )


def sql_tfidf_top_terms(src: str = "documents", k: int = 5) -> str:
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), ' +')) AS tok
            FROM {src}),
        tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        dfc AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        n AS (SELECT COUNT(*) AS n_docs FROM {src}),
        scored AS (
            SELECT tf.doc_id, tf.tok, tf.tf, dfc.df,
                   CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(dfc.df AS DOUBLE)
                       AS tfidf
            FROM tf JOIN dfc USING (tok) CROSS JOIN n)
        SELECT doc_id, tok, tf, df, tfidf, rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                          ORDER BY tfidf DESC, tok ASC) AS rank
            FROM scored)
        WHERE rank <= {k}
    """


def heavy_hitters(docs: DataFrame, k: int = 20, text: str = "text") -> DataFrame:
    """EXACT corpus-wide heavy hitters — tokens with frequency > n/k —
    via local-threshold candidate pruning plus an exact recount.

    The scalable trick (the two-pass form of Misra-Gries / SpaceSaving):

    * Pass 1 prunes candidates with only per-PARTITION aggregation:
      ``groupBy(spark_partition_id(), token)`` is map-side combinable
      and ships one summary row per (partition, distinct-token) — the
      corpus itself never shuffles.  By pigeonhole, a token whose global
      count exceeds n/k must exceed n_p/k in at least one partition, so
      the union of local-threshold passers is a SUPERSET of every true
      heavy hitter, and each partition contributes at most k-1 of them.
    * Pass 2 recounts exactly, restricted to the (tiny, broadcast)
      candidate set, and applies the global threshold with a
      cross-multiplied integer test.  Partition totals and the grand
      total roll up from the pass-1 summary, so the corpus is exploded
      exactly twice (prune + recount), never more.

    The output is exact and INDEPENDENT of partitioning — partition ids
    only affect which non-hitters get pruned early — so the oracle is a
    plain GROUP BY ... HAVING.  Returns (tok, freq, n_total).
    """
    toks = docs.select(F.explode(tokens(text)).alias("tok"))
    part = toks.withColumn("pid", F.spark_partition_id())
    # ONE corpus explode feeds everything: per-partition totals and the
    # grand total both roll up from the (pid, tok) summary (a few
    # thousand rows), not from re-scanning the corpus
    local = part.groupBy("pid", "tok").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=False)
    per_part = local.groupBy("pid").agg(F.sum("c").alias("np"))
    cand = (
        local.join(per_part, "pid")
        .filter(F.col("c") * k > F.col("np"))
        .select("tok")
        .distinct()
    )
    n_total = local.agg(F.sum("c").cast("long").alias("n_total"))
    return (
        toks.join(F.broadcast(cand), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .crossJoin(F.broadcast(n_total))
        .filter(F.col("freq") * k > F.col("n_total"))
        .select("tok", "freq", "n_total")
    )


def sql_heavy_hitters(src: str = "documents", k: int = 20) -> str:
    return f"""
        WITH toks AS (
            SELECT unnest(string_split_regex(lower(trim(text)), ' +')) AS tok
            FROM {src}),
        n AS (SELECT COUNT(*) AS n_total FROM toks)
        SELECT tok, COUNT(*) AS freq,
               CAST((SELECT n_total FROM n) AS BIGINT) AS n_total
        FROM toks GROUP BY tok
        HAVING COUNT(*) * {k} > (SELECT n_total FROM n)
    """


def inverted_index(
    docs: DataFrame, text: str = "text", max_postings: int = 1000
) -> DataFrame:
    """Inverted index build: per token, document frequency and the
    posting list (ascending doc ids, comma-joined STRING so external
    comparators can hash it).

    Aggregation state is BOUNDED for hot (stop-word-grade) tokens: a
    per-token window ``row_number() <= max_postings`` (ordered by
    doc_id) selects the emitted ids BEFORE ``collect_list``, so the
    collect never holds more than ``max_postings`` elements per key —
    the window's sorted run spills gracefully where an O(df) list heap
    would not.  ``df`` still reports the true document frequency via an
    unbounded-frame window count on the SAME token partitioning (one
    shuffle total; the sort feeds both window functions).  The list is
    ``array_sort``-ed for cross-partitioning determinism.
    """
    toks = docs.select(
        F.col("doc_id"), F.explode(tokens(text)).alias("tok")
    ).distinct()
    w_rank = Window.partitionBy("tok").orderBy("doc_id")
    w_all = Window.partitionBy("tok")
    ranked = toks.select(
        "tok",
        "doc_id",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("df"),
    )
    agg = (
        ranked.filter(F.col("rn") <= max_postings)
        .groupBy("tok")
        .agg(
            F.max("df").alias("df"),
            F.array_sort(F.collect_list("doc_id")).alias("plist"),
        )
    )
    return agg.select(
        "tok",
        "df",
        F.concat_ws(
            ",", F.transform(F.col("plist"), lambda x: x.cast("string"))
        ).alias("postings"),
        F.size("plist").cast("long").alias("n_postings"),
    )


def sql_inverted_index(src: str = "documents", max_postings: int = 1000) -> str:
    return f"""
        WITH toks AS (
            SELECT DISTINCT doc_id,
                   unnest(string_split_regex(lower(trim(text)), ' +')) AS tok
            FROM {src}),
        agg AS (
            SELECT tok, COUNT(*) AS df,
                   list_sort(list(doc_id))[1:{max_postings}] AS plist
            FROM toks GROUP BY tok)
        SELECT tok, df,
               array_to_string(list_transform(plist, x -> CAST(x AS VARCHAR)),
                               ',') AS postings,
               CAST(len(plist) AS BIGINT) AS n_postings
        FROM agg
    """


def ngram_novelty(docs: DataFrame, n: int = 3, text: str = "text") -> DataFrame:
    """Per-document n-gram NOVELTY against the corpus: the fraction of a
    doc's distinct word n-grams whose first corpus occurrence (min
    doc_id) is this doc — boilerplate-heavy docs score near 0, the doc
    that introduced a phrase scores it.  The dedup-adjacent "how much of
    this doc is new material" signal a curation pipeline ranks by.

    Plan: distinct (doc_id, gram) pairs, gram-keyed min aggregation
    (map-side combinable), join back on the gram key — two shuffles,
    both on bounded-width keys; no gram list ever materializes per doc.
    Returns (doc_id, n_distinct_grams, n_novel, novelty_frac).
    """
    from ..functions.text import shingles

    g = docs.select(
        "doc_id", F.explode(shingles(text, n)).alias("s")
    ).distinct()
    first = g.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    per = (
        g.join(first, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return per.select(
        "doc_id",
        "n_distinct_grams",
        F.col("n_novel").cast("long").alias("n_novel"),
        (
            F.col("n_novel").cast("double")
            / F.col("n_distinct_grams").cast("double")
        ).alias("novelty_frac"),
    )


def sql_ngram_novelty(src: str = "documents", n: int = 3) -> str:
    from ..functions.text import sql_shingles, sql_tokens

    return f"""
        WITH words AS (SELECT doc_id, {sql_tokens('text')} AS w FROM {src}),
        g AS (SELECT DISTINCT doc_id, unnest({sql_shingles('w', n)}) AS s
              FROM words),
        first AS (SELECT s, MIN(doc_id) AS first_doc FROM g GROUP BY s),
        per AS (SELECT g.doc_id, COUNT(*) AS n_distinct_grams,
                       SUM(CASE WHEN f.first_doc = g.doc_id
                                THEN 1 ELSE 0 END) AS n_novel
                FROM g JOIN first f ON f.s = g.s
                GROUP BY g.doc_id)
        SELECT doc_id, CAST(n_distinct_grams AS BIGINT) AS n_distinct_grams,
               CAST(n_novel AS BIGINT) AS n_novel,
               CAST(n_novel AS DOUBLE) / CAST(n_distinct_grams AS DOUBLE)
                   AS novelty_frac
        FROM per
    """


def source_overlap(docs: DataFrame, n: int = 3, text: str = "text") -> DataFrame:
    """Pairwise SOURCE-level shingle overlap: for every pair of sources,
    the distinct-n-gram intersection size, per-source set sizes, Jaccard
    and containment — the "which crawls/dumps duplicate each other"
    matrix that decides dedup ordering and mixture weights at corpus
    assembly time.

    Plan: distinct (source, gram), then a gram-keyed self-join produces
    only co-occurring pairs (the shared gram IS the blocking key — never
    an all-pairs product), counted per (src_a, src_b) with src_a <
    src_b.  Output is #sources^2/2 rows; set sizes broadcast back.
    """
    from ..functions.text import shingles

    g = docs.select(
        F.col("source"), F.explode(shingles(text, n)).alias("s")
    ).distinct()
    sizes = g.groupBy("source").agg(F.count(F.lit(1)).alias("n_set"))
    pairs = (
        g.alias("a")
        .join(g.alias("b"), "s")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        pairs.join(
            F.broadcast(sizes.select(F.col("source").alias("src_a"),
                                     F.col("n_set").alias("n_a"))),
            "src_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("src_b"),
                                     F.col("n_set").alias("n_b"))),
            "src_b",
        )
        .select(
            "src_a", "src_b", "n_common", "n_a", "n_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                    "double"
                )
            ).alias("jaccard"),
            (
                F.col("n_common").cast("double")
                / F.least("n_a", "n_b").cast("double")
            ).alias("containment"),
        )
    )


def sql_source_overlap(src: str = "documents", n: int = 3) -> str:
    from ..functions.text import sql_shingles, sql_tokens

    return f"""
        WITH words AS (SELECT doc_id, source, {sql_tokens('text')} AS w
                       FROM {src}),
        g AS (SELECT DISTINCT source, unnest({sql_shingles('w', n)}) AS s
              FROM words),
        sizes AS (SELECT source, COUNT(*) AS n_set FROM g GROUP BY source),
        pairs AS (SELECT a.source AS src_a, b.source AS src_b,
                         COUNT(*) AS n_common
                  FROM g a JOIN g b ON a.s = b.s AND a.source < b.source
                  GROUP BY a.source, b.source)
        SELECT p.src_a, p.src_b,
               CAST(p.n_common AS BIGINT) AS n_common,
               CAST(sa.n_set AS BIGINT) AS n_a,
               CAST(sb.n_set AS BIGINT) AS n_b,
               CAST(p.n_common AS DOUBLE)
                   / CAST(sa.n_set + sb.n_set - p.n_common AS DOUBLE)
                   AS jaccard,
               CAST(p.n_common AS DOUBLE)
                   / CAST(LEAST(sa.n_set, sb.n_set) AS DOUBLE) AS containment
        FROM pairs p
        JOIN sizes sa ON sa.source = p.src_a
        JOIN sizes sb ON sb.source = p.src_b
    """


#: Count-min sketch shape: d hash rows x w buckets.  Error bound:
#: overestimate <= e*n/w with prob 1 - e^-d; 4x1024 gives <=0.3% of n at
#: ~98% per-query confidence.  State is d*w counters regardless of corpus.
CMS_DEPTH = 4
CMS_WIDTH = 1024


def cms_token_counts(
    docs: DataFrame,
    k: int = 20,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    text: str = "text",
) -> DataFrame:
    """Count-min-sketch token frequency estimation + top-k by estimate —
    the BOUNDED-STATE path where :func:`heavy_hitters` is the exact one.

    The sketch is deterministic end-to-end: bucket = md5-based
    ``stable_hash60(i || tok) % width`` per hash row i, counters are
    exact integer aggregates over ``(i, bucket)`` — d*w rows of MODEL
    STATE (the k-means-centroid shape), built with map-side combine so
    the corpus never shuffles token rows — and the estimate for a token
    is the MIN of its d counters (classic CMS upper bound; always >=
    the true count).  No randomness, no floats: the same corpus gives
    the same sketch on any engine/partitioning, so the oracle twin is
    exact even though the ESTIMATE itself is approximate.

    Top-k selection runs over the distinct vocabulary joined against the
    broadcast counter table (vocabulary-sized, not corpus-sized work);
    ties break lexicographically.  Returns (tok, est_count, rank).
    """
    from ..functions.hashing import stable_hash60

    # ONE corpus pass: pre-aggregate to per-token occurrence counts
    # first (map-side combined), then both the sketch and the
    # vocabulary-side probe derive from the SAME token-count relation --
    # the md5 bucket hash runs 2*depth times per DISTINCT token instead
    # of depth times per token OCCURRENCE, the second corpus scan
    # disappears (AQE reuses the groupBy(tok) exchange for both
    # branches), and every counter is the identical integer: c per
    # (i, bucket) = SUM of the per-token counts hashing there.
    tok_counts = (
        docs.select(F.explode(tokens(text)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    vh = tok_counts.select(
        "tok",
        "n",
        F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("i"),
    ).withColumn(
        "bucket",
        stable_hash60(F.concat(F.col("i").cast("string"), F.lit("|"),
                               F.col("tok"))) % width,
    )
    counters = vh.groupBy("i", "bucket").agg(F.sum("n").alias("c"))
    est = (
        vh.join(F.broadcast(counters), ["i", "bucket"])
        .groupBy("tok")
        .agg(F.min("c").cast("long").alias("est_count"))
    )
    from pyspark.sql import Window as W

    wk = W.orderBy(F.desc("est_count"), F.asc("tok"))
    return (
        est.withColumn("rank", F.row_number().over(wk).cast("long"))
        .filter(F.col("rank") <= k)
    )


def sql_cms_token_counts(
    src: str = "documents",
    k: int = 20,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> str:
    from ..functions.hashing import sql_stable_hash60
    from ..functions.text import sql_tokens

    h = sql_stable_hash60("CAST(i AS VARCHAR) || '|' || tok")
    idx = ", ".join(f"({i})" for i in range(depth))
    return f"""
        WITH toks AS (SELECT unnest({sql_tokens('text')}) AS tok
                      FROM {src}),
        rows_ AS (SELECT tok, i.i, ({h}) % {width} AS bucket
                  FROM toks, (VALUES {idx}) AS i(i)),
        counters AS (SELECT i, bucket, COUNT(*) AS c
                     FROM rows_ GROUP BY i, bucket),
        vocab AS (SELECT DISTINCT tok FROM toks),
        vrows AS (SELECT tok, i.i, ({h}) % {width} AS bucket
                  FROM vocab, (VALUES {idx}) AS i(i)),
        est AS (SELECT v.tok, CAST(MIN(c.c) AS BIGINT) AS est_count
                FROM vrows v JOIN counters c
                  ON c.i = v.i AND c.bucket = v.bucket
                GROUP BY v.tok),
        ranked AS (SELECT tok, est_count,
                          CAST(ROW_NUMBER() OVER (ORDER BY est_count DESC,
                                                  tok ASC) AS BIGINT)
                              AS rank
                   FROM est)
        SELECT tok, est_count, rank FROM ranked WHERE rank <= {k}
    """


#: BM25 shape parameters (Robertson-Walker defaults).
BM25_K1, BM25_B = 1.2, 0.75


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    text: str = "text",
) -> DataFrame:
    """Top-k BM25 retrieval for one query (a literal term set), in the
    engine's bit-portable dialect.

    Deviation from textbook BM25, documented: the idf factor is the RAW
    Robertson ratio ``(N - df + 0.5) / (df + 0.5)`` rather than its log
    -- ``ln`` is the one non-portable op in the formula (libm
    transcendentals differ in final ulps across engines; the same
    reason llm/importance.py is log-free), while the ratio preserves
    the idf ORDERING of terms and keeps every op an exactly-rounded
    IEEE +,-,*,/ over exact integer tf/df/dl inputs.  Per-term weights
    are floor-quantized to 1e-9 and summed as BIGINTs, so the document
    score -- and therefore the ranking -- is identical on every engine,
    partitioning, and retry.

    Plan: one token-explode aggregation keyed (doc_id, tok) restricted
    to the query terms BEFORE the shuffle (the filter is the blocking);
    df and avgdl are O(|terms|) and O(1) aggregates broadcast back via
    1-row/terms-row joins; top-k is ``orderBy().limit(k)`` --
    TakeOrderedAndProject, per-partition heaps, no global sort.  The
    corpus shuffles ONCE on (doc_id, tok) of matching terms only.
    """
    terms = F.array(*[F.lit(t) for t in query_terms])
    toks = docs.select(F.col("doc_id"), F.explode(tokens(text)).alias("tok"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("n_toks")
    )
    tf = (
        toks.filter(F.array_contains(terms, F.col("tok")))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    j = (
        tf.join(F.broadcast(df_t), "tok")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
    )
    avgdl = F.col("n_toks").cast("double") / F.col("n_docs").cast("double")
    idf = (
        F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    tfd = F.col("tf").cast("double")
    sat = (tfd * F.lit(BM25_K1 + 1.0)) / (
        tfd
        + F.lit(BM25_K1)
        * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * (F.col("dl").cast("double") / avgdl))
    )
    w_q = F.floor(idf * sat * F.lit(1e9)).cast("long")
    scored = j.groupBy("doc_id").agg(
        F.sum(w_q).alias("score_q"),
        F.count(F.lit(1)).alias("n_terms_hit"),
    )
    topk = scored.orderBy(F.desc("score_q"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score_q"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w).cast("long"))


def sql_bm25_topk(
    query_terms: list[str], k: int = 10, src: str = "documents"
) -> str:
    from ..functions.text import sql_tokens

    lits = ", ".join(f"('{t}')" for t in query_terms)
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest({sql_tokens('text')}) AS tok FROM {src}),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
        stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS n_toks FROM dl),
        tf AS (SELECT doc_id, tok, COUNT(*) AS tf
               FROM toks WHERE tok IN (SELECT t FROM (VALUES {lits}) q(t))
               GROUP BY doc_id, tok),
        df_t AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        scored AS (
            SELECT tf.doc_id,
                   CAST(SUM(CAST(FLOOR(
                       ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                        / (CAST(df AS DOUBLE) + 0.5))
                       * ((CAST(tf AS DOUBLE) * {BM25_K1 + 1.0})
                          / (CAST(tf AS DOUBLE)
                             + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B}
                               * (CAST(dl AS DOUBLE)
                                  / (CAST(n_toks AS DOUBLE)
                                     / CAST(n_docs AS DOUBLE))))))
                       * 1e9) AS BIGINT)) AS BIGINT) AS score_q,
                   COUNT(*) AS n_terms_hit
            FROM tf JOIN df_t USING (tok) JOIN dl USING (doc_id), stats
            GROUP BY tf.doc_id)
        SELECT doc_id, score_q, n_terms_hit,
               CAST(ROW_NUMBER() OVER (ORDER BY score_q DESC, doc_id ASC)
                    AS BIGINT) AS rank
        FROM scored
        ORDER BY score_q DESC, doc_id ASC
        LIMIT {k}
    """


def bpe_merge_pairs(docs: DataFrame, k: int = 20, text: str = "text") -> DataFrame:
    """Top-k adjacent-symbol-pair frequencies over the corpus -- the
    statistic the first BPE merge step (Sennrich et al. 2016) maximizes,
    and the inner loop of tokenizer training.

    Counting rides the DISTINCT-WORD table (word -> corpus count first,
    then pairs per distinct word x count): on natural text the distinct
    vocabulary is orders of magnitude smaller than the token stream, so
    the pair explode -- the expensive generate -- touches vocab-sized
    data, not corpus-sized (the aggregate-before-explode discipline).
    Pair generation is a generate-side ``transform(sequence(...))`` over
    character offsets: no UDF, whole-stage codegen.  Top-k is
    ``orderBy().limit(k)`` (TakeOrderedAndProject) with the total
    (count DESC, pair ASC) order, so the cut is deterministic."""
    words = docs.select(F.explode(tokens(text)).alias("w"))
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    pairs = vocab.filter(F.length("w") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "cnt",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(k)
    )


def sql_bpe_merge_pairs(k: int = 20, src: str = "documents") -> str:
    from ..functions.text import sql_tokens

    return f"""
        WITH words AS (
            SELECT unnest({sql_tokens('text')}) AS w FROM {src}),
        vocab AS (SELECT w, COUNT(*) AS cnt FROM words GROUP BY w),
        pairs AS (
            SELECT substring(w, CAST(i.i AS INT), 2) AS pair, cnt
            FROM vocab, LATERAL unnest(range(1, length(w))) AS i(i)
            WHERE length(w) >= 2)
        SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n_occurrences
        FROM pairs GROUP BY pair
        ORDER BY n_occurrences DESC, pair ASC
        LIMIT {k}
    """


#: Fixed replace applications per BPE merge round: one string replace is
#: non-overlapping left-to-right, so occurrences that shared a boundary
#: space survive a pass; each pass at least halves what's left, and
#: fixture words are far below 2^4 pair positions.
_BPE_MERGE_PASSES = 4


def _bpe_merge_once(s, pair: str):
    """Apply merge rule ``pair`` ("x y" -> "xy") to a padded symbol
    string -- ``_BPE_MERGE_PASSES`` literal replaces, identical
    semantics in Spark and DuckDB (verified: both scan the source
    left-to-right, non-overlapping, no rescan of replacements)."""
    pat = F.lit(" " + pair + " ")
    rep = F.lit(" " + pair.replace(" ", "") + " ")
    for _ in range(_BPE_MERGE_PASSES):
        s = F.replace(s, pat, rep)
    return s


def bpe_train(docs: DataFrame, n_merges: int = 3, text: str = "text") -> DataFrame:
    """Iterative BPE tokenizer training (Sennrich et al. 2016): run
    ``n_merges`` merge rounds over the corpus and return the learned
    merge table -- per round, the chosen pair, its occurrence count at
    selection time, the merged symbol, and the weighted corpus symbol
    count after applying the rule (the curve tokenizer training watches
    flatten).

    Structure is the k-means Lloyd shape: per round, ONE vocab-sized
    aggregation (adjacent-pair counts, map-side combined) feeds a
    deterministic argmax -- (count DESC, pair ASC) via
    TakeOrderedAndProject(1) -- whose single row crosses to the driver
    as MODEL STATE and is baked into the next round's merge expression;
    the corpus-sized token stream is touched ONCE (the word-count
    aggregate), everything iterative rides the distinct-word vocabulary
    (aggregate-before-explode).  At 100 TB the vocab relation is
    millions of rows, not corpus-scale, and each round is one small
    shuffle -- the published BPE trainers (GPT-2, SentencePiece) do
    exactly this single-machine; here every round is distributed.

    Merge application dialect: a merge rewrites every word's padded
    symbol string via ``_BPE_MERGE_PASSES`` non-overlapping literal
    replaces.  On runs of the merged pair longer than 2 this can differ
    from strict leftmost-first BPE (documented; deterministic and
    bit-identical in both engines, which is the contract that matters
    for the oracle).

    Output: (merge_round, pair, n_occurrences, merged,
    vocab_tokens_after), ``n_merges`` rows of driver-held model state.
    """
    spark = docs.sparkSession
    words = docs.select(F.explode(tokens(text)).alias("w"))
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    # padded symbol string: "the" -> " t h e "
    vocab = vocab.select(
        "cnt",
        F.concat(
            F.lit(" "), F.array_join(F.split(F.col("w"), ""), " "), F.lit(" ")
        ).alias("s"),
    ).localCheckpoint(eager=False)
    rows = []
    r = 1
    while r <= n_merges:
        syms = F.split(F.trim(F.col("s")), " ")
        pairs = vocab.filter(F.size(syms) >= 2).select(
            "cnt",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(syms) - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(syms, i),
                        F.element_at(syms, i + F.lit(1)),
                    ),
                )
            ).alias("pair"),
        )
        k_want = min(_BPE_SCAN_TOP_K, n_merges - r + 1 + 8)
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("cnt").alias("n_occ"))
            .orderBy(F.desc("n_occ"), F.asc("pair"))
            .limit(k_want)
            .collect()
        )
        if not top:
            break
        accepted = _bpe_accept_batch(top, k_want, n_merges - r + 1)
        # apply the whole accepted chain IN ORDER; one extra scan
        # computes the per-merge vocab_tokens_after prefix sums
        # (sequential semantics exactly — the chain is what the
        # one-merge-per-round loop would have applied)
        s_expr = F.col("s")
        after_cols = []
        for i, row_a in enumerate(accepted):
            s_expr = _bpe_merge_once(s_expr, row_a["pair"])
            after_cols.append(
                F.sum(
                    F.col("cnt")
                    * F.size(F.split(F.trim(s_expr), " "))
                ).alias(f"t{i}")
            )
        afters = vocab.agg(*after_cols).collect()[0]
        for i, row_a in enumerate(accepted):
            rows.append((
                r, row_a["pair"], int(row_a["n_occ"]),
                row_a["pair"].replace(" ", ""), int(afters[f"t{i}"]),
            ))
            r += 1
        chain = F.col("s")
        for row_a in accepted:
            chain = _bpe_merge_once(chain, row_a["pair"])
        vocab = vocab.select("cnt", chain.alias("s")) \
            .localCheckpoint(eager=False)
    return spark.createDataFrame(
        rows,
        "merge_round bigint, pair string, n_occurrences bigint, "
        "merged string, vocab_tokens_after bigint",
    )


#: top-K candidates collected per pair-count scan (driver model rows)
_BPE_SCAN_TOP_K = 24


def _bpe_accept_batch(top: list, k_want: int, budget: int) -> list:
    """Longest ranked prefix of one pair-count scan that PROVABLY
    equals the strictly-sequential BPE argmax chain (r9 verdict item
    8: batch merges per scan without changing the learned model).

    ``top`` is ranked (count DESC, pair ASC).  The head is always the
    round's true argmax.  A later candidate ``p_i`` stays the argmax of
    its own (hypothetical) sequential round iff nothing the earlier
    accepted merges did could overtake it:

    * ``p_i`` shares NO symbol with any earlier accepted pair — so its
      own count is untouched (merging (a,b) only changes counts of
      pairs containing a or b);
    * every scanned pair that DOES share a symbol with the accepted
      set ranks below ``p_i`` with a STRICTLY smaller count — such
      pairs bound the count of any newly-created pair (a new pair
      (x,ab) inherits at most the old (x,a) count), and strictness
      kills the unknown-name ASC tiebreak;
    * ``p_i``'s count strictly exceeds the scan's tail bound (pairs
      below the collected top-K could also share a symbol).

    Stops at the first unprovable candidate: late rounds with flat
    count distributions degrade gracefully to one merge per scan,
    early Zipfian rounds batch several — fewer driver round-trips,
    identical model either way (differential-tested)."""
    accepted = [top[0]]
    blocked = set(top[0]["pair"].split(" "))
    tail_bound = top[-1]["n_occ"] if len(top) == k_want else 0
    for idx in range(1, len(top)):
        if len(accepted) >= budget:
            break
        row = top[idx]
        a, b = row["pair"].split(" ")
        if a in blocked or b in blocked:
            break
        c = row["n_occ"]
        if c <= tail_bound:
            break
        if any(
            set(t["pair"].split(" ")) & blocked and t["n_occ"] >= c
            for t in top[idx + 1:]
        ):
            break
        accepted.append(row)
        blocked |= {a, b}
    return accepted


def sql_bpe_train(n_merges: int = 3, src: str = "documents") -> str:
    """DuckDB twin of :func:`bpe_train`: the merge rounds unroll into a
    CTE chain (the ``_ivf_kmeans_sql`` pattern) -- each round's argmax
    is a LIMIT 1 CTE and the merge is the same 4 nested replaces."""
    from ..functions.text import sql_tokens

    parts = [
        f"""words AS (SELECT unnest({sql_tokens('text')}) AS w FROM {src}),
        vocab AS (SELECT w, COUNT(*) AS cnt FROM words GROUP BY w),
        v0 AS (SELECT cnt,
                      ' ' || array_to_string(string_split(w, ''), ' ') || ' '
                          AS s
               FROM vocab)"""
    ]
    for r in range(1, n_merges + 1):
        p = r - 1
        merged_expr = "s"
        for _ in range(_BPE_MERGE_PASSES):
            merged_expr = (
                f"replace({merged_expr}, ' ' || b.pair || ' ', "
                f"' ' || replace(b.pair, ' ', '') || ' ')"
            )
        parts.append(f"""
        p{r} AS (SELECT sym[CAST(i.i AS INT)] || ' ' ||
                        sym[CAST(i.i AS INT) + 1] AS pair,
                        SUM(cnt) AS n_occ
                 FROM (SELECT cnt, string_split(trim(s), ' ') AS sym
                       FROM v{p})
                 CROSS JOIN LATERAL unnest(range(1, len(sym))) AS i(i)
                 WHERE len(sym) >= 2
                 GROUP BY 1),
        b{r} AS (SELECT pair, n_occ FROM p{r}
                 ORDER BY n_occ DESC, pair ASC LIMIT 1),
        v{r} AS (SELECT cnt, {merged_expr} AS s
                 FROM v{p} CROSS JOIN b{r} b)""")
    selects = []
    for r in range(1, n_merges + 1):
        selects.append(f"""
        SELECT CAST({r} AS BIGINT) AS merge_round, pair,
               CAST(n_occ AS BIGINT) AS n_occurrences,
               replace(pair, ' ', '') AS merged,
               CAST((SELECT SUM(cnt * len(string_split(trim(s), ' ')))
                     FROM v{r}) AS BIGINT) AS vocab_tokens_after
        FROM b{r}""")
    return "WITH " + ",".join(parts) + " " + " UNION ALL ".join(selects)


def bpe_apply(
    docs: DataFrame,
    n_merges: int = 3,
    text: str = "text",
    merges: list[str] | None = None,
) -> DataFrame:
    """ENCODE with a learned BPE merge table -- the other half of
    :func:`bpe_train` (train once, tokenize the corpus forever): apply
    the ``n_merges`` learned rules in order to every word of every
    document and report per-document token counts.

    ``merges`` accepts a precomputed rule list (the deployment shape: a
    driver-held model applied to any corpus); when omitted the rules are
    learned from ``docs`` itself via :func:`bpe_train` (whose single
    row-per-round output IS the model crossing to the driver).

    The encode pass is NARROW: per doc, a ``transform`` over its own
    token array builds each word's padded symbol string and runs the
    merge replaces inline -- no explode, no join, no shuffle before the
    final nothing (output is per-doc).  At 100 TB this is the map stage
    every tokenizer sharding job runs; the merge table rides in the plan
    (3 rules here; ship as a broadcast data row past ~100s of rules, the
    ``rp_project`` lesson).

    Output: (doc_id, n_words, n_symbols, n_tokens_bpe) -- symbols before
    vs after merging, all integers (fully portable).
    """
    if merges is None:
        merges = [
            r["pair"]
            for r in sorted(
                bpe_train(docs, n_merges, text).collect(),
                key=lambda r: r["merge_round"],
            )
        ]

    def encode(w):
        s = F.concat(
            F.lit(" "), F.array_join(F.split(w, ""), " "), F.lit(" ")
        )
        for p in merges:
            s = _bpe_merge_once(s, p)
        return F.size(F.split(F.trim(s), " ")).cast("long")

    # tokenize once (r11): n_words/n_symbols/n_tokens_bpe each held
    # their own copy of the split
    docs = docs.withColumn("__ws", tokens(text))
    ws = F.col("__ws")
    n_sym = F.aggregate(
        F.transform(ws, lambda w: F.size(F.split(w, "")).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    n_tok = F.aggregate(
        F.transform(ws, encode),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return docs.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_words"),
        n_sym.alias("n_symbols"),
        n_tok.alias("n_tokens_bpe"),
    )


def sql_bpe_apply(n_merges: int = 3, src: str = "documents") -> str:
    """DuckDB twin of :func:`bpe_apply`: the training CTE chain of
    :func:`sql_bpe_train` learns the same rules, then the corpus encode
    unrolls one CTE per merge round."""
    from ..functions.text import sql_tokens

    train = sql_bpe_train(n_merges, src)
    chain = train[len("WITH ") : train.index("SELECT CAST(1")]
    parts = [chain.rstrip().rstrip(",")]
    parts.append(f"""
        docw AS (SELECT doc_id, unnest({sql_tokens('text')}) AS w
                 FROM {src}),
        enc0 AS (SELECT doc_id,
                        CAST(len(string_split(w, '')) AS BIGINT) AS n0,
                        ' ' || array_to_string(string_split(w, ''), ' ')
                            || ' ' AS s
                 FROM docw)""")
    for r in range(1, n_merges + 1):
        merged_expr = "s"
        for _ in range(_BPE_MERGE_PASSES):
            merged_expr = (
                f"replace({merged_expr}, ' ' || b.pair || ' ', "
                f"' ' || replace(b.pair, ' ', '') || ' ')"
            )
        parts.append(f"""
        enc{r} AS (SELECT doc_id, n0, {merged_expr} AS s
                   FROM enc{r - 1} CROSS JOIN b{r} b)""")
    return (
        "WITH "
        + ",".join(parts)
        + f"""
        SELECT doc_id, COUNT(*) AS n_words,
               CAST(SUM(n0) AS BIGINT) AS n_symbols,
               CAST(SUM(len(string_split(trim(s), ' '))) AS BIGINT)
                   AS n_tokens_bpe
        FROM enc{n_merges} GROUP BY doc_id"""
    )


def bigram_predictability(docs: DataFrame, text: str = "text") -> DataFrame:
    """Bigram-LM predictability score: train corpus bigram counts, then
    per document measure what fraction of its token transitions are the
    TRAINED MODEL'S argmax continuation -- the log-free cousin of
    perplexity filtering (CCNet trains a LM and keeps low-perplexity
    text; here the decision statistic is a pure integer ratio, so it is
    bit-portable where log-probabilities are not).  High predictability
    = boilerplate-ish/templated text; near-zero = novel or noisy.

    Plan: ONE corpus scan feeds the bigram-count aggregation (vocab^2-
    bounded, map-side combined); the per-(w1) argmax is a partitioned
    rank over that count table (vocab-sized, not corpus-sized); the
    score join keys on (w1, w2) against the doc's own transition
    multiset.  Token frequency is Zipfian -- the join key skew is the
    AQE skew-join case, same as token_rarity.

    Output: (doc_id, n_transitions, n_predicted, predictability).
    """
    from pyspark.sql import Window

    w = tokens(text)
    trans = docs.select(
        "doc_id",
        F.explode(
            F.when(
                F.size(w) >= 2,
                F.zip_with(
                    F.slice(w, 1, F.size(w) - 1),
                    F.slice(w, 2, F.size(w) - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("t"),
    ).select("doc_id", F.col("t.w1").alias("w1"), F.col("t.w2").alias("w2"))
    counts = trans.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    wr = Window.partitionBy("w1").orderBy(F.desc("c"), F.asc("w2"))
    argmax = (
        counts.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("w1", F.col("w2").alias("w2_pred"))
    )
    scored = trans.join(argmax, "w1", "left").withColumn(
        "hit", (F.col("w2") == F.col("w2_pred")).cast("long")
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.sum("hit").alias("n_predicted"),
        )
        .select(
            "doc_id",
            "n_transitions",
            "n_predicted",
            (F.col("n_predicted").cast("double")
             / F.col("n_transitions").cast("double")).alias("predictability"),
        )
    )


def sql_bigram_predictability(src: str = "documents") -> str:
    """DuckDB twin of :func:`bigram_predictability`."""
    from ..functions.text import sql_tokens

    return f"""
        WITH words AS (SELECT doc_id, {sql_tokens('text')} AS w FROM {src}),
        trans AS (
            SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
            FROM words, LATERAL unnest(range(1, len(w))) AS t(i)
            WHERE len(w) >= 2),
        counts AS (SELECT w1, w2, COUNT(*) AS c FROM trans GROUP BY w1, w2),
        argmax AS (
            SELECT w1, w2 AS w2_pred FROM (
                SELECT w1, w2, ROW_NUMBER() OVER (PARTITION BY w1
                    ORDER BY c DESC, w2 ASC) AS rn
                FROM counts)
            WHERE rn = 1)
        SELECT t.doc_id, COUNT(*) AS n_transitions,
               CAST(SUM(CASE WHEN t.w2 = a.w2_pred THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_predicted,
               CAST(SUM(CASE WHEN t.w2 = a.w2_pred THEN 1 ELSE 0 END)
                    AS DOUBLE) / COUNT(*) AS predictability
        FROM trans t LEFT JOIN argmax a ON a.w1 = t.w1
        GROUP BY t.doc_id
    """


def _trigram_rows(docs: DataFrame, text: str = "text") -> DataFrame:
    """(doc_id, w1, w2, w3) -- every adjacent token triple, generate-side
    (one transform over the doc's own token array, no shuffle)."""
    w = tokens(text)
    tri = F.when(
        F.size(w) >= 3,
        F.zip_with(
            F.zip_with(
                F.slice(w, 1, F.size(w) - 2),
                F.slice(w, 2, F.size(w) - 2),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            ),
            F.slice(w, 3, F.size(w) - 2),
            lambda p, c: F.struct(
                p["w1"].alias("w1"), p["w2"].alias("w2"), c.alias("w3")
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<w1:string,w2:string,w3:string>>")
    )
    return docs.select("doc_id", F.explode(tri).alias("t")).select(
        "doc_id", "t.w1", "t.w2", "t.w3"
    )


def _bigram_rows(docs: DataFrame, text: str = "text") -> DataFrame:
    """(doc_id, b1, b2) -- every adjacent token pair, generate-side."""
    w = tokens(text)
    big = F.when(
        F.size(w) >= 2,
        F.zip_with(
            F.slice(w, 1, F.size(w) - 1),
            F.slice(w, 2, F.size(w) - 1),
            lambda a, b: F.struct(a.alias("b1"), b.alias("b2")),
        ),
    ).otherwise(F.array().cast("array<struct<b1:string,b2:string>>"))
    return docs.select("doc_id", F.explode(big).alias("t")).select(
        "doc_id", "t.b1", "t.b2"
    )


def trigram_backoff_score(
    docs: DataFrame, text: str = "text"
) -> DataFrame:
    """Stupid-Backoff trigram LM scoring (Brants et al. 2007, "Large
    Language Models in Machine Translation" -- THE published web-scale
    LM recipe: no discounting, no normalization, score
    ``S(w3|w1 w2) = c123/c12``, backing off to ``0.4 * c23/c2``, then to
    ``0.4^2 * c3/N``), the perplexity-filtering statistic of
    CCNet-style curation in its distributed-counts form.

    The LM trains on the EVEN-doc_id half of the corpus and scores every
    document, so odd documents genuinely exercise the backoff chain
    (scoring a corpus against a model trained on all of it can never
    back off -- every trigram has count >= 1).  Per-transition scores are
    floor-quantized to a 1e-6 grid and summed as BIGINTs, so the
    per-document score is order-free and engine/partitioning/retry
    exact; every float op before the floor is an exactly-rounded IEEE
    divide/multiply evaluated in the same order in both twins.

    Plan: trigram/bigram extraction is generate-side (zip_with over each
    doc's own token array); model counts are vocab-bounded aggregates of
    the model half, pre-joined MODEL-side into (trigram, c123, c12) and
    (bigram, c23, c2) relations so the corpus-sized score stream joins
    THREE times on token keys (Zipf-skewed -- the AQE skew-join case),
    never more; N rides as a 1-row broadcast.  Output: one row per
    document with >= 1 trigram: (doc_id, n_trigrams, sb_q, sb_score).
    """
    model = trigram_model(docs.filter(F.col("doc_id") % 2 == 0), text)
    return _sb_score_against(_trigram_rows(docs, text), model)


def trigram_model(
    model_docs: DataFrame, text: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The Stupid-Backoff serving model as four relations:
    ``(tri_full, big_full, uni_c, n_row)`` -- trigrams pre-joined with
    their context counts, bigrams with theirs, unigrams, and the 1-row
    total.  All vocab-bounded; built once and reused by the batch
    scorer and the score-on-ingest streaming path."""
    tri_c = (
        _trigram_rows(model_docs, text)
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c123"))
    )
    big_c = (
        _bigram_rows(model_docs, text)
        .groupBy("b1", "b2")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    uni_c = (
        model_docs.select(F.explode(tokens(text)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    n_row = uni_c.agg(F.sum("c1").alias("n_model"))
    # model-side pre-joins: vocab-sized, never corpus-sized
    tri_full = tri_c.join(
        big_c.select(
            F.col("b1").alias("w1"), F.col("b2").alias("w2"),
            F.col("cb").alias("c12"),
        ),
        ["w1", "w2"],
    )
    big_full = big_c.select(
        F.col("b1").alias("w2"), F.col("b2").alias("w3"),
        F.col("cb").alias("c23"),
    ).join(
        uni_c.select(F.col("tok").alias("w2"), F.col("c1").alias("c2")),
        "w2",
    )
    return tri_full, big_full, uni_c, n_row


def _sb_score_against(
    trans: DataFrame,
    model: tuple[DataFrame, DataFrame, DataFrame, DataFrame],
) -> DataFrame:
    """Score a (doc_id, w1, w2, w3) transition stream -- batch or
    streaming -- against a :func:`trigram_model`."""
    tri_full, big_full, uni_c, n_row = model
    j = (
        trans.join(tri_full, ["w1", "w2", "w3"], "left")
        .join(big_full, ["w2", "w3"], "left")
        .join(
            uni_c.select(F.col("tok").alias("w3"), F.col("c1").alias("c3u")),
            "w3",
            "left",
        )
        .crossJoin(F.broadcast(n_row))
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    sq = F.when(
        F.col("c123").isNotNull(),
        F.floor((d("c123") / d("c12")) * F.lit(1e6)),
    ).when(
        F.col("c23").isNotNull(),
        F.floor((F.lit(0.4) * (d("c23") / d("c2"))) * F.lit(1e6)),
    ).otherwise(
        F.floor(
            (F.lit(0.16)
             * (F.coalesce(d("c3u"), F.lit(0.0)) / d("n_model")))
            * F.lit(1e6)
        )
    ).cast("long")
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum(sq).alias("sb_q"),
        )
        .select(
            "doc_id",
            "n_trigrams",
            "sb_q",
            (F.col("sb_q").cast("double")
             / (F.lit(1e6) * F.col("n_trigrams").cast("double"))
             ).alias("sb_score"),
        )
    )


def sql_trigram_backoff_score(src: str = "documents") -> str:
    """DuckDB twin of :func:`trigram_backoff_score` (same model half,
    same backoff chain, same quantized-score decisions)."""
    from ..functions.text import sql_tokens

    return f"""
        WITH words AS (SELECT doc_id, {sql_tokens('text')} AS w FROM {src}),
        tri AS (
            SELECT doc_id, w[i] AS w1, w[i + 1] AS w2, w[i + 2] AS w3
            FROM words, LATERAL unnest(range(1, len(w) - 1)) AS t(i)
            WHERE len(w) >= 3),
        big AS (
            SELECT doc_id, w[i] AS b1, w[i + 1] AS b2
            FROM words, LATERAL unnest(range(1, len(w))) AS t(i)
            WHERE len(w) >= 2),
        tri_c AS (SELECT w1, w2, w3, COUNT(*) AS c123 FROM tri
                  WHERE doc_id % 2 = 0 GROUP BY w1, w2, w3),
        big_c AS (SELECT b1, b2, COUNT(*) AS cb FROM big
                  WHERE doc_id % 2 = 0 GROUP BY b1, b2),
        uni_c AS (SELECT tok, COUNT(*) AS c1 FROM (
                      SELECT doc_id, unnest(w) AS tok FROM words)
                  WHERE doc_id % 2 = 0 GROUP BY tok),
        n_row AS (SELECT CAST(SUM(c1) AS BIGINT) AS n_model FROM uni_c),
        tri_full AS (
            SELECT t.w1, t.w2, t.w3, t.c123, b.cb AS c12
            FROM tri_c t JOIN big_c b ON b.b1 = t.w1 AND b.b2 = t.w2),
        big_full AS (
            SELECT b.b1 AS w2, b.b2 AS w3, b.cb AS c23, u.c1 AS c2
            FROM big_c b JOIN uni_c u ON u.tok = b.b1),
        scored AS (
            SELECT t.doc_id,
                   CASE WHEN tf.c123 IS NOT NULL THEN
                            FLOOR((CAST(tf.c123 AS DOUBLE)
                                   / CAST(tf.c12 AS DOUBLE)) * 1e6)
                        WHEN bf.c23 IS NOT NULL THEN
                            FLOOR((0.4 * (CAST(bf.c23 AS DOUBLE)
                                          / CAST(bf.c2 AS DOUBLE))) * 1e6)
                        ELSE
                            FLOOR((0.16 * (CAST(COALESCE(u.c1, 0) AS DOUBLE)
                                           / CAST(n.n_model AS DOUBLE)))
                                  * 1e6)
                   END AS sq
            FROM tri t
            LEFT JOIN tri_full tf
                   ON tf.w1 = t.w1 AND tf.w2 = t.w2 AND tf.w3 = t.w3
            LEFT JOIN big_full bf ON bf.w2 = t.w2 AND bf.w3 = t.w3
            LEFT JOIN uni_c u ON u.tok = t.w3
            CROSS JOIN n_row n)
        SELECT doc_id, COUNT(*) AS n_trigrams,
               CAST(SUM(sq) AS BIGINT) AS sb_q,
               CAST(SUM(sq) AS DOUBLE) / (1e6 * COUNT(*)) AS sb_score
        FROM scored GROUP BY doc_id
    """


def trigram_score_on_ingest(
    stream_docs: DataFrame,
    model: tuple[DataFrame, DataFrame, DataFrame, DataFrame],
    text: str = "text",
) -> DataFrame:
    """Stupid-Backoff scoring ON INGEST: arriving documents score
    against a FROZEN serving :func:`trigram_model` through the
    streaming engine -- trigram extraction stays generate-side on the
    stream, the three model joins are stream-static (the model
    relations re-broadcast per micro-batch; vocab-bounded, never
    corpus-bounded), and the per-document aggregation runs in the
    state store (complete mode).  Same output columns -- and oracle --
    as the batch :func:`trigram_backoff_score`."""
    return _sb_score_against(_trigram_rows(stream_docs, text), model)


def source_tv_distance(docs: DataFrame, text: str = "text") -> DataFrame:
    """Per-source token-distribution drift: the TOTAL-VARIATION distance
    ``TV(P_source, P_corpus) = 0.5 * sum_t |p_s(t) - p_c(t)|`` between
    each source's unigram distribution and the whole corpus's -- the
    domain-shift diagnostic a mixture designer reads before setting
    sampling weights (and the log-free cousin of the KL term in DoReMi:
    ``ln`` is the one non-portable op, while TV is closed under exact
    integer arithmetic).

    Exactness: with common denominator ``N_s * N``, each in-source term
    is ``|c_st*N - c_t*N_s|`` -- an INTEGER; tokens absent from the
    source contribute ``sum c_t/N = (N - sum_{t in s} c_t) / N``, also
    integer-numerator.  Both sums are order-free BIGINTs, so TV is one
    exact division at the end.  (BIGINT bounds: numerators <=
    2*N*N_s -- fine to ~3e9 corpus tokens; at true 100 TB promote the
    sums to decimal(38,0), the connected-components convention.)

    Plan: one corpus scan -> (source, token) counts (map-side combined);
    token-level corpus totals join vocab-sized relations; per-source
    totals and N ride as broadcasts; output is #sources rows.
    """
    toks = docs.select("source", F.explode(tokens(text)).alias("tok"))
    st = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c_st"))
    src_tot = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    tok_tot = st.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    n_row = src_tot.agg(F.sum("n_s").alias("n"))
    j = (
        st.join(tok_tot, "tok")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(n_row))
    )
    per_src = j.groupBy("source").agg(
        F.max("n_s").alias("n_src_tokens"),
        F.sum(
            F.abs(F.col("c_st") * F.col("n") - F.col("c_t") * F.col("n_s"))
        ).alias("a_num"),
        F.sum("c_t").alias("c_in"),
        F.max("n").alias("n_all"),
    )
    num = (F.col("a_num")
           + (F.col("n_all") - F.col("c_in")) * F.col("n_src_tokens"))
    return per_src.select(
        "source",
        "n_src_tokens",
        num.alias("tv_num"),
        (num.cast("double")
         / (F.lit(2.0) * F.col("n_src_tokens").cast("double")
            * F.col("n_all").cast("double"))).alias("tv"),
    )


def sql_source_tv_distance(src: str = "documents") -> str:
    """DuckDB twin of :func:`source_tv_distance`."""
    from ..functions.text import sql_tokens

    return f"""
        WITH toks AS (
            SELECT source, unnest({sql_tokens('text')}) AS tok FROM {src}),
        st AS (SELECT source, tok, COUNT(*) AS c_st
               FROM toks GROUP BY source, tok),
        src_tot AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s
                    FROM st GROUP BY source),
        tok_tot AS (SELECT tok, CAST(SUM(c_st) AS BIGINT) AS c_t
                    FROM st GROUP BY tok),
        n_row AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM src_tot),
        per_src AS (
            SELECT st.source,
                   MAX(s.n_s) AS n_src_tokens,
                   CAST(SUM(ABS(st.c_st * n.n - t.c_t * s.n_s))
                        AS BIGINT) AS a_num,
                   CAST(SUM(t.c_t) AS BIGINT) AS c_in,
                   MAX(n.n) AS n_all
            FROM st
            JOIN tok_tot t USING (tok)
            JOIN src_tot s USING (source)
            CROSS JOIN n_row n
            GROUP BY st.source)
        SELECT source, n_src_tokens,
               a_num + (n_all - c_in) * n_src_tokens AS tv_num,
               CAST(a_num + (n_all - c_in) * n_src_tokens AS DOUBLE)
                   / (2.0 * CAST(n_src_tokens AS DOUBLE)
                      * CAST(n_all AS DOUBLE)) AS tv
        FROM per_src
    """


def bpe_coverage(
    docs: DataFrame, n_merges: int = 3, text: str = "text"
) -> DataFrame:
    """Tokenizer EVAL: per-source compression achieved by the learned
    BPE merges -- the measured row that decides whether a vocabulary is
    worth shipping (the recall_at_k discipline applied to the tokenizer
    family: train / apply / MEASURE).  ``compression`` is tokens-after
    over symbols-before; 1.0 means the merges never fired on that
    source.  One narrow encode pass + a doc-level join to recover the
    source key + one #sources-bounded aggregate."""
    enc = bpe_apply(docs, n_merges=n_merges, text=text)
    j = enc.join(docs.select("doc_id", "source"), "doc_id")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_symbols").alias("n_symbols"),
            F.sum("n_tokens_bpe").alias("n_tokens_bpe"),
        )
        .select(
            "source",
            "n_docs",
            "n_symbols",
            "n_tokens_bpe",
            (F.col("n_tokens_bpe").cast("double")
             / F.col("n_symbols").cast("double")).alias("compression"),
        )
    )


def sql_bpe_coverage(n_merges: int = 3, src: str = "documents") -> str:
    """DuckDB twin of :func:`bpe_coverage` (wraps the bpe_apply twin)."""
    return f"""
        WITH enc AS ({sql_bpe_apply(n_merges=n_merges, src=src)})
        SELECT d.source,
               COUNT(*) AS n_docs,
               CAST(SUM(enc.n_symbols) AS BIGINT) AS n_symbols,
               CAST(SUM(enc.n_tokens_bpe) AS BIGINT) AS n_tokens_bpe,
               CAST(SUM(enc.n_tokens_bpe) AS DOUBLE)
                   / CAST(SUM(enc.n_symbols) AS DOUBLE) AS compression
        FROM enc JOIN {src} d USING (doc_id)
        GROUP BY d.source
    """


def pmi_pairs(
    docs: DataFrame,
    min_count: int = 5,
    k: int = 50,
    text: str = "text",
    quantum: int = 1_000_000,
) -> DataFrame:
    """Top-k PMI collocations over adjacent token bigrams (Church & Hanks
    1990) -- the corpus-analysis row behind multi-word-expression vocab
    entries and tokenizer merge sanity checks.

    PMI = log P(x,y)/(P(x)P(y)); the log is the one non-portable op, and
    it is monotone, so the RANKING runs on the exact integer quotient
    ``pmi_q = (quantum * c_xy * N) div (c_x * c_y)`` and the double
    ``pmi_ratio`` (one IEEE division of exact integer products) is
    reporting only.  Integer budget: ``quantum * c_xy * N < 2^63`` --
    holds with ~10^2 headroom at sf0.1; drop ``quantum`` (or move the
    products to decimal(38,0)) for corpora past ~10^9 bigrams.

    Plan: ONE corpus-side bigram explode -> one groupBy; both marginals
    and N derive from the vocabulary-sized pair table, never from a
    second corpus pass.  Top-k is orderBy+limit (TakeOrdered -- no global
    window sort), with the deterministic (pmi_q DESC, x, y) total
    tiebreak so the cut is portable."""
    from ..functions.text import shingles

    bg = docs.select(F.explode(shingles(text, 2)).alias("g"))
    pair = (
        bg.groupBy("g")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .select(
            F.element_at(F.split("g", " "), 1).alias("x"),
            F.element_at(F.split("g", " "), 2).alias("y"),
            "c_xy",
        )
    )
    cx = pair.groupBy("x").agg(F.sum("c_xy").alias("c_x"))
    cy = pair.groupBy("y").agg(F.sum("c_xy").alias("c_y"))
    n = pair.agg(F.sum("c_xy").alias("n_bigrams"))
    j = (
        pair.filter(F.col("c_xy") >= min_count)
        .join(cx, "x")
        .join(cy, "y")
        .crossJoin(F.broadcast(n))
    )
    scored = j.select(
        "x",
        "y",
        "c_xy",
        "c_x",
        "c_y",
        "n_bigrams",
        F.expr(f"({quantum} * c_xy * n_bigrams) div (c_x * c_y)").alias(
            "pmi_q"
        ),
        (
            (F.col("c_xy") * F.col("n_bigrams")).cast("double")
            / (F.col("c_x") * F.col("c_y")).cast("double")
        ).alias("pmi_ratio"),
    )
    return scored.orderBy(F.desc("pmi_q"), "x", "y").limit(k)


def sql_pmi_pairs(
    min_count: int = 5,
    k: int = 50,
    src: str = "documents",
    quantum: int = 1_000_000,
) -> str:
    """DuckDB twin of :func:`pmi_pairs`."""
    from ..functions.text import sql_shingles, sql_tokens

    return f"""
        WITH words AS (SELECT doc_id, {sql_tokens('text')} AS w FROM {src}),
        bg AS (SELECT unnest({sql_shingles('w', 2)}) AS g FROM words),
        pair AS (SELECT string_split(g, ' ')[1] AS x,
                        string_split(g, ' ')[2] AS y,
                        COUNT(*) AS c_xy
                 FROM bg GROUP BY 1, 2),
        cx AS (SELECT x, CAST(SUM(c_xy) AS BIGINT) AS c_x
               FROM pair GROUP BY x),
        cy AS (SELECT y, CAST(SUM(c_xy) AS BIGINT) AS c_y
               FROM pair GROUP BY y),
        n AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS n_bigrams FROM pair)
        SELECT p.x, p.y, CAST(p.c_xy AS BIGINT) AS c_xy, c_x, c_y,
               n_bigrams,
               ({quantum} * p.c_xy * n_bigrams) // (c_x * c_y) AS pmi_q,
               CAST(p.c_xy * n_bigrams AS DOUBLE)
                   / CAST(c_x * c_y AS DOUBLE) AS pmi_ratio
        FROM pair p JOIN cx USING (x) JOIN cy USING (y) CROSS JOIN n
        WHERE p.c_xy >= {min_count}
        ORDER BY pmi_q DESC, x, y
        LIMIT {k}
    """


def langid_confusion(docs: DataFrame, text: str = "text") -> DataFrame:
    """Eval harness for :func:`lang_id` (the recall_at_k discipline applied
    to the language-ID family): confusion matrix of predicted vs stored
    language label, with each cell's share of its true-label total --
    per-language recall sits on the diagonal.  Two #langs^2-bounded
    aggregations over the lang_id output; the corpus is scanned once."""
    p = lang_id(docs, text)
    cell = p.groupBy("lang_label", "lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = cell.groupBy("lang_label").agg(F.sum("n_docs").alias("n_label"))
    return cell.join(tot, "lang_label").select(
        "lang_label",
        "lang_pred",
        "n_docs",
        "n_label",
        (
            F.col("n_docs").cast("double") / F.col("n_label").cast("double")
        ).alias("rate"),
    )


def source_token_diversity(docs: DataFrame, text: str = "text") -> DataFrame:
    """Per-source vocabulary-diversity signals, log-free: Simpson index
    ``1 - sum(c_t^2) / N^2`` (the probability two random tokens differ --
    the entropy-filter cousin that needs no log, like
    bigram_predictability vs perplexity) plus the type/token ratio.  A
    boilerplate-flooded or template-generated source shows up as a
    diversity cliff next to its peers.

    One corpus explode -> one (source, token) count -> one #sources
    aggregate; ``sum(c_t^2)`` runs in decimal(38,0) so a 100 TB source
    cannot overflow (emitted as BIGINT -- exact while below 2^63), and
    both ratios are IEEE ops on exact integers (the N*N product is done
    in double: exactly-rounded, portable, no 2^63 ceiling)."""
    from ..functions.text import tokens as _tokens

    st = (
        docs.select("source", F.explode(_tokens(text)).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per = st.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)"))
        .cast("long")
        .alias("sum_c2"),
    )
    n_d = F.col("n_tokens").cast("double")
    return per.select(
        "source",
        "n_tokens",
        "n_types",
        "sum_c2",
        (F.lit(1.0) - F.col("sum_c2").cast("double") / (n_d * n_d))
        .alias("simpson_diversity"),
        (F.col("n_types").cast("double") / n_d).alias("type_token_ratio"),
    )


def sql_source_token_diversity(src: str = "documents") -> str:
    """DuckDB twin of :func:`source_token_diversity`."""
    from ..functions.text import sql_tokens

    return f"""
        WITH toks AS (SELECT source, unnest({sql_tokens('text')}) AS tok
                      FROM {src}),
        st AS (SELECT source, tok, COUNT(*) AS c
               FROM toks GROUP BY source, tok),
        per AS (SELECT source,
                       CAST(SUM(c) AS BIGINT) AS n_tokens,
                       COUNT(*) AS n_types,
                       CAST(SUM(c * c) AS BIGINT) AS sum_c2
                FROM st GROUP BY source)
        SELECT source, n_tokens, n_types, sum_c2,
               1.0 - CAST(sum_c2 AS DOUBLE)
                   / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))
                   AS simpson_diversity,
               CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                   AS type_token_ratio
        FROM per
    """


def vocab_growth(docs: DataFrame, bucket_docs: int = 50) -> DataFrame:
    """Heaps'-law measurement: cumulative corpus tokens vs cumulative
    DISTINCT types as the corpus grows in doc_id order, bucketed every
    ``bucket_docs`` documents — the curve a tokenizer-budget or
    dedup-saturation decision reads (a flattening type curve means new
    documents stop contributing vocabulary).

    Cumulative distinct is not windowable; the trick is exact and
    one-pass: a type is NEW at the document where it FIRST appears
    (min(doc_id) per token — one token-keyed shuffle over distinct
    (token, doc) pairs), so cum_types = running sum of per-bucket
    first-appearance counts.  The running sums are a single-partition
    window over the BUCKET aggregate (O(corpus/bucket_docs) rows of
    integers — aggregate-sized by construction, documented as such),
    never over the corpus."""
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    ).filter(F.col("tok") != "")
    per_doc = toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens")
    )
    first_seen = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    new_types = first_seen.groupBy(
        F.col("first_doc").alias("doc_id")
    ).agg(F.count("*").alias("n_new_types"))
    per_doc = per_doc.join(new_types, "doc_id", "left").select(
        (F.col("doc_id") - F.col("doc_id") % bucket_docs).alias("bucket"),
        "n_tokens",
        F.coalesce("n_new_types", F.lit(0)).alias("n_new_types"),
    )
    agg = per_doc.groupBy("bucket").agg(
        F.sum("n_tokens").alias("bucket_tokens"),
        F.sum("n_new_types").alias("bucket_types"),
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return agg.select(
        "bucket",
        F.sum("bucket_tokens").over(w).alias("cum_tokens"),
        F.sum("bucket_types").over(w).alias("cum_types"),
    )


def sql_vocab_growth(bucket_docs: int = 50, src: str = "documents") -> str:
    """DuckDB twin of :func:`vocab_growth`."""
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), ' +'))
                       AS tok
            FROM {src}),
        tok2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
        per_doc AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
            FROM tok2 GROUP BY doc_id),
        first_seen AS (
            SELECT tok, MIN(doc_id) AS first_doc FROM tok2 GROUP BY tok),
        new_types AS (
            SELECT first_doc AS doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_new_types
            FROM first_seen GROUP BY first_doc),
        b AS (
            SELECT p.doc_id - p.doc_id % {bucket_docs} AS bucket,
                   p.n_tokens,
                   COALESCE(n.n_new_types, 0) AS n_new_types
            FROM per_doc p LEFT JOIN new_types n USING (doc_id)),
        agg AS (
            SELECT bucket,
                   CAST(SUM(n_tokens) AS BIGINT) AS bucket_tokens,
                   CAST(SUM(n_new_types) AS BIGINT) AS bucket_types
            FROM b GROUP BY bucket)
        SELECT bucket,
               CAST(SUM(bucket_tokens) OVER (ORDER BY bucket
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
               CAST(SUM(bucket_types) OVER (ORDER BY bucket
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types
        FROM agg
    """
