"""Text analysis for LLM training-data pipelines over `documents`.

All pure built-in expressions (no Python UDFs): tokenization is
split/regexp, scoring is arithmetic — everything stays in
WholeStageCodegen and scales linearly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_playground_spark.functions.dedup import _fanout
from parquet_playground_spark.operators.distrank import global_rank
from parquet_playground_spark.registry import register, track_persist
from parquet_playground_spark.tables import load_table, sql_on_tables


@register(
    "text_tokenize_counts",
    oracle="""
        SELECT tok, count(*) AS tf, count(DISTINCT doc_id) AS df
        FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(text), '\\s+')) AS tok
            FROM documents
        )
        WHERE tok <> ''
        GROUP BY tok
    """,
)
def text_tokenize_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global term + document frequencies (the TF/DF core of any corpus
    statistic). explode -> groupBy(token): map-side combinable.

    Deliberately NO _fanout here: the explode is cheap (string split,
    no hashing), so at test scale the extra exchange's stage overhead
    exceeds the single-split serialization it removes (measured cold
    in fresh sessions: 1.93 s direct vs 2.34 s with fanout at sf0.1).
    _fanout pays only when per-row compute is heavy (md5 per shingle
    in dedup: 56 s -> 2.5 s); at 100 TB the source has thousands of
    splits and the question disappears."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    return tok.groupBy("tok").agg(
        F.count("*").alias("tf"), F.countDistinct("doc_id").alias("df")
    )


@register(
    "text_lang_stats",
    oracle="""
        SELECT lang, source,
               count(*) AS n_docs,
               CAST(floor(CAST(sum(CAST(n_chars AS BIGINT)) AS DOUBLE)
                          / count(n_chars) * 10000.0 + 0.5) AS DOUBLE)
                   / 10000.0 AS avg_chars,
               CAST(min(n_chars) AS BIGINT) AS min_chars,
               CAST(max(n_chars) AS BIGINT) AS max_chars
        FROM documents
        GROUP BY lang, source
    """,
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # avg_chars as exact-integer sum/count + portable floor (q1 avg
    # pattern, r8 VERDICT item 2): n_chars is integral, so the only
    # float op is one identical IEEE division on both engines.
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        (
            F.floor(
                F.sum(F.col("n_chars").cast("bigint")).cast("double")
                / F.count("n_chars")
                * 10000.0
                + 0.5
            ).cast("double")
            / 10000.0
        ).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# Stopword seed lists for the n-gram/heuristic language scorer.
_EN_STOPS = ("the", "a", "of", "and", "to", "in", "is")
_QUALITY_STOPS = _EN_STOPS + ("for", "on", "with", "as", "at", "by", "it")


def _stop_hits_sql(col: str, stops: tuple[str, ...]) -> str:
    return " + ".join(
        f"len(list_filter(toks_{col}, t -> t = '{s}'))" for s in stops
    )


@register(
    "text_quality_score",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   length(text) AS n_len,
                   string_split_regex(lower(text), '\\s+') AS toks,
                   length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct
            FROM documents
        )
        SELECT doc_id,
               n_len AS text_len,
               len(toks) AS n_tokens,
               round(CAST(n_punct AS DOUBLE) / n_len, 4) AS punct_ratio,
               round(CAST(len(list_filter(toks,
                   t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
                   / len(toks), 4) AS stopword_ratio,
               round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4)
                   AS ttr
        FROM t
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality heuristics: length, punctuation ratio, stopword ratio,
    type-token ratio — the standard cheap pre-filters for LLM corpora."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), r"\s+")
    stop_arr = F.array(*[F.lit(s) for s in _EN_STOPS])
    n_stops = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_punct = F.length(F.regexp_replace("text", r"[^.,;:!?]", ""))
    return d.select(
        "doc_id",
        F.length("text").alias("text_len"),
        F.size(toks).alias("n_tokens"),
        F.round(n_punct.cast("double") / F.length("text"), 4).alias("punct_ratio"),
        F.round(n_stops.cast("double") / F.size(toks), 4).alias("stopword_ratio"),
        F.round(
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 4
        ).alias("ttr"),
    )


@register(
    "text_langid_heuristic",
    oracle="""
        WITH t AS (
            SELECT doc_id, lang,
                   string_split_regex(lower(text), '\\s+') AS toks
            FROM documents
        ),
        s AS (
            SELECT doc_id, lang,
                   len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS en_hits,
                   len(list_filter(toks, t -> t IN ('der','die','das','und','ist','ein'))) AS de_hits,
                   len(list_filter(toks, t -> t IN ('le','la','et','est','un','une'))) AS fr_hits
            FROM t
        )
        SELECT doc_id, lang AS labeled_lang,
               CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
                    WHEN de_hits >= fr_hits THEN 'de'
                    ELSE 'fr' END AS predicted_lang,
               en_hits, de_hits, fr_hits
        FROM s
    """,
)
def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID (n-gram-heuristic family): count
    language-marker tokens, argmax with a fixed precedence order."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), r"\s+")

    def hits(words: tuple[str, ...]):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    en = hits(_EN_STOPS)
    de = hits(("der", "die", "das", "und", "ist", "ein"))
    fr = hits(("le", "la", "et", "est", "un", "une"))
    pred = (
        F.when((en >= de) & (en >= fr), "en").when(de >= fr, "de").otherwise("fr")
    )
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
        en.alias("en_hits"),
        de.alias("de_hits"),
        fr.alias("fr_hits"),
    )


@register(
    "text_token_count_bpe",
    oracle="""
        SELECT doc_id,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
                   AS n_pieces,
               CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens_est
        FROM documents
    """,
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: BPE-ish regex piece count (letter runs / digit
    runs / single punctuation marks) + the chars/4 estimator."""
    d = load_table(spark, sf_dir, "documents")
    # idx=0 (whole match): the pattern has no capture group, and Spark's
    # default idx=1 errors on group-less patterns.
    pieces = F.regexp_extract_all(
        F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), 0
    )
    return d.select(
        "doc_id",
        F.size(pieces).alias("n_pieces"),
        F.ceil(F.length("text") / 4.0).cast("bigint").alias("n_tokens_est"),
    )


@register(
    "pipeline_corpus_prep",
    oracle="""
        WITH q AS (
            SELECT doc_id, lang, source, text,
                   len(string_split_regex(lower(text), '\\s+')) AS n_toks
            FROM documents
        ),
        f AS (SELECT * FROM q WHERE n_toks >= 40),
        k AS (
            SELECT min(doc_id) AS doc_id
            FROM f GROUP BY md5(lower(trim(text)))
        ),
        kept AS (SELECT f.* FROM f JOIN k USING (doc_id))
        SELECT lang, source,
               count(*) AS n_docs,
               CAST(floor(CAST(sum(CAST(n_toks AS BIGINT)) AS DOUBLE)
                          / count(n_toks) * 10000.0 + 0.5) AS DOUBLE)
                   / 10000.0 AS avg_tokens
        FROM kept
        GROUP BY lang, source
    """,
)
def pipeline_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-prep pipeline in ONE plan: token-count quality
    filter -> exact dedup (keep lowest doc_id per normalized-text hash)
    -> per-(lang, source) stats. The composition a real training-data
    job runs; Catalyst fuses the filter into the scan, the dedup is one
    hash shuffle, and the final agg is |lang x source| rows. At 100 TB
    the same plan holds — the dedup shuffles 16-byte hashes, not text."""
    d = load_table(spark, sf_dir, "documents")
    q = d.select(
        "doc_id",
        "lang",
        "source",
        "text",
        F.size(F.split(F.lower("text"), r"\s+")).alias("n_toks"),
    ).filter(F.col("n_toks") >= 40)
    keep = (
        q.groupBy(F.md5(F.lower(F.trim(F.col("text")))).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept = q.join(keep, "doc_id")
    # avg_tokens as exact-integer sum/count + portable floor (q1 avg
    # pattern, r8 VERDICT item 2).
    return kept.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        (
            F.floor(
                F.sum(F.col("n_toks").cast("bigint")).cast("double")
                / F.count("n_toks")
                * 10000.0
                + 0.5
            ).cast("double")
            / 10000.0
        ).alias("avg_tokens"),
    )


@register(
    "text_fingerprint",
    oracle="""
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(
                   string_split_regex(lower(text), '\\s+'))), ' ')) AS bow_fingerprint
        FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words document fingerprint: md5 over the sorted distinct
    token set — order/duplication-insensitive content identity (the
    cheap cousin of winnowing fingerprints)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), r"\s+")
    return d.select(
        "doc_id",
        F.md5(F.array_join(F.sort_array(F.array_distinct(toks)), " ")).alias(
            "bow_fingerprint"
        ),
    )


@register(
    "doc_chunk_overlap",
    oracle="""
        SELECT doc_id,
               unnest(generate_series(1, n_chars, 80)) AS chunk_start,
               substr(text, unnest(generate_series(1, n_chars, 80)), 100)
                   AS chunk,
               length(substr(text,
                             unnest(generate_series(1, n_chars, 80)), 100))
                   AS chunk_len
        FROM documents
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — 100-char windows, stride 80
    (20-char overlap) — the context-window prep step for embedding /
    retrieval pipelines. Pure JVM sequence+explode+substr: narrow
    until the explode, no Python, parallel per input split (the
    `_fanout` discipline from the dedup family applies upstream at
    small SF)."""
    d = _fanout(load_table(spark, sf_dir, "documents"))
    starts = F.sequence(
        F.lit(1), F.greatest(F.col("n_chars").cast("int"), F.lit(1)), F.lit(80)
    )
    return d.select(
        "doc_id",
        F.explode(starts).alias("chunk_start"),
        "text",
    ).select(
        "doc_id",
        "chunk_start",
        F.substring(F.col("text"), F.col("chunk_start"), 100).alias("chunk"),
        F.length(
            F.substring(F.col("text"), F.col("chunk_start"), 100)
        ).alias("chunk_len"),
    )


@register(
    "pack_concat_split",
    oracle="""
        WITH est AS (
            SELECT doc_id, doc_id % 8 AS shard,
                   CAST(ceil(n_chars / 4.0) AS BIGINT) AS tokens
            FROM documents
        ),
        run AS (
            SELECT doc_id, shard, tokens,
                   sum(tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum
            FROM est
        )
        SELECT shard,
               CAST(floor((cum - tokens) / 512.0) AS BIGINT) AS pack_id,
               count(*) AS n_docs,
               CAST(sum(tokens) AS BIGINT) AS total_tokens
        FROM run
        GROUP BY shard, CAST(floor((cum - tokens) / 512.0) AS BIGINT)
    """,
)
def pack_concat_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing, concat-then-split style: docs are laid
    end-to-end in doc_id order and cut into 512-token packs (token
    estimate: chars/4). Packing runs per shard (doc_id % 8) so the
    running sum is a bounded per-partition window — at 100 TB each
    shard packs independently and no global sort exists. A doc's pack
    is where its FIRST token lands (cum - tokens), the standard
    greedy-concat semantics."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        F.ceil(F.col("n_chars") / 4.0).cast("long").alias("tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = d.withColumn("cum", F.sum("tokens").over(w))
    return (
        run.withColumn(
            "pack_id",
            F.floor((F.col("cum") - F.col("tokens")) / 512).cast("long"),
        )
        .groupBy("shard", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tokens").alias("total_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Retrieval scoring: TF-IDF and BM25


@register(
    "text_tfidf_topterms",
    oracle="""
        WITH tf AS (
            SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                  FROM documents)
            GROUP BY doc_id, t
        ), idf AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), n AS (
            SELECT count(*) AS n_docs FROM documents
        ), scored AS (
            SELECT tf.doc_id, tf.term, tf.tf,
                   round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / idf.df), 6)
                       AS tfidf
            FROM tf JOIN idf USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, tf, tfidf, CAST(rnk AS BIGINT) AS rnk
        FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY tfidf DESC, term ASC) AS rnk
            FROM scored
        )
        WHERE rnk <= 3
    """,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms — the classic keyword extractor
    (and the weighting BM25 refines). Three aggregations, each
    map-combinable: term counts shuffle on (doc, term), document
    frequencies on term, and the corpus size is one scalar. The idf
    table is VOCAB-sized — Heaps-law growth means an unbounded frame
    at 100 TB (typos/numbers/URLs push distinct terms into the
    billions), so it shuffle-joins back on term instead of
    force-broadcasting (q5/q9 defect class); the term exchange it
    already produced for its own aggregate is reused. Scores are rounded to 6
    decimals BEFORE ranking so the per-doc top-3 is engine-stable,
    with the term as the deterministic tie-break."""
    d = load_table(spark, sf_dir, "documents")
    # no _fanout: split+explode is light; cold A/B in fresh sessions
    # showed the extra exchange slightly net-negative (BENCH_local.md)
    tf = (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(idf.hint("merge"), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "tfidf",
                F.col("rnk").cast("bigint").alias("rnk"))
    )


_BM25_TERMS = ("spark", "vector", "merge")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)


@register(
    "text_bm25_search",
    oracle=f"""
        WITH dl AS (
            SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
            FROM documents
        ), stats AS (
            SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
        ), tf AS (
            SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                  FROM documents)
            WHERE t IN ({_BM25_TERMS_SQL})
            GROUP BY doc_id, t
        ), df AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), scored AS (
            SELECT tf.doc_id,
                   ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * ({_BM25_K1} + 1)
                   / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
                      + {_BM25_B} * dl.dl / s.avgdl)) AS term_score
            FROM tf
            JOIN df USING (term)
            JOIN dl USING (doc_id)
            CROSS JOIN stats s
        )
        SELECT doc_id, round(sum(term_score), 6) AS bm25
        FROM scored
        GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id ASC
        LIMIT {_BM25_TOPK}
    """,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval for a fixed query ({", ".join(_BM25_TERMS)}):
    the standard lexical ranker (Robertson/Sparck Jones; the sparse
    half of hybrid RAG retrieval). Term frequencies shuffle on
    (doc, term) but only for the query's terms — the IN filter prunes
    the exploded stream before the shuffle, so cost scales with hits,
    not corpus tokens. Document-frequency and corpus stats are
    broadcast scalars. Deterministic top-{_BM25_TOPK} (score desc,
    doc_id)."""
    # r10 shape (settles the r9 VERDICT item 2 A/B): ONE corpus pass.
    # The r9 "per-row array filter" form (size - size(array_remove))
    # consumed its per_doc projection twice, and predicate pushdown
    # re-expanded the tokenization into the hits FILTER as well, so
    # each document was re-split in three operators across two full
    # scans (`git show e3d5e8c:plans/r10/text_bm25_search_before.txt`
    # nodes (2)/(3)/(5)).
    # Measured old-r8-form vs r9-form, adjacent processes, min-of-4:
    # sf0.1 0.772 vs 0.768 (parity), sf1 1.561 vs 2.764 — the r9
    # shape LOSES 1.8x at 10x docs; the per-row re-tokenization grows
    # with corpus tokens and costs more than the doc-proportional
    # tf-dl join it removed. This form beats both: explode the tokens
    # ONCE and fold dl + per-term tf in a single map-side-combined
    # groupBy(doc_id) — tokens of a doc are co-located with the doc
    # row, so partial aggregation collapses to one narrow row per doc
    # before the only (doc-proportional, 5-column) exchange. The
    # stats aggregate and the hits filter both consume that exchange;
    # runtime exchange reuse executes it once (the r9 lesson). No
    # token-keyed shuffle, no join, one tokenization per document.
    # Exactness: count(*) over exploded tokens == size(split(..)) for
    # non-null text (split returns >= 1 element; the fixture has no
    # null/empty texts at any SF — verified 0.001/0.01/0.1/sf1, and
    # pinned by test_documents_text_never_null_or_empty);
    # sum(when(t = term, 1)) == size - size(array_remove) == tf;
    # dl sums are integer-valued doubles (exact in float64), so
    # avgdl = exact_sum / n is ONE IEEE division — identical across
    # engines and fold orders; scoring expressions are unchanged.
    d = load_table(spark, sf_dir, "documents")
    n_terms = len(_BM25_TERMS)
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("t")
    )
    per_doc = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("dl"),
        *[
            F.sum(
                F.when(F.col("t") == term, F.lit(1)).otherwise(F.lit(0))
            ).alias(f"tf{i}")
            for i, term in enumerate(_BM25_TERMS)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("bigint")).alias(f"df{i}")
            for i in range(n_terms)
        ],
    )
    hits = per_doc.filter(
        sum(F.col(f"tf{i}") for i in range(n_terms)) > 0
    ).crossJoin(F.broadcast(stats))

    def term_score(i: int) -> Column:
        tf = F.col(f"tf{i}")
        idf = F.log(
            1
            + (F.col("n_docs") - F.col(f"df{i}") + 0.5)
            / (F.col(f"df{i}") + 0.5)
        )
        denom = tf + _BM25_K1 * (
            1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
        )
        return idf * tf * (_BM25_K1 + 1) / denom

    bm25 = sum(term_score(i) for i in range(n_terms))
    return (
        hits.select("doc_id", F.round(bm25, 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(_BM25_TOPK)
    )


_VOCAB_MIN_FREQ = 5


@register(
    "tokenizer_vocab_build",
    oracle=f"""
        WITH tok AS (
            SELECT unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        ), freq AS (
            SELECT term, count(*) AS n FROM tok GROUP BY term
        ), tot AS (
            SELECT sum(n) AS total FROM freq
        )
        SELECT f.term, f.n,
               CAST(row_number() OVER (ORDER BY f.n DESC, f.term ASC) - 1
                    AS BIGINT) AS token_id,
               round(CAST(f.n AS DOUBLE) / t.total, 6) AS share
        FROM freq f CROSS JOIN tot t
        WHERE f.n >= {_VOCAB_MIN_FREQ}
    """,
)
def tokenizer_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary construction: corpus term frequencies above
    a floor, assigned dense token ids by (freq desc, term asc) — the
    deterministic id assignment a tokenizer build needs so two runs
    (or two engines) emit the same vocab file. Ids rank over the
    VOCABULARY, not the corpus, and via the distrank bucket two-pass —
    a web-scale vocabulary (heaps-law growth, 100M+ types at 100 TB)
    never collapses onto one sort task; the corpus pass itself is
    map-combinable counts shuffled on the term."""
    d = load_table(spark, sf_dir, "documents")
    freq = (
        _fanout(d)
        .select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= _VOCAB_MIN_FREQ)
    )
    # total over ALL terms (before the floor) must come from the
    # unfiltered counts; recompute cheaply from the corpus
    tot = (
        _fanout(d)
        .select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"))
        .agg(F.count(F.lit(1)).alias("total"))
    )
    ranked = global_rank(
        freq, "n", ["term"], ascending=False, rank_col="__rk"
    )
    return (
        ranked.withColumn("token_id", (F.col("__rk") - 1).cast("bigint"))
        .drop("__rk")
        .crossJoin(F.broadcast(tot))
        .select(
            "term",
            "n",
            "token_id",
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias(
                "share"
            ),
        )
    )


_SEQ_BUCKET = 10


@register(
    "seq_len_distribution",
    oracle=f"""
        WITH lens AS (
            SELECT CAST(floor(len(string_split(text, ' '))
                              / {_SEQ_BUCKET}) * {_SEQ_BUCKET} AS BIGINT)
                       AS bucket
            FROM documents
        ), hist AS (
            SELECT bucket, count(*) AS n_docs FROM lens GROUP BY bucket
        ), tot AS (SELECT sum(n_docs) AS total FROM hist)
        SELECT h.bucket, h.n_docs,
               CAST(sum(h.n_docs) OVER (ORDER BY h.bucket
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_docs,
               round(CAST(sum(h.n_docs) OVER (ORDER BY h.bucket
                     ROWS UNBOUNDED PRECEDING) AS DOUBLE) / t.total, 6)
                   AS cum_share
        FROM hist h CROSS JOIN tot t
    """,
)
def seq_len_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length distribution with cumulative coverage — the
    histogram that picks a training context length ("what fraction of
    docs fit in N tokens?"). Doc lengths bucket map-side; the
    cumulative window runs over the few dozen BUCKETS, not documents,
    so the global (unpartitioned) window is deliberately tiny — the
    same histogram-then-window shape as skew_diagnose_keys."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.floor(F.size(F.split(F.col("text"), " ")) / _SEQ_BUCKET) * _SEQ_BUCKET
    ).cast("bigint")
    hist = d.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = hist.agg(F.sum("n_docs").alias("total"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        hist.withColumn("cum_docs", F.sum("n_docs").over(w).cast("bigint"))
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_docs",
            "cum_docs",
            F.round(
                F.col("cum_docs").cast("double") / F.col("total"), 6
            ).alias("cum_share"),
        )
    )


@register(
    "text_perplexity_proxy",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
            FROM documents
        ), lm AS (
            SELECT t, count(*) AS tf FROM tok GROUP BY t
        ), tot AS (SELECT sum(tf) AS n_tokens FROM lm)
        SELECT tok.doc_id,
               count(*) AS n_tokens,
               round(-sum(ln(CAST(lm.tf AS DOUBLE) / tot.n_tokens))
                     / count(*), 6) AS avg_nll
        FROM tok JOIN lm USING (t) CROSS JOIN tot
        GROUP BY tok.doc_id
    """,
)
def text_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity proxy per document (CCNet-style
    perplexity filtering, Wenzek et al. 2020): average negative
    log-likelihood of each doc's tokens under the corpus unigram
    distribution — high avg_nll = unusual token mix = candidate for
    filtering. The LM is the vocab-sized frequency table — unbounded
    under Heaps' law at 100 TB, so the doc pass shuffle-joins against
    it on the token (reusing the token exchange the LM's own
    aggregate produced) rather than force-broadcasting a
    corpus-scaled frame (q5/q9 defect class) — and reduces. Both engines run the
    same ln on the same ratios (shared libm on one box; at 1e-6
    rounding the summation-order drift is far below the canon)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("t")
    )
    lm = tok.groupBy("t").agg(F.count(F.lit(1)).alias("tf"))
    tot = lm.agg(F.sum("tf").alias("n_tokens"))
    return (
        tok.join(lm.hint("merge"), "t")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                -F.sum(
                    F.log(F.col("tf").cast("double") / F.col("n_tokens"))
                )
                / F.count(F.lit(1)),
                6,
            ).alias("avg_nll"),
        )
    )


@register(
    "text_inverted_index",
    oracle="""
        WITH toks AS (
            SELECT DISTINCT doc_id,
                   unnest(string_split_regex(lower(text), '\\s+')) AS tok
            FROM documents
        ),
        clean AS (
            SELECT doc_id, tok FROM toks WHERE regexp_matches(tok, '^[a-z]+$')
        )
        SELECT tok,
               count(*) AS doc_freq,
               string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                   AS postings
        FROM clean
        GROUP BY tok
        HAVING count(*) >= 100
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build (token -> sorted posting list + document
    frequency) — the retrieval-side complement to text_bm25_search: the
    same explode -> distinct -> groupBy(token) shape that builds a real
    search index. Postings serialize as a comma-joined sorted id list
    so the driver canonicalizer can hash them (array cells don't
    hash). At 100 TB the posting list for a stop-word-frequency token
    is the skew risk — the df >= 100 HAVING models the stop-list cut;
    production would also shard postings by id-range, which this plan's
    groupBy key extends to (token, id_bucket) without restructuring."""
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"),
        )
        .where(F.col("tok").rlike("^[a-z]+$"))
        .distinct()
    )
    return (
        toks.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("doc_freq"),
            F.expr(
                "array_join(transform(sort_array(collect_set(doc_id)),"
                " x -> cast(x as string)), ',')"
            ).alias("postings"),
        )
        .where(F.col("doc_freq") >= 100)
    )


@register(
    "text_classify_naive_bayes",
    oracle="""
        WITH toks AS (
            SELECT doc_id, lang,
                   unnest(string_split_regex(lower(text), '\\s+')) AS tok
            FROM documents
        ),
        tk AS (SELECT * FROM toks WHERE tok <> ''),
        dtf AS (
            SELECT doc_id, lang, tok, count(*) AS tf
            FROM tk GROUP BY doc_id, lang, tok
        ),
        ctc AS (
            SELECT lang AS clang, tok, count(*) AS cnt
            FROM tk GROUP BY lang, tok
        ),
        classes AS (
            SELECT lang AS clang,
                   CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs,
                   CAST(count(*) AS DOUBLE) AS tot_toks
            FROM tk GROUP BY lang
        ),
        consts AS (
            SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v,
                   CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_total
            FROM tk
        ),
        scored AS (
            SELECT d.doc_id, d.lang, c.clang,
                   ln(c.n_docs / k.n_total)
                   + sum(d.tf * (ln(coalesce(t.cnt, 0) + 1.0)
                                 - ln(c.tot_toks + k.v))) AS score
            FROM dtf d
            CROSS JOIN classes c
            CROSS JOIN consts k
            LEFT JOIN ctc t ON t.tok = d.tok AND t.clang = c.clang
            GROUP BY d.doc_id, d.lang, c.clang, c.n_docs, c.tot_toks,
                     k.v, k.n_total
        )
        SELECT doc_id, lang, clang AS pred_lang,
               round(score, 4) AS log_lik,
               CAST(lang = clang AS BOOLEAN) AS correct
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id
                ORDER BY round(score, 4) DESC, clang
            ) AS rnk
            FROM scored
        )
        WHERE rnk = 1
    """,
)
def text_classify_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained and scored
    in one DataFrame plan — the fasttext-style quality/language gate
    every corpus pipeline runs, expressed relationally: class-token
    counts with Laplace smoothing become per-(doc, class) log
    likelihoods via a token equi-join, and the argmax is a per-doc
    window. Shapes: the model (class × token counts) shuffles on
    token, the tiny class table (K rows) broadcasts, and scoring is
    |doc tokens| × K rows — linear in corpus size, never all-pairs.
    Log-space sums are rounded to 4dp on both sides before the argmax
    so double accumulation order can't flip ranks (ties break on
    class name)."""
    tk = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    dtf = tk.groupBy("doc_id", "lang", "tok").agg(F.count("*").alias("tf"))
    ctc = tk.groupBy(F.col("lang").alias("clang"), "tok").agg(
        F.count("*").alias("cnt")
    )
    classes = tk.groupBy(F.col("lang").alias("clang")).agg(
        F.countDistinct("doc_id").cast("double").alias("n_docs"),
        F.count("*").cast("double").alias("tot_toks"),
    )
    consts = tk.agg(
        F.countDistinct("tok").cast("double").alias("v"),
        F.countDistinct("doc_id").cast("double").alias("n_total"),
    )
    scored = (
        dtf.crossJoin(F.broadcast(classes))
        .crossJoin(F.broadcast(consts))
        .join(ctc, ["clang", "tok"], "left")
        .groupBy("doc_id", "lang", "clang", "n_docs", "tot_toks", "v", "n_total")
        .agg(
            F.sum(
                F.col("tf")
                * (
                    F.log(F.coalesce(F.col("cnt"), F.lit(0)) + 1.0)
                    - F.log(F.col("tot_toks") + F.col("v"))
                )
            ).alias("lik")
        )
        .select(
            "doc_id",
            "lang",
            "clang",
            (F.log(F.col("n_docs") / F.col("n_total")) + F.col("lik")).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.round("score", 4).desc(), F.col("clang")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "doc_id",
            "lang",
            F.col("clang").alias("pred_lang"),
            F.round("score", 4).alias("log_lik"),
            (F.col("lang") == F.col("clang")).alias("correct"),
        )
    )


@register(
    "text_pmi_collocations",
    oracle="""
        WITH toks AS (
            SELECT doc_id, tok, pos FROM (
                SELECT doc_id,
                       unnest(string_split_regex(lower(text), '\\s+')) AS tok,
                       generate_subscripts(
                           string_split_regex(lower(text), '\\s+'), 1) AS pos
                FROM documents
            ) WHERE tok <> ''
        ),
        pairs AS (
            SELECT a.tok AS w1, b.tok AS w2, count(*) AS c_xy
            FROM toks a
            JOIN toks b
              ON a.doc_id = b.doc_id AND b.pos - a.pos IN (1, 2)
            GROUP BY a.tok, b.tok
        ),
        uni AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        tot AS (
            SELECT CAST(sum(c_xy) AS DOUBLE) AS t_pairs FROM pairs
        ),
        tot_u AS (SELECT CAST(sum(c) AS DOUBLE) AS t_uni FROM uni)
        SELECT w1, w2, c_xy, pmi FROM (
            SELECT p.w1, p.w2, p.c_xy,
                   round(ln((p.c_xy / t.t_pairs)
                            / ((u1.c / tu.t_uni) * (u2.c / tu.t_uni))), 4)
                       AS pmi,
                   row_number() OVER (
                       ORDER BY round(ln((p.c_xy / t.t_pairs)
                                / ((u1.c / tu.t_uni) * (u2.c / tu.t_uni))), 4)
                                DESC, p.w1, p.w2
                   ) AS rnk
            FROM pairs p
            JOIN uni u1 ON p.w1 = u1.tok
            JOIN uni u2 ON p.w2 = u2.tok
            CROSS JOIN tot t CROSS JOIN tot_u tu
            WHERE p.c_xy >= 5
        ) WHERE rnk <= 50
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining: word pairs co-occurring within a ±2
    token window scored by pointwise mutual information — the classic
    phrase-detection pass (word2vec-style preprocessing) a corpus
    pipeline runs before tokenizer training. The windowed pair
    extraction is an equi-join on (doc_id, pos + offset) with the
    offset exploded from a 2-element literal — linear in corpus size
    with no quadratic self-join — and the unigram/pair statistics are
    map-combinable aggregates joined back by token. PMI is computed
    from integer counts, rounded at 4dp before the global top-50
    ranking (tie-break on the pair itself)."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(F.split(F.lower("text"), r"\s+")).alias("pos0", "tok"),
        )
        .filter(F.col("tok") != "")
        # DuckDB generate_subscripts is 1-based; keep parity (the
        # offsets are relative, but empty-token rows are filtered on
        # both sides AFTER position assignment, so absolute positions
        # must line up).
        .select("doc_id", "tok", (F.col("pos0") + 1).alias("pos"))
    )
    b = toks.select(
        F.col("doc_id").alias("doc_id2"),
        F.col("tok").alias("w2"),
        F.col("pos").alias("pos2"),
    )
    # Explode the literal [1,2] offsets on the left side so the window
    # condition becomes part of the composite equi-key (doc_id, pos+off)
    # — a selective hash join that is linear in corpus size. Joining on
    # doc_id alone with the offset as a residual would be per-document
    # all-pairs (quadratic in document length), the classic blowup.
    left = toks.select(
        "doc_id",
        F.col("tok").alias("w1"),
        "pos",
        F.explode(F.array(F.lit(1), F.lit(2))).alias("off"),
    ).select("doc_id", "w1", (F.col("pos") + F.col("off")).alias("pos_t"))
    pairs = (
        left.join(
            b,
            (F.col("doc_id") == F.col("doc_id2"))
            & (F.col("pos_t") == F.col("pos2")),
        )
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_xy"))
    )
    uni = toks.groupBy("tok").agg(F.count("*").alias("c"))
    t_pairs = pairs.agg(F.sum("c_xy").cast("double").alias("t_pairs"))
    t_uni = uni.agg(F.sum("c").cast("double").alias("t_uni"))
    scored = (
        pairs.filter(F.col("c_xy") >= 5)
        .join(uni.withColumnRenamed("tok", "w1").withColumnRenamed("c", "c1"), "w1")
        .join(uni.withColumnRenamed("tok", "w2").withColumnRenamed("c", "c2"), "w2")
        .crossJoin(F.broadcast(t_pairs))
        .crossJoin(F.broadcast(t_uni))
        .select(
            "w1",
            "w2",
            "c_xy",
            F.round(
                F.log(
                    (F.col("c_xy") / F.col("t_pairs"))
                    / ((F.col("c1") / F.col("t_uni")) * (F.col("c2") / F.col("t_uni")))
                ),
                4,
            ).alias("pmi"),
        )
    )
    w = Window.orderBy(F.col("pmi").desc(), "w1", "w2")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 50)
        .select("w1", "w2", "c_xy", "pmi")
    )


@register(
    "text_repetition_rep_n",
    oracle="""
        WITH t AS (
            SELECT doc_id, string_split(lower(text), ' ') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id, len(toks) AS n,
                   len(list_distinct(toks)) AS u1,
                   len(list_distinct(list_transform(range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i+1]))) AS u2
            FROM t WHERE len(toks) >= 2
        )
        SELECT doc_id, n AS n_tokens,
               floor((1 - CAST(u1 AS DOUBLE) / n) * 1000000.0 + 0.5)
                   / 1000000.0 AS rep1,
               floor((1 - CAST(u2 AS DOUBLE) / (n - 1)) * 1000000.0 + 0.5)
                   / 1000000.0 AS rep2
        FROM s
    """,
)
def text_repetition_rep_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition ratios rep-1/rep-2 (1 − distinct
    n-grams / total n-grams — the repetition metric from the neural
    text degeneration literature, and the Gopher repetition-filter
    class applied per doc): high rep-n marks looping/boilerplate text
    a pretraining filter drops. All array built-ins (split, transform
    over an index sequence, array_distinct) — per-row JVM compute, no
    shuffle at all until a downstream consumer aggregates.

    Complements dedup_char_ngram_repeats (cross-document repeats) with
    the intra-document signal. Ratios are exact integer divisions, so
    both engines compute identical doubles; the projection rounds with
    the shared floor-convention (plain round diverges at .xx5 edges)."""
    from parquet_playground_spark.functions.scalars import _round_stable

    d = load_table(spark, sf_dir, "documents")
    n = F.size(F.col("toks"))
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat(
            F.element_at("toks", i), F.lit(" "), F.element_at("toks", i + 1)
        ),
    )
    return (
        d.select("doc_id", F.split(F.lower("text"), " ").alias("toks"))
        .filter(n >= 2)
        .select(
            "doc_id",
            n.alias("n_tokens"),
            _round_stable(
                1 - F.size(F.array_distinct("toks")).cast("double") / n, 6
            ).alias("rep1"),
            _round_stable(
                1 - F.size(F.array_distinct(bigrams)).cast("double") / (n - 1),
                6,
            ).alias("rep2"),
        )
    )


@register(
    "text_vocab_freq_spectrum",
    oracle="""
        WITH freq AS (
            SELECT tok, count(*) AS f
            FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok
                  FROM documents)
            WHERE tok <> ''
            GROUP BY tok
        )
        SELECT f AS frequency, count(*) AS n_types,
               CAST(sum(f) AS BIGINT) AS n_tokens
        FROM freq
        GROUP BY f
        ORDER BY f
    """,
)
def text_vocab_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary frequency spectrum (Zipf/Heaps audit): for each
    observed term frequency, how many vocabulary types occur exactly
    that often and how many tokens they contribute. The spectrum's
    hapax/low-frequency mass is the standard smoothing input
    (Good-Turing) and a corpus-health signal — a crawl whose hapax
    share collapses is heavily duplicated. Two map-side-combinable
    aggregations: explode->count per type (vocab-sized shuffle), then
    count per frequency (spectrum-sized — tiny). Integer-exact
    end-to-end, so the oracle hash has zero float exposure. At 100 TB
    the first groupBy is the only real shuffle and is the same shape
    as text_tokenize_counts."""
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("f"))
    )
    return (
        freq.groupBy(F.col("f").alias("frequency"))
        .agg(
            F.count("*").alias("n_types"),
            F.sum("f").cast("bigint").alias("n_tokens"),
        )
        .orderBy("frequency")
    )


@register(
    "text_doc_entropy",
    oracle="""
        WITH tok AS (
            SELECT doc_id, tok, count(*) AS c
            FROM (SELECT doc_id,
                         unnest(string_split_regex(lower(text), '\\s+')) AS tok
                  FROM documents)
            WHERE tok <> ''
            GROUP BY doc_id, tok
        ),
        tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
                       count(*) AS n_types
                FROM tok GROUP BY doc_id)
        SELECT t.doc_id, tot.n AS n_tokens, tot.n_types,
               round(-sum((t.c * 1.0 / tot.n) * ln(t.c * 1.0 / tot.n))
                     / ln(2), 4) AS entropy_bits
        FROM tok t JOIN tot USING (doc_id)
        GROUP BY t.doc_id, tot.n, tot.n_types
        ORDER BY t.doc_id
    """,
)
def text_doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram entropy in bits — the information-density
    quality feature: near-zero entropy flags degenerate/repetitive docs
    (a standard pre-training filter alongside the Gopher rules), and
    the (n_tokens, n_types, entropy) triple feeds curriculum ordering.
    Shape: explode -> per-(doc,term) count (map-side combinable, the
    one fact-sized shuffle) -> per-doc reduce. The entropy sum has at
    most |vocab| terms per doc; rounded to 4 dp so sub-ulp libm/
    summation-order drift between engines cannot flip the hash."""
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select(
            "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    tot = tok.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count("*").alias("n_types"),
    )
    p = F.col("c") / F.col("n")
    return (
        tok.join(tot, "doc_id")
        .groupBy("doc_id", "n", "n_types")
        .agg(
            F.round(-F.sum(p * F.log(p)) / F.log(F.lit(2.0)), 4).alias(
                "entropy_bits"
            )
        )
        .select(
            "doc_id",
            F.col("n").alias("n_tokens"),
            "n_types",
            "entropy_bits",
        )
        .orderBy("doc_id")
    )


_LM_K = 0.5


@register(
    "text_bigram_lm_perplexity",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
            FROM documents
        ),
        big AS (
            SELECT doc_id,
                   unnest([ t[CAST(i AS INTEGER)] || ' ' ||
                            t[CAST(i + 1 AS INTEGER)]
                            FOR i IN range(1, len(t)) ]) AS bg
            FROM toks
            WHERE len(t) >= 2
        ),
        bg_counts AS (
            SELECT bg, count(*) AS c12 FROM big GROUP BY bg
        ),
        ctx_counts AS (
            SELECT string_split(bg, ' ')[1] AS w1, sum(c12) AS c1
            FROM bg_counts GROUP BY 1
        ),
        vocab AS (
            SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
            FROM (SELECT unnest(t) AS tok FROM toks) WHERE tok <> ''
        )
        SELECT b.doc_id,
               count(*) AS n_bigrams,
               floor(CAST(sum(CAST(floor(
                       -ln((bc.c12 + {_LM_K})
                           / (cc.c1 + {_LM_K} * vocab.v))
                       * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                     / count(*) / 100000.0 + 0.5) / 10000.0 AS avg_nll,
               floor(exp(CAST(sum(CAST(floor(
                       -ln((bc.c12 + {_LM_K})
                           / (cc.c1 + {_LM_K} * vocab.v))
                       * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                         / count(*) / 1000000000.0) * 10000.0 + 0.5)
                   / 10000.0 AS perplexity
        FROM big b
        JOIN bg_counts bc ON bc.bg = b.bg
        JOIN ctx_counts cc ON cc.w1 = string_split(b.bg, ' ')[1]
        CROSS JOIN vocab
        GROUP BY b.doc_id
        ORDER BY b.doc_id
    """,
)
def text_bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model perplexity per document with add-k
    smoothing (k={_LM_K}) — the CCNet/Wikipedia-LM filtering signal one
    order up from text_perplexity_proxy's unigram model: a doc whose
    own bigrams are globally rare scores high and gets culled or
    down-weighted. Shape: one bigram explode + count (the fact-sized
    shuffle), then the bigram/context LM tables join back onto the
    per-doc bigram stream WITHOUT a forced broadcast — bigram-TYPE
    counts grow with real vocabulary (|V| can reach 10^8+ types on a
    web corpus), so the join strategy is left to AQE: it broadcasts
    when the LM table is genuinely small and falls back to a shuffled
    hash join when it isn't, instead of OOMing the driver on a forced
    hint. Only the 1-row vocab size is explicitly broadcast.

    Determinism (r7 VERDICT item 6, key enters the r9 driver window):
    each bigram's NLL term is floor-quantized to integer NANO-units
    before summing, so the per-doc accumulation is an exact
    order-independent integer add — measured on this host, JVM and
    DuckDB ln()/exp() are bit-DIFFERENT on ~8-10% of inputs, and a
    raw float avg additionally drifts with partial-aggregation order.
    The 4-dp outputs are then single identical IEEE expressions of
    that integer sum (portable floor, never engine round); perplexity
    stays O(10^2) (add-k bigram LM, grows ~ln V), so exp's own
    ulp-level divergence sits ~9 orders below the rounding grid."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.lower("text"), r"\s+").alias("t")
    ).filter(F.size("t") >= 2)
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.concat(
                    F.element_at("t", i), F.lit(" "), F.element_at("t", i + 1)
                ),
            )
        ).alias("bg"),
    )
    bg_counts = bigrams.groupBy("bg").agg(F.count("*").alias("c12"))
    ctx_counts = bg_counts.groupBy(
        F.split("bg", " ")[0].alias("w1")
    ).agg(F.sum("c12").alias("c1"))
    vocab = (
        d.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
        .filter(F.col("tok") != "")
        .agg(F.countDistinct("tok").cast("double").alias("v"))
    )
    nll_u = F.floor(
        -F.log((F.col("c12") + _LM_K) / (F.col("c1") + _LM_K * F.col("v")))
        * 1000000000.0
        + 0.5
    ).cast("long")
    return (
        bigrams.join(bg_counts, "bg")
        .join(
            ctx_counts,
            F.split(F.col("bg"), " ")[0] == F.col("w1"),
        )
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.floor(
                    F.sum(nll_u).cast("double")
                    / F.count(F.lit(1))
                    / 100000.0
                    + 0.5
                )
                / 10000.0
            ).alias("avg_nll"),
            (
                F.floor(
                    F.exp(
                        F.sum(nll_u).cast("double")
                        / F.count(F.lit(1))
                        / 1000000000.0
                    )
                    * 10000.0
                    + 0.5
                )
                / 10000.0
            ).alias("perplexity"),
        )
        .orderBy("doc_id")
    )


_BPE_ORACLE = """
        WITH vocab AS (
            SELECT tok AS word, count(*) AS freq
            FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok
                  FROM documents)
            WHERE tok <> ''
            GROUP BY tok
        ),
        words0 AS (
            SELECT ' ' || array_to_string(string_split(word, ''), ' ')
                   || ' ' AS w,
                   freq
            FROM vocab
        ),
        pairs0 AS (
            SELECT p.pair, CAST(sum(v.freq) AS BIGINT) AS cnt
            FROM words0 v,
                 LATERAL (SELECT unnest([
                     s[CAST(i AS INTEGER)] || ' ' || s[CAST(i + 1 AS INTEGER)]
                     FOR i IN range(1, len(s))
                 ]) AS pair
                 FROM (SELECT string_split(trim(v.w), ' ') AS s)) p
            GROUP BY p.pair
        ),
        best0 AS (
            SELECT pair, cnt FROM pairs0
            ORDER BY cnt DESC, pair LIMIT 1
        ),
        words1 AS (
            SELECT replace(v.w, ' ' || b.pair || ' ',
                           ' ' || replace(b.pair, ' ', '') || ' ') AS w,
                   v.freq
            FROM words0 v CROSS JOIN best0 b
        ),
        pairs1 AS (
            SELECT p.pair, CAST(sum(v.freq) AS BIGINT) AS cnt
            FROM words1 v,
                 LATERAL (SELECT unnest([
                     s[CAST(i AS INTEGER)] || ' ' || s[CAST(i + 1 AS INTEGER)]
                     FOR i IN range(1, len(s))
                 ]) AS pair
                 FROM (SELECT string_split(trim(v.w), ' ') AS s)) p
            GROUP BY p.pair
        ),
        best1 AS (
            SELECT pair, cnt FROM pairs1
            ORDER BY cnt DESC, pair LIMIT 1
        ),
        words2 AS (
            SELECT replace(v.w, ' ' || b.pair || ' ',
                           ' ' || replace(b.pair, ' ', '') || ' ') AS w,
                   v.freq
            FROM words1 v CROSS JOIN best1 b
        ),
        pairs2 AS (
            SELECT p.pair, CAST(sum(v.freq) AS BIGINT) AS cnt
            FROM words2 v,
                 LATERAL (SELECT unnest([
                     s[CAST(i AS INTEGER)] || ' ' || s[CAST(i + 1 AS INTEGER)]
                     FOR i IN range(1, len(s))
                 ]) AS pair
                 FROM (SELECT string_split(trim(v.w), ' ') AS s)) p
            GROUP BY p.pair
        ),
        best2 AS (
            SELECT pair, cnt FROM pairs2
            ORDER BY cnt DESC, pair LIMIT 1
        ),
        words3 AS (
            SELECT replace(v.w, ' ' || b.pair || ' ',
                           ' ' || replace(b.pair, ' ', '') || ' ') AS w,
                   v.freq
            FROM words2 v CROSS JOIN best2 b
        )
        SELECT * FROM (
            SELECT 1 AS merge_rank, pair, cnt FROM best0
            UNION ALL SELECT 2, pair, cnt FROM best1
            UNION ALL SELECT 3, pair, cnt FROM best2
        ) ORDER BY merge_rank
"""

_BPE_SPARK = """
        WITH vocab AS (
            SELECT tok AS word, count(*) AS freq
            FROM (SELECT explode(split(lower(text), '\\\\s+')) AS tok
                  FROM {documents})
            WHERE tok <> ''
            GROUP BY tok
        ),
        words0 AS (
            SELECT concat(' ', array_join(
                       filter(split(word, ''), x -> x <> ''), ' '), ' ') AS w,
                   freq
            FROM vocab
        ),
        pairs0 AS (
            SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
            FROM (
                SELECT freq, explode(transform(
                    sequence(1, size(split(trim(w), ' ')) - 1),
                    i -> concat(element_at(split(trim(w), ' '), i), ' ',
                                element_at(split(trim(w), ' '), i + 1))
                )) AS pair
                FROM words0
                WHERE size(split(trim(w), ' ')) >= 2
            )
            GROUP BY pair
        ),
        best0 AS (
            SELECT pair, cnt FROM pairs0
            ORDER BY cnt DESC, pair LIMIT 1
        ),
        words1 AS (
            SELECT replace(v.w, concat(' ', b.pair, ' '),
                           concat(' ', replace(b.pair, ' ', ''), ' ')) AS w,
                   v.freq
            FROM words0 v CROSS JOIN best0 b
        ),
        pairs1 AS (
            SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
            FROM (
                SELECT freq, explode(transform(
                    sequence(1, size(split(trim(w), ' ')) - 1),
                    i -> concat(element_at(split(trim(w), ' '), i), ' ',
                                element_at(split(trim(w), ' '), i + 1))
                )) AS pair
                FROM words1
                WHERE size(split(trim(w), ' ')) >= 2
            )
            GROUP BY pair
        ),
        best1 AS (
            SELECT pair, cnt FROM pairs1
            ORDER BY cnt DESC, pair LIMIT 1
        ),
        words2 AS (
            SELECT replace(v.w, concat(' ', b.pair, ' '),
                           concat(' ', replace(b.pair, ' ', ''), ' ')) AS w,
                   v.freq
            FROM words1 v CROSS JOIN best1 b
        ),
        pairs2 AS (
            SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
            FROM (
                SELECT freq, explode(transform(
                    sequence(1, size(split(trim(w), ' ')) - 1),
                    i -> concat(element_at(split(trim(w), ' '), i), ' ',
                                element_at(split(trim(w), ' '), i + 1))
                )) AS pair
                FROM words2
                WHERE size(split(trim(w), ' ')) >= 2
            )
            GROUP BY pair
        ),
        best2 AS (
            SELECT pair, cnt FROM pairs2
            ORDER BY cnt DESC, pair LIMIT 1
        ),
        words3 AS (
            SELECT replace(v.w, concat(' ', b.pair, ' '),
                           concat(' ', replace(b.pair, ' ', ''), ' ')) AS w,
                   v.freq
            FROM words2 v CROSS JOIN best2 b
        )
        SELECT * FROM (
            SELECT 1 AS merge_rank, pair, cnt FROM best0
            UNION ALL SELECT 2, pair, cnt FROM best1
            UNION ALL SELECT 3, pair, cnt FROM best2
        ) ORDER BY merge_rank
"""


@register("tokenizer_bpe_merges", oracle=_BPE_ORACLE)
def tokenizer_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL BPE merge training, 3 unrolled iterations: count adjacent
    symbol pairs over the frequency-weighted word-type table, take the
    most frequent pair (count desc, pair asc tie-break), merge it
    corpus-wide via boundary-guarded string replace (symbols joined by
    single spaces, pattern padded with spaces, leftmost-non-overlapping
    on both engines — the textbook algorithm), repeat. Output: the
    learned merge table (rank, pair, weighted count) — what an actual
    tokenizer trainer persists.

    Scale shape: this is how production BPE trainers work too — one
    corpus pass builds the word-type frequency table
    (text_tokenize_counts), and every merge iteration then runs on the
    TYPE table (vocab-sized, ~1M rows at web scale, agg-sized forever),
    never rescanning the corpus. Each iteration is one explode +
    map-combinable count + 1-row broadcast of the winning pair.
    Integer counts end-to-end: zero float exposure."""
    return sql_on_tables(spark, sf_dir, _BPE_SPARK)


_JSD_SQL = """
        WITH tok AS (
            SELECT source, tok, count(*) AS c
            FROM (SELECT source, {unnest} AS tok FROM {documents})
            WHERE tok <> ''
              AND source IN ('src0', 'src1')
            GROUP BY source, tok
        ),
        tot AS (
            SELECT source, sum(c) AS t FROM tok GROUP BY source
        ),
        dist AS (
            SELECT k.tok,
                   coalesce(max(CASE WHEN k.source = 'src0'
                                     THEN CAST(k.c AS DOUBLE) / t.t END),
                            0.0) AS p,
                   coalesce(max(CASE WHEN k.source = 'src1'
                                     THEN CAST(k.c AS DOUBLE) / t.t END),
                            0.0) AS q
            FROM tok k JOIN tot t ON t.source = k.source
            GROUP BY k.tok
        ),
        terms AS (
            SELECT tok, p, q, (p + q) / 2.0 AS m,
                   CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2.0)) / ln(2.0)
                        ELSE 0.0 END
                   + CASE WHEN q > 0
                          THEN q * ln(q / ((p + q) / 2.0)) / ln(2.0)
                          ELSE 0.0 END AS contrib
            FROM dist
        )
        SELECT count(*) AS n_vocab,
               CAST(sum(CASE WHEN p > 0 AND q > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_shared,
               round(sum(contrib) / 2.0, 6) AS jsd_bits
        FROM terms
"""


@register(
    "corpus_source_divergence_jsd",
    oracle=_JSD_SQL.format(
        documents="documents",
        unnest="unnest(string_split_regex(lower(text), '\\s+'))",
    ),
)
def corpus_source_divergence_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence (bits) between two sources' unigram
    distributions — the symmetric, bounded [0,1] mixture-audit metric
    pipelines use to decide whether corpora are near-duplicates,
    complementary, or drifting (KL alone blows up on vocabulary
    mismatches; JSD's mixture midpoint keeps absent words finite,
    handled here by the p>0/q>0 guards). Shape: one explode + (source,
    term) count, 2-row totals, vocab-sized pivot, scalar readout —
    scan-bound. 6-dp rounding absorbs ln/summation drift on these
    O(1) magnitudes."""
    return sql_on_tables(
        spark,
        sf_dir,
        _JSD_SQL.format(
            documents="{documents}",
            unnest="explode(split(lower(text), '\\\\s+'))",
        ),
    )


_NOVELTY_SQL = """
        WITH big AS (
            SELECT doc_id, bg, count(*) AS n_occ
            FROM ({biggen})
            GROUP BY doc_id, bg
        ),
        firsts AS (
            SELECT doc_id, bg, n_occ,
                   min(doc_id) OVER (PARTITION BY bg) AS first_doc
            FROM big
        )
        SELECT doc_id,
               CAST(sum(n_occ) AS BIGINT) AS n_bigrams,
               CAST(sum(CASE WHEN doc_id = first_doc THEN n_occ ELSE 0 END)
                    AS BIGINT) AS n_novel,
               round(sum(CASE WHEN doc_id = first_doc THEN n_occ ELSE 0 END)
                     / CAST(sum(n_occ) AS DOUBLE), 6) AS novelty_rate
        FROM firsts
        GROUP BY doc_id
        ORDER BY doc_id
"""

_NOVELTY_DUCK_BIGGEN = """
            SELECT doc_id,
                   unnest([ t[CAST(i AS INTEGER)] || ' ' ||
                            t[CAST(i + 1 AS INTEGER)]
                            FOR i IN range(1, len(t)) ]) AS bg
            FROM (SELECT doc_id,
                         string_split_regex(lower(text), '\\s+') AS t
                  FROM documents)
            WHERE len(t) >= 2
"""

_NOVELTY_SPARK_BIGGEN = """
            SELECT doc_id, explode(transform(
                sequence(1, size(t) - 1),
                i -> concat(element_at(t, i), ' ', element_at(t, i + 1))
            )) AS bg
            FROM (SELECT doc_id, split(lower(text), '\\\\s+') AS t
                  FROM {documents})
            WHERE size(t) >= 2
"""


@register(
    "text_ngram_novelty_rate",
    oracle=_NOVELTY_SQL.format(biggen=_NOVELTY_DUCK_BIGGEN),
)
def text_ngram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty in ingestion order: the share of a
    doc's bigram occurrences whose bigram has never appeared in any
    earlier doc (min doc_id owns first sight) — the marginal-value
    curve dataset builders watch while growing a corpus: when novelty
    collapses, additional crawl is rehash. Shape: one bigram explode +
    (doc, bigram) count, a per-bigram min-doc window (the one
    bigram-keyed shuffle), then a per-doc readout. Integer counts +
    one final ratio at 6 dp."""
    return sql_on_tables(
        spark, sf_dir, _NOVELTY_SQL.format(biggen=_NOVELTY_SPARK_BIGGEN)
    )


# ---------------------------------------------------------------------------
# tokenizer_unigram_em — SentencePiece-style unigram-LM hard-EM step

_UEM_MAX_WLEN = 12   # word-type cap for the segmentation DP
_UEM_MAX_PIECE = 4   # max candidate piece length
_UEM_TOP_MULTI = 40  # multi-char candidate pieces kept from seeding


def _uem_dp(map_col: str) -> str:
    """Spark SQL Viterbi fold: per word, the segmentation minimizing
    (n_pieces, total piece rank, seg-string) lexicographically.

    The accumulator is the growing dp table (list index p+1 = best
    state covering the first p chars); step i extends the states at
    i-1..i-{_UEM_MAX_PIECE} by any vocabulary piece ending at i and
    keeps the struct-ordering minimum. Lexicographic order on additive
    (np, cost) vectors is translation-invariant, and among equal-cost
    states the seg strings cover identical characters (space < any
    piece char), so prefix-optimality holds and the fold is an EXACT
    argmin over all segmentations — the same result the oracle gets by
    recursive-CTE enumeration. A +100000 sentinel keeps positions
    unreachable under a pruned vocabulary ordered last; it can never
    win while any feasible segmentation exists (iteration 2's
    vocabulary retains every piece used in iteration 1, so every word
    stays feasible)."""
    cands = []
    for j in range(1, _UEM_MAX_PIECE + 1):
        guard = f"i >= {j} AND " if j > 1 else ""
        piece = f"substr(word, i - {j - 1}, {j})"
        prev = f"element_at(acc, i - {j - 1})"
        cands.append(
            f"CASE WHEN {guard}try_element_at({map_col}, {piece}) IS NOT NULL THEN "
            f"named_struct('np', {prev}.np + 1, "
            f"'cost', {prev}.cost + try_element_at({map_col}, {piece}), "
            f"'seg', concat({prev}.seg, ' ', {piece})) END"
        )
    cands.append(
        "named_struct('np', element_at(acc, i).np + 100000, 'cost', 100000, "
        "'seg', concat(element_at(acc, i).seg, ' ', substr(word, i, 1)))"
    )
    return (
        "aggregate(sequence(1, length(word)), "
        "array(named_struct('np', 0, 'cost', 0, 'seg', '')), "
        "(acc, i) -> array_append(acc, element_at(array_sort(filter(array("
        + ", ".join(cands)
        + "), x -> x IS NOT NULL)), 1)), acc -> element_at(acc, -1))"
    )


_UEM_ORACLE = f"""
        WITH RECURSIVE words AS (
            SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq
            FROM (SELECT unnest(string_split_regex(lower(text), '\\s+'))
                      AS tok
                  FROM documents)
            WHERE regexp_matches(tok, '^[a-z]+$')
              AND length(tok) <= {_UEM_MAX_WLEN}
            GROUP BY tok
        ),
        subs AS (
            SELECT substr(word, CAST(p AS INTEGER), CAST(j AS INTEGER))
                       AS piece,
                   CAST(sum(freq) AS BIGINT) AS cnt
            FROM words,
                 range(1, {_UEM_MAX_WLEN + 1}) rp(p),
                 range(1, {_UEM_MAX_PIECE + 1}) rj(j)
            WHERE p <= length(word) AND p + j - 1 <= length(word)
            GROUP BY 1
        ),
        kept AS (
            SELECT piece, cnt FROM (
                SELECT piece, cnt FROM subs WHERE length(piece) > 1
                ORDER BY cnt DESC, piece LIMIT {_UEM_TOP_MULTI})
            UNION ALL
            SELECT piece, cnt FROM subs WHERE length(piece) = 1
        ),
        ranked AS (
            SELECT piece, cnt,
                   CAST(row_number() OVER (ORDER BY cnt DESC, piece)
                        AS INTEGER) AS r
            FROM kept
        ),
        st1 AS (
            SELECT word, 0 AS pos, 0 AS np, 0 AS cost, '' AS seg FROM words
            UNION ALL
            SELECT s.word, s.pos + length(k.piece), s.np + 1, s.cost + k.r,
                   s.seg || ' ' || k.piece
            FROM st1 s JOIN ranked k
              ON k.piece = substr(s.word, s.pos + 1, length(k.piece))
            WHERE s.pos < length(s.word)
        ),
        seg1 AS (
            SELECT word, seg FROM (
                SELECT word, seg,
                       row_number() OVER (PARTITION BY word
                                          ORDER BY np, cost, seg) AS rn
                FROM st1 WHERE pos = length(word)) WHERE rn = 1
        ),
        used1 AS (
            SELECT piece, CAST(sum(freq) AS BIGINT) AS used
            FROM (SELECT w.freq,
                         unnest(string_split(trim(s.seg), ' ')) AS piece
                  FROM seg1 s JOIN words w ON w.word = s.word)
            GROUP BY piece
        ),
        rank2 AS (
            SELECT piece, used,
                   CAST(row_number() OVER (ORDER BY used DESC, piece)
                        AS INTEGER) AS r
            FROM used1 WHERE used > 0
        ),
        st2 AS (
            SELECT word, 0 AS pos, 0 AS np, 0 AS cost, '' AS seg FROM words
            UNION ALL
            SELECT s.word, s.pos + length(k.piece), s.np + 1, s.cost + k.r,
                   s.seg || ' ' || k.piece
            FROM st2 s JOIN rank2 k
              ON k.piece = substr(s.word, s.pos + 1, length(k.piece))
            WHERE s.pos < length(s.word)
        ),
        seg2 AS (
            SELECT word, seg FROM (
                SELECT word, seg,
                       row_number() OVER (PARTITION BY word
                                          ORDER BY np, cost, seg) AS rn
                FROM st2 WHERE pos = length(word)) WHERE rn = 1
        ),
        used2 AS (
            SELECT piece, CAST(sum(freq) AS BIGINT) AS used
            FROM (SELECT w.freq,
                         unnest(string_split(trim(s.seg), ' ')) AS piece
                  FROM seg2 s JOIN words w ON w.word = s.word)
            GROUP BY piece
        )
        SELECT u2.piece,
               CAST(r1.r AS BIGINT) AS seed_rank,
               u1.used AS used_iter1,
               CAST(r2.r AS BIGINT) AS refit_rank,
               u2.used AS used_iter2,
               u1.used = u2.used AS piece_converged
        FROM used2 u2
        JOIN rank2 r2 ON r2.piece = u2.piece
        JOIN ranked r1 ON r1.piece = u2.piece
        JOIN used1 u1 ON u1.piece = u2.piece
        ORDER BY u2.used DESC, u2.piece
        LIMIT 15
"""


@register("tokenizer_unigram_em", oracle=_UEM_ORACLE)
def tokenizer_unigram_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-style unigram-LM tokenizer training, one hard-EM
    round — the sibling of tokenizer_bpe_merges: seed a candidate
    vocabulary (all substrings up to {_UEM_MAX_PIECE} chars of the
    word-type table, top {_UEM_TOP_MULTI} multi-char pieces by
    frequency-weighted count plus every single char for feasibility),
    E-step = per-word Viterbi segmentation under the current piece
    ordering, M-step = re-estimate piece scores from frequency-weighted
    usage and re-rank, then a second E-step under the refit ranks.
    Output: the final top pieces with seed vs refit rank and per-
    iteration usage, plus piece_converged showing the EM fixed point
    (on this corpus hard-EM converges after one round — the refit
    RANKS are the visible payoff: substring-count seeding badly
    misranks pieces that Viterbi never actually uses).

    Instead of float log-probs the DP minimizes (n_pieces, total rank,
    seg) with INTEGER ranks as the -log p surrogate — argmax-stable
    across engines (no ulp-sensitive ln in any compare), same
    tie-break on both sides. The Spark E-step is a linear-time
    aggregate() fold per word (see _uem_dp); the oracle enumerates all
    segmentations by recursive CTE and takes the same argmin, so the
    two independently-derived optima must agree exactly.

    Scale shape: like production unigram trainers, every EM structure
    is VOCAB-sized, never corpus-sized — one corpus pass builds the
    word-type frequency table, candidate seeding and both E-steps run
    on word TYPES (~1M rows at web scale) with the piece->rank map
    broadcast (bounded: top-K pieces + alphabet), and each M-step is
    one map-combinable usage count. The per-word DP is O(len x
    max_piece) inside whole-stage codegen. Integer counts and ranks
    end-to-end: zero float exposure."""
    return sql_on_tables(spark, sf_dir, f"""
        WITH words AS (
            SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq
            FROM (SELECT explode(split(lower(text), '\\\\s+')) AS tok
                  FROM {{documents}})
            WHERE tok RLIKE '^[a-z]+$' AND length(tok) <= {_UEM_MAX_WLEN}
            GROUP BY tok
        ),
        subs AS (
            SELECT substr(word, p, j) AS piece,
                   CAST(sum(freq) AS BIGINT) AS cnt
            FROM words
            LATERAL VIEW explode(sequence(1, length(word))) pt AS p
            LATERAL VIEW explode(sequence(1, {_UEM_MAX_PIECE})) jt AS j
            WHERE p + j - 1 <= length(word)
            GROUP BY substr(word, p, j)
        ),
        kept AS (
            SELECT piece, cnt FROM (
                SELECT piece, cnt FROM subs WHERE length(piece) > 1
                ORDER BY cnt DESC, piece LIMIT {_UEM_TOP_MULTI})
            UNION ALL
            SELECT piece, cnt FROM subs WHERE length(piece) = 1
        ),
        ranked AS (
            SELECT piece, cnt,
                   CAST(row_number() OVER (ORDER BY cnt DESC, piece)
                        AS INT) AS r
            FROM kept
        ),
        vmap AS (
            SELECT map_from_entries(collect_list(struct(piece, r))) AS m
            FROM ranked
        ),
        seg1 AS (
            SELECT word, freq, {_uem_dp('m')}.seg AS seg
            FROM words CROSS JOIN vmap
        ),
        used1 AS (
            SELECT piece, CAST(sum(freq) AS BIGINT) AS used
            FROM (SELECT freq, explode(split(trim(seg), ' ')) AS piece
                  FROM seg1)
            GROUP BY piece
        ),
        rank2 AS (
            SELECT piece, used,
                   CAST(row_number() OVER (ORDER BY used DESC, piece)
                        AS INT) AS r
            FROM used1 WHERE used > 0
        ),
        vmap2 AS (
            SELECT map_from_entries(collect_list(struct(piece, r))) AS m
            FROM rank2
        ),
        seg2 AS (
            SELECT word, freq, {_uem_dp('m')}.seg AS seg
            FROM words CROSS JOIN vmap2
        ),
        used2 AS (
            SELECT piece, CAST(sum(freq) AS BIGINT) AS used
            FROM (SELECT freq, explode(split(trim(seg), ' ')) AS piece
                  FROM seg2)
            GROUP BY piece
        )
        SELECT u2.piece,
               CAST(r1.r AS BIGINT) AS seed_rank,
               u1.used AS used_iter1,
               CAST(r2.r AS BIGINT) AS refit_rank,
               u2.used AS used_iter2,
               u1.used = u2.used AS piece_converged
        FROM used2 u2
        JOIN rank2 r2 ON r2.piece = u2.piece
        JOIN ranked r1 ON r1.piece = u2.piece
        JOIN used1 u1 ON u1.piece = u2.piece
        ORDER BY u2.used DESC, u2.piece
        LIMIT 15
    """)


@register(
    "text_keyword_rake",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split_regex(lower(text), '\\s+')) AS tok,
                   generate_subscripts(
                       string_split_regex(lower(text), '\\s+'), 1) AS pos
            FROM documents
        ),
        marked AS (
            SELECT doc_id, tok, pos,
                   CASE WHEN tok IN ('a', 'the') THEN 1 ELSE 0 END AS stop
            FROM toks WHERE tok <> ''
        ),
        runs AS (
            SELECT doc_id, tok, pos, stop,
                   sum(stop) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS pid
            FROM marked
        ),
        members AS (
            SELECT doc_id, pid, tok, pos,
                   count(*) OVER (PARTITION BY doc_id, pid) AS n_words
            FROM runs WHERE stop = 0
        ),
        kept AS (
            SELECT * FROM members WHERE n_words BETWEEN 1 AND 4
        ),
        wstat AS (
            SELECT tok, count(*) AS freq, sum(n_words) AS deg
            FROM kept GROUP BY tok
        ),
        scored AS (
            SELECT k.doc_id, k.pid, k.tok, k.pos,
                   (CAST(w.deg AS BIGINT) * 1000000) // w.freq AS ws_micro
            FROM kept k JOIN wstat w ON k.tok = w.tok
        ),
        phrases AS (
            SELECT doc_id, pid,
                   string_agg(tok, ' ' ORDER BY pos) AS phrase,
                   CAST(sum(ws_micro) AS BIGINT) AS score_micro
            FROM scored GROUP BY doc_id, pid
        ),
        agg AS (
            SELECT phrase, count(*) AS n_occ,
                   max(score_micro) AS score_micro
            FROM phrases GROUP BY phrase
        )
        SELECT CAST(rnk AS BIGINT) AS rnk, phrase,
               CAST(n_occ AS BIGINT) AS n_occ,
               CAST(score_micro AS DOUBLE) / 1000000.0 AS rake_score
        FROM (
            SELECT *, row_number() OVER (
                ORDER BY score_micro DESC, phrase) AS rnk
            FROM agg)
        WHERE rnk <= 50
        ORDER BY rnk
    """,
)
def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs (capped at 4 words — longer
    runs in this low-stopword corpus are passages, not keyphrases),
    each word is scored degree/frequency over the candidate set
    (degree = sum of lengths of phrases containing the word — words
    that appear inside longer collocations outrank isolated frequent
    words), and a phrase scores the sum of its word scores. Output:
    the global top-50 keyphrases with occurrence counts.

    Determinism: word scores are integerized by EXACT integer division
    (deg*1e6 div freq — no float rational), phrase scores are integer
    sums, and the top-50 tie-breaks on the phrase text.

    Scale shape: tokenization is linear explode; the run segmentation
    is a per-document window (documents are bounded); word stats and
    phrase aggregation are map-combinable groupBys; the word-score
    join keys on the token — vocabulary-sized, broadcastable. Nothing
    pairwise: RAKE over a trillion tokens is two aggregation passes
    and a broadcast join."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(F.split(F.lower("text"), r"\s+")).alias(
                "pos0", "tok"
            ),
        )
        .filter(F.col("tok") != "")
        .select(
            "doc_id",
            "tok",
            (F.col("pos0") + 1).alias("pos"),
            F.when(F.col("tok").isin("a", "the"), 1).otherwise(0).alias(
                "stop"
            ),
        )
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = toks.withColumn("pid", F.sum("stop").over(w_run))
    members = runs.filter(F.col("stop") == 0).withColumn(
        "n_words", F.count(F.lit(1)).over(Window.partitionBy("doc_id", "pid"))
    )
    kept = members.filter(F.col("n_words").between(1, 4))
    wstat = kept.groupBy("tok").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("n_words").alias("deg")
    )
    # wstat is vocab-sized (one row per kept word type) — unbounded at
    # corpus scale, so shuffle-join on tok, never force-broadcast
    scored = kept.join(wstat.hint("merge"), "tok").withColumn(
        "ws_micro", F.expr("deg * 1000000L div freq")
    )
    phrases = scored.groupBy("doc_id", "pid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("phrase"),
        F.sum("ws_micro").cast("bigint").alias("score_micro"),
    )
    agg = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.max("score_micro").alias("score_micro"),
    )
    w_rank = Window.orderBy(F.col("score_micro").desc(), "phrase")
    return (
        agg.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= 50)
        .select(
            F.col("rnk").cast("bigint").alias("rnk"),
            "phrase",
            F.col("n_occ").cast("bigint").alias("n_occ"),
            (F.col("score_micro").cast("double") / 1000000.0).alias(
                "rake_score"
            ),
        )
        .orderBy("rnk")
    )


_KN_D = 0.75  # absolute discount


@register(
    "text_lm_kneser_ney",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
            FROM documents
        ),
        big AS (
            SELECT doc_id,
                   unnest([ t[CAST(i AS INTEGER)] || ' ' ||
                            t[CAST(i + 1 AS INTEGER)]
                            FOR i IN range(1, len(t)) ]) AS bg
            FROM toks
            WHERE len(t) >= 2
        ),
        bg_counts AS (
            SELECT bg, count(*) AS c12 FROM big GROUP BY bg
        ),
        ctx AS (
            SELECT string_split(bg, ' ')[1] AS w1,
                   sum(c12) AS c1, count(*) AS n1f
            FROM bg_counts GROUP BY 1
        ),
        back AS (
            SELECT string_split(bg, ' ')[2] AS w2, count(*) AS n1b
            FROM bg_counts GROUP BY 1
        ),
        tot AS (
            SELECT CAST(count(*) AS DOUBLE) AS b FROM bg_counts
        )
        SELECT g.doc_id,
               count(*) AS n_bigrams,
               floor(CAST(sum(CAST(floor(
                       -ln((greatest(bc.c12 - {_KN_D}, 0.0)
                            + {_KN_D} * cc.n1f * (bk.n1b / tot.b))
                           / cc.c1)
                       * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                     / count(*) / 100000.0 + 0.5) / 10000.0 AS avg_nll,
               floor(exp(CAST(sum(CAST(floor(
                       -ln((greatest(bc.c12 - {_KN_D}, 0.0)
                            + {_KN_D} * cc.n1f * (bk.n1b / tot.b))
                           / cc.c1)
                       * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                         / count(*) / 1000000000.0) * 10000.0 + 0.5)
                   / 10000.0 AS perplexity
        FROM big g
        JOIN bg_counts bc ON bc.bg = g.bg
        JOIN ctx cc ON cc.w1 = string_split(g.bg, ' ')[1]
        JOIN back bk ON bk.w2 = string_split(g.bg, ' ')[2]
        CROSS JOIN tot
        GROUP BY g.doc_id
        ORDER BY g.doc_id
    """,
)
def text_lm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM perplexity per document — the
    smoothing that actually ships in n-gram LM filtering (the add-k
    sibling is text_bigram_lm_perplexity): probability mass is
    absolute-discounted (d=0.75) from seen bigrams and redistributed
    via the CONTINUATION unigram P_cont(w2) = N1+(.,w2)/|bigram types|
    — 'how many contexts does w2 complete' — which fixes add-k's
    overestimate of frequent-but-context-bound words. All model
    tables are aggregates of the bigram TYPE table: c(w1,w2), context
    totals c(w1), fan-out N1+(w1,.), fan-in N1+(.,w2), and the global
    type count; p(w2|w1) = (max(c12-d,0) + d*N1+(w1,.)*P_cont(w2)) /
    c(w1) evaluated per bigram occurrence with one fixed-order
    expression.

    Determinism (r8 VERDICT item 2): every model statistic is an
    exact integer; each bigram's NLL term is floor-quantized to
    integer NANO-units before summing (the text_bigram_lm_perplexity
    pattern — JVM and DuckDB ln() are bit-different on ~8-10% of
    inputs, so a raw float avg is both order- and libm-sensitive),
    and the 4-dp outputs are single identical IEEE expressions of
    that integer sum (portable floor, never engine round).

    Scale shape: identical to the add-k LM — one bigram explode +
    count (the fact-sized shuffle), then joins of vocabulary-sized
    model tables back onto the bigram stream, strategy left to AQE
    (broadcast when genuinely small, shuffled-hash when web-scale).
    Train==eval corpus here, so no unseen-bigram branch is needed;
    a held-out split would add the backoff-to-unigram term."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.lower("text"), r"\s+").alias("t")
    ).filter(F.size("t") >= 2)
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.concat(
                    F.element_at("t", i), F.lit(" "), F.element_at("t", i + 1)
                ),
            )
        ).alias("bg"),
    )
    bg_counts = bigrams.groupBy("bg").agg(F.count("*").alias("c12"))
    ctx = bg_counts.groupBy(F.split("bg", " ")[0].alias("w1")).agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1f")
    )
    back = bg_counts.groupBy(F.split("bg", " ")[1].alias("w2")).agg(
        F.count(F.lit(1)).alias("n1b")
    )
    tot = bg_counts.agg(F.count(F.lit(1)).cast("double").alias("b"))
    p_kn = (
        F.greatest(F.col("c12") - _KN_D, F.lit(0.0))
        + _KN_D * F.col("n1f") * (F.col("n1b") / F.col("b"))
    ) / F.col("c1")
    nll_u = F.floor(-F.log(p_kn) * 1000000000.0 + 0.5).cast("long")
    return (
        bigrams.join(bg_counts, "bg")
        .join(ctx, F.split(F.col("bg"), " ")[0] == F.col("w1"))
        .join(back, F.split(F.col("bg"), " ")[1] == F.col("w2"))
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.floor(
                    F.sum(nll_u).cast("double")
                    / F.count(F.lit(1))
                    / 100000.0
                    + 0.5
                )
                / 10000.0
            ).alias("avg_nll"),
            (
                F.floor(
                    F.exp(
                        F.sum(nll_u).cast("double")
                        / F.count(F.lit(1))
                        / 1000000000.0
                    )
                    * 10000.0
                    + 0.5
                )
                / 10000.0
            ).alias("perplexity"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_ctfidf_class_terms",
    oracle="""
        WITH toks AS (
            SELECT lang, tok FROM (
                SELECT lang,
                       unnest(string_split_regex(lower(text), '\\s+')) AS tok
                FROM documents
            ) t WHERE tok <> ''
        ),
        tc AS (
            SELECT lang, tok, count(*) AS cnt FROM toks GROUP BY lang, tok
        ),
        cls AS (
            SELECT lang, sum(cnt) AS tok_c FROM tc GROUP BY lang
        ),
        ft AS (
            SELECT tok, sum(cnt) AS f_t FROM tc GROUP BY tok
        ),
        avg_sz AS (
            SELECT CAST(sum(tok_c) AS DOUBLE) / count(*) AS a FROM cls
        ),
        scored AS (
            SELECT tc.lang, tc.tok,
                   CAST(floor((CAST(tc.cnt AS DOUBLE) / cls.tok_c)
                              * ln(1.0 + avg_sz.a / ft.f_t)
                              * 1000000.0 + 0.5)
                        AS DOUBLE) / 1000000.0 AS ctfidf
            FROM tc
            JOIN cls ON tc.lang = cls.lang
            JOIN ft ON tc.tok = ft.tok
            CROSS JOIN avg_sz
        )
        SELECT lang, CAST(rnk AS BIGINT) AS rnk, tok, ctfidf
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY lang ORDER BY ctfidf DESC, tok) AS rnk
            FROM scored) t
        WHERE rnk <= 5
        ORDER BY lang, rnk
    """,
)
def text_ctfidf_class_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-based TF-IDF (the BERTopic c-TF-IDF formulation): each
    language is treated as ONE meta-document, and a term's score for a
    class is its in-class rate times ln(1 + avg_class_tokens /
    corpus_term_count) — surfacing the terms that CHARACTERIZE a
    class rather than the globally frequent ones (the per-document
    sibling is text_tfidf_topterms). Output: top-5 signature terms per
    language.

    Determinism: all model counts are exact integers; the score is one
    fixed-order double expression rounded at 6 dp BEFORE ranking, with
    the term as tie-break.

    Scale shape: one token explode -> (class, term) count (the only
    fact-sized shuffle), then class totals (|classes| rows), term
    totals (vocabulary-sized, broadcastable), and a 1-row average —
    cluster-topic labeling of a billion-doc corpus costs one
    aggregation pass plus vocabulary-sized joins."""
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "lang", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
        )
        .filter(F.col("tok") != "")
    )
    tc = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    cls = tc.groupBy("lang").agg(F.sum("cnt").alias("tok_c"))
    ft = tc.groupBy("tok").agg(F.sum("cnt").alias("f_t"))
    avg_sz = cls.agg(
        (F.sum("tok_c").cast("double") / F.count(F.lit(1))).alias("a")
    )
    scored = (
        tc.join(F.broadcast(cls), "lang")
        .join(ft, "tok")
        .crossJoin(F.broadcast(avg_sz))
        .select(
            "lang",
            "tok",
            (
                F.floor(
                    (F.col("cnt").cast("double") / F.col("tok_c"))
                    * F.log(1.0 + F.col("a") / F.col("f_t"))
                    * 1000000.0
                    + 0.5
                ).cast("double")
                / 1000000.0
            ).alias("ctfidf"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.col("ctfidf").desc(), "tok")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("lang", F.col("rnk").cast("bigint").alias("rnk"), "tok", "ctfidf")
        .orderBy("lang", "rnk")
    )


# ---------------------------------------------------------------------------
# tokenizer_wordpiece_encode — greedy longest-match-first segmentation

_WP_STEPS = 16  # words longer than this are excluded (corpus max is 8)
_WP_VOCAB_MULTI = 100  # multi-char pieces kept, by (score desc, piece)


_WP_POS_LENS = (
    f"""
        pos AS (SELECT * FROM (VALUES {", ".join(f"({i})" for i in range(1, _WP_STEPS + 1))}) AS t(p)),
        lens AS (SELECT * FROM (VALUES (4), (3), (2), (1)) AS t(l))"""
)


def _wp_vocab_ctes(words: str) -> str:
    """chars/multi/vocab CTE defs over the {words} relation (shared
    text: the oracle renders them inline; the Spark side materializes
    `vocab` once — every unrolled step equi-joins it, and Catalyst's
    CTE inlining otherwise re-derives the word-type aggregate per
    step)."""
    return f"""
        chars AS (
            SELECT DISTINCT substr(word, p.p, 1) AS piece
            FROM {words} CROSS JOIN pos p
            WHERE p.p <= length(word)
        ),
        multi_scored AS (
            SELECT substr(w.word, p.p, l.l) AS piece,
                   sum(w.freq) AS score
            FROM {words} w CROSS JOIN pos p CROSS JOIN lens l
            WHERE l.l >= 2 AND p.p + l.l - 1 <= length(w.word)
            GROUP BY substr(w.word, p.p, l.l)
        ),
        multi AS (
            SELECT piece FROM (
                SELECT piece, row_number() OVER (
                    ORDER BY score DESC, piece) AS rn
                FROM multi_scored) t
            WHERE rn <= {_WP_VOCAB_MULTI}
        ),
        vocab AS (
            SELECT piece FROM chars UNION ALL SELECT piece FROM multi
        )"""


def _wp_steps_sql(words: str, vocab: str, str_t: str) -> str:
    """s0 + the unrolled greedy steps + final select, over {words} and
    {vocab} relation names (shared text across engines and across the
    inline/materialized renderings)."""
    head = f"""
        s0 AS (
            SELECT word, freq, length(word) AS len, 1 AS pos,
                   CAST('' AS {str_t}) AS enc, 0 AS np
            FROM {words} WHERE length(word) <= {_WP_STEPS}
        )"""
    # Each step references its predecessor EXACTLY ONCE: a second
    # reference (e.g. a UNION ALL carrying finished rows) makes the
    # analyzer inline the whole chain twice per step — a 2^16 plan
    # blowup that OOMs the driver before execution. Finished rows ride
    # along through the same join (their substr matches nothing) and
    # the CASE keeps them unchanged.
    steps = []
    for k in range(1, _WP_STEPS + 1):
        steps.append(f""",
        b{k} AS (
            SELECT s.word, s.freq, s.len, s.pos, s.enc, s.np,
                   max(CASE WHEN v.piece IS NOT NULL THEN l.l END) AS bl
            FROM s{k - 1} s
            CROSS JOIN lens l
            LEFT JOIN {vocab} v
              ON s.pos + l.l - 1 <= s.len
             AND v.piece = substr(s.word, s.pos, l.l)
            GROUP BY s.word, s.freq, s.len, s.pos, s.enc, s.np
        ),
        s{k} AS (
            SELECT word, freq, len,
                   CASE WHEN pos > len THEN pos ELSE pos + bl END AS pos,
                   CASE WHEN pos > len THEN enc
                        WHEN pos = 1 THEN substr(word, pos, bl)
                        ELSE enc || ' ##' || substr(word, pos, bl)
                   END AS enc,
                   CASE WHEN pos > len THEN np ELSE np + 1 END AS np
            FROM b{k}
        )"""
        )
    tail = f"""
        SELECT word, CAST(freq AS BIGINT) AS freq,
               CAST(np AS BIGINT) AS n_pieces, enc AS encoding,
               CAST(CAST(sum(freq * np) OVER () * 1000000 AS BIGINT)
                    {{idiv}} sum(freq) OVER () AS DOUBLE) / 1000000.0
                   AS corpus_fertility
        FROM s{_WP_STEPS}
        ORDER BY word
"""
    return head + "".join(steps) + tail


def _wp_sql(words_cte: str, str_t: str) -> str:
    """Full single-statement greedy-encode SQL — the oracle form
    (composed from the same piece helpers the Spark side materializes
    stage by stage)."""
    return (
        f"""
        WITH words AS ({words_cte}),"""
        + _WP_POS_LENS
        + ","
        + _wp_vocab_ctes("words")
        + ","
        + _wp_steps_sql("words", "vocab", str_t)
    )


_WP_WORDS_DUCK = """
            SELECT tok AS word, count(*) AS freq
            FROM (SELECT unnest(string_split_regex(lower(text), '\\s+'))
                      AS tok
                  FROM documents)
            WHERE tok <> ''
            GROUP BY tok
"""

_WP_WORDS_SPARK = """
            SELECT tok AS word, count(*) AS freq
            FROM (SELECT explode(split(lower(text), '\\\\s+')) AS tok
                  FROM {documents})
            WHERE tok <> ''
            GROUP BY tok
"""


@register(
    "tokenizer_wordpiece_encode",
    oracle=_wp_sql(_WP_WORDS_DUCK, "VARCHAR").format(idiv="//"),
)
def tokenizer_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece-style greedy longest-match-first ENCODING — the
    missing quarter of the tokenizer family (vocab_build counts,
    bpe_merges and unigram_em train; this one segments): every word
    type is walked left-to-right, at each position consuming the
    longest vocabulary piece that matches (pieces are all single
    characters — guaranteeing coverage — plus the top-100 length-2..4
    substrings by corpus-frequency score). The walk is unrolled as 16
    fixed plan steps (corpus max word length is 8; each step consumes
    >= 1 char), each step a 4-way candidate expansion + vocab
    equi-join + per-word longest-match argmax — no driver iteration,
    no UDF. Output: per word type the '##'-marked segmentation and
    piece count, plus the corpus fertility (freq-weighted mean
    pieces/token, the tokenizer-quality headline) via exact integer
    division.

    Determinism: vocab selection ranks on (integer score desc,
    piece); the greedy pick ranks on piece length only (unique per
    state); fertility is integer arithmetic.

    Scale shape: everything after the word-type aggregation operates
    on the TYPE table (vocabulary-sized — the corpus could be 100 TB
    and s0 is still |types| rows); encoding joins back to the corpus
    by word for downstream token streams. This is exactly how
    production tokenizer application is distributed: encode types
    once, broadcast the piece map.

    r9 finding, change REJECTED: materializing `words`/`vocab` via
    track_persist looked attractive (the formatted plan shows the
    corpus tokenize subtree 33x), but measured 2x SLOWER end-to-end
    (4.0 -> 7.9 s at sf0.1, min-of-4 A/B) — the engine already
    dedupes the repeated subtrees at runtime via exchange/stage
    reuse, and the persisted form trades that for two blocking
    cache-fill jobs plus per-step InMemoryTableScan overhead. The
    single-statement form stays; formatted-plan scan counts overstate
    executed work for this plan class."""
    return sql_on_tables(
        spark,
        sf_dir,
        _wp_sql(_WP_WORDS_SPARK, "STRING").format(idiv="div", documents="{documents}"),
    )


@register(
    "text_zipf_fit",
    oracle="""
        WITH vocab AS (
            SELECT tok, count(*) AS freq
            FROM (SELECT unnest(string_split_regex(lower(text), '\\s+'))
                      AS tok
                  FROM documents) t
            WHERE tok <> ''
            GROUP BY tok
        ),
        ranked AS (
            SELECT freq,
                   row_number() OVER (ORDER BY freq DESC, tok) AS rnk
            FROM vocab
        ),
        pts AS (
            SELECT CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1000000.0 + 0.5)
                        AS BIGINT) AS lx,
                   CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000000.0 + 0.5)
                        AS BIGINT) AS ly
            FROM ranked
        ),
        mom AS (
            SELECT count(*) AS n, sum(lx) AS sx, sum(ly) AS sy,
                   sum(CAST(lx AS DECIMAL(38, 0)) * ly) AS sxy,
                   sum(CAST(lx AS DECIMAL(38, 0)) * lx) AS sxx,
                   sum(CAST(ly AS DECIMAL(38, 0)) * ly) AS syy
            FROM pts
        )
        SELECT CAST(n AS BIGINT) AS n_types,
               CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                          * 10000.0 + 0.5)
                    AS DOUBLE) / 10000.0 AS zipf_slope,
               CAST(floor(
                   ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                   / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                   * 10000.0 + 0.5)
                    AS DOUBLE) / 10000.0 AS r_squared
        FROM mom
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus rank-frequency curve: least-squares
    slope of log(freq) ~ log(rank) plus R^2 — natural text sits near
    slope -1 with high R^2, and deviation is a corpus-health signal
    (templated/generated text flattens the head; boilerplate floods
    fatten the tail). Complements text_vocab_freq_spectrum's raw
    spectrum with the one-number summary a dashboard tracks per
    ingest batch.

    Determinism: ranks tie-break on the token; each log integerizes
    at 1e-6 per point (identical libm doubles floored identically),
    so the regression moments are exact integer/DECIMAL sums and the
    slope/R^2 are fixed-order expressions rounded at 4 dp.

    Scale shape: one token count (the fact-sized shuffle), one
    vocabulary-sized distributed rank (distrank bucket two-pass — no
    single-partition sort over the vocab), one moment aggregate."""
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = global_rank(
        vocab, "freq", ["tok"], ascending=False, rank_col="rnk"
    )
    pts = ranked.select(
        F.floor(F.log(F.col("rnk").cast("double")) * 1000000.0 + 0.5)
        .cast("bigint")
        .alias("lx"),
        F.floor(F.log(F.col("freq").cast("double")) * 1000000.0 + 0.5)
        .cast("bigint")
        .alias("ly"),
    )
    mom = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx").cast("decimal(38,0)") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx").cast("decimal(38,0)") * F.col("lx")).alias("sxx"),
        F.sum(F.col("ly").cast("decimal(38,0)") * F.col("ly")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    num = n * sxy - sx * sy
    return mom.select(
        F.col("n").cast("bigint").alias("n_types"),
        (
            F.floor(num / (n * sxx - sx * sx) * 10000.0 + 0.5).cast("double")
            / 10000.0
        ).alias("zipf_slope"),
        (
            F.floor(
                (num * num) / ((n * sxx - sx * sx) * (n * syy - sy * sy))
                * 10000.0
                + 0.5
            ).cast("double")
            / 10000.0
        ).alias("r_squared"),
    )


# ---------------------------------------------------------------------------
# text_lm_interpolation_tuning — held-out tuning of unigram/bigram mix

# Per-bigram NLL of the interpolated mixture, floor-quantized to
# integer NANO-units (the text_bigram_lm_perplexity pattern, r8
# VERDICT item 2): JVM and DuckDB ln() are bit-different on ~8-10% of
# inputs, so the per-lambda accumulation must be an exact integer
# add, not a float avg. Defined once and spliced into both aggregate
# expressions so the two copies cannot drift.
_LMTUNE_NLL_U = """CAST(floor(-ln(
                   l.lam * ((h.c12 + 0.5) / (h.c1 + 0.5 * c.v))
                   + (1.0 - l.lam) * ((h.cw + 0.5)
                                      / (c.n_tok + 0.5 * c.v))
               ) * 1000000000.0 + 0.5) AS BIGINT)"""

_LMTUNE_SQL = """
        WITH docs AS (
            SELECT doc_id, text,
                   CASE WHEN {hex_head}substr(md5(concat('lmsplit:',
                            CAST(doc_id AS {str_t}))), 1, 8){hex_tail}
                        % 100 < 80
                        THEN 1 ELSE 0 END AS is_train
            FROM {documents}
        ),
        toks AS (
            SELECT doc_id, is_train, t FROM (
                SELECT doc_id, is_train,
                       {split_fn} AS t
                FROM docs) x
            WHERE {arr_len}(t) >= 2
        ),
        big AS (
            SELECT doc_id, is_train,
                   {bigram_expr} AS bg
            FROM toks
        ),
        tr_bg AS (
            SELECT bg, count(*) AS c12 FROM big WHERE is_train = 1
            GROUP BY bg
        ),
        tr_ctx AS (
            SELECT {w1_of_bg} AS w1, sum(c12) AS c1
            FROM tr_bg GROUP BY 1
        ),
        tr_uni AS (
            SELECT {w2_of_bg} AS w, sum(c12) AS cw
            FROM tr_bg GROUP BY 1
        ),
        consts AS (
            SELECT CAST(sum(cw) AS DOUBLE) AS n_tok,
                   CAST(count(*) AS DOUBLE) AS v
            FROM tr_uni
        ),
        lambdas AS (
            SELECT CAST(l AS DOUBLE) / 10.0 AS lam
            FROM (VALUES (1), (3), (5), (7), (9)) AS t(l)
        ),
        heldout AS (
            SELECT b.bg,
                   coalesce(tb.c12, 0) AS c12,
                   coalesce(tc.c1, 0) AS c1,
                   coalesce(tu.cw, 0) AS cw
            FROM big b
            LEFT JOIN tr_bg tb ON b.bg = tb.bg
            LEFT JOIN tr_ctx tc ON {w1_of_b} = tc.w1
            LEFT JOIN tr_uni tu ON {w2_of_b} = tu.w
            WHERE b.is_train = 0
        )
        SELECT CAST(floor(l.lam * 10.0 + 0.5) AS BIGINT) AS lambda_x10,
               CAST(count(*) AS BIGINT) AS n_heldout_bigrams,
               CAST(floor(CAST(sum(NLL_U) AS DOUBLE)
                          / count(*) / 100000.0 + 0.5) AS DOUBLE)
                   / 10000.0 AS avg_nll,
               CAST(floor(exp(CAST(sum(NLL_U) AS DOUBLE)
                              / count(*) / 1000000000.0)
                          * 10000.0 + 0.5) AS DOUBLE)
                   / 10000.0 AS perplexity
        FROM heldout h
        CROSS JOIN lambdas l
        CROSS JOIN consts c
        GROUP BY l.lam
        ORDER BY lambda_x10
""".replace("NLL_U", _LMTUNE_NLL_U)


@register(
    "text_lm_interpolation_tuning",
    oracle=_LMTUNE_SQL.format(
        documents="documents",
        str_t="VARCHAR",
        hex_head="CAST(concat('0x', ",
        hex_tail=") AS BIGINT)",
        split_fn="string_split_regex(lower(text), '\\s+')",
        arr_len="len",
        bigram_expr=(
            "unnest([ t[CAST(i AS INTEGER)] || ' ' || "
            "t[CAST(i + 1 AS INTEGER)] FOR i IN range(1, len(t)) ])"
        ),
        w1_of_bg="string_split(bg, ' ')[1]",
        w2_of_bg="string_split(bg, ' ')[2]",
        w1_of_b="string_split(b.bg, ' ')[1]",
        w2_of_b="string_split(b.bg, ' ')[2]",
    ),
)
def text_lm_interpolation_tuning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Held-out hyperparameter tuning for the interpolated
    unigram/bigram LM: an 80/20 md5 doc split, add-k component models
    trained ONLY on the train fold, and held-out perplexity evaluated
    for five interpolation weights — the Jelinek-Mercer lambda sweep
    that picks the mixture every n-gram LM deployment tunes, and the
    first op in the LM family whose evaluation is honestly
    out-of-sample (the KN/add-k scorers evaluate in-sample by
    design). Unseen held-out events hit the LEFT-JOIN zero counts and
    the add-k floor keeps every probability finite.

    Determinism (r8 VERDICT item 2): all counts integer; each
    held-out bigram's mixture NLL is floor-quantized to integer
    NANO-units before the per-lambda sum (_LMTUNE_NLL_U, spliced
    into both aggregate expressions from one definition — the
    text_bigram_lm_perplexity pattern, since JVM and DuckDB ln() are
    bit-different on ~8-10% of inputs), and the 4-dp outputs are
    portable-floor expressions of that integer sum.

    Scale shape: one bigram explode, model aggregates on the TYPE
    table, three LEFT JOINs back onto the held-out stream (AQE
    broadcast-or-shuffle), and the 5-lambda sweep is a cross join on
    the SCORED stream — K mixture candidates never cost K passes."""
    return sql_on_tables(
        spark,
        sf_dir,
        _LMTUNE_SQL.format(
            documents="{documents}",
            str_t="STRING",
            hex_head="CAST(conv(",
            hex_tail=", 16, 10) AS BIGINT)",
            split_fn="split(lower(text), '\\\\s+')",
            arr_len="size",
            bigram_expr=(
                "explode(transform(sequence(1, size(t) - 1), "
                "i -> concat(element_at(t, i), ' ', "
                "element_at(t, i + 1))))"
            ),
            w1_of_bg="split(bg, ' ')[0]",
            w2_of_bg="split(bg, ' ')[1]",
            w1_of_b="split(b.bg, ' ')[0]",
            w2_of_b="split(b.bg, ' ')[1]",
        ),
    )
