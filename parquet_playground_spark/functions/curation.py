"""Corpus-curation operators: the governance passes a training-data
pipeline runs between raw ingest and tokenization.

  * PII redaction         — regex scrub of emails/phones with per-doc
                            redaction counts and a byte-exact
                            fingerprint of the scrubbed text
  * benchmark contamination — word-4-gram overlap between the training
                            split and a held-out eval split (the
                            decontamination join every LLM corpus runs)
  * quality gate (Gopher-style rules) — per-doc boolean rule columns
                            (length bounds, mean word length, stopword
                            fraction) and the surviving-keep flag
  * language rebalancing  — deterministic per-language downsampling to
                            target proportions (md5-keyed, so the same
                            rows survive on every engine and retry)
  * incremental near-dedup — a new ingest batch LSH-probed against the
                            already-indexed corpus; only batch rows
                            shuffle, the corpus side is the stored
                            band index

All five are oracle-checked; hashes are md5-derived so DuckDB computes
identical values (same discipline as functions/dedup.py).

Reference tie: the corpus curation surface extends the reference's
golden-file ingest gate (README.md:19 "compatibility and regression
testing") from file-level smoke checks to content-level governance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_playground_spark.functions.dedup import (
    BAND_ROWS,
    N_HASHES,
    _fanout,
    _minhash_signatures,
    _MINHASH_ORACLE,
)
from parquet_playground_spark.operators.aggregates import exact_sum
from parquet_playground_spark.operators.distrank import (
    global_rank,
    global_running_agg,
    ntile_from_rank,
)
from parquet_playground_spark.registry import register, track_persist
from parquet_playground_spark.tables import load_table, sql_on_tables

# ---------------------------------------------------------------------------
# text_pii_redaction

_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"555-[0-9]{4}"

# Deterministic PII injection: the synthetic corpus carries no PII, so
# both engines append identical address/phone spans derived from
# (source, doc_id) before scrubbing. The operator under test is the
# scrub itself; the injection just makes it non-vacuous and varied
# (docs differ in how many emails/phones they carry).
_PII_TEXT_SQL = """
    concat(text, ' contact ', source, CAST(doc_id AS VARCHAR), '@example.com',
           CASE WHEN doc_id % 3 = 0
                THEN concat(' cc ', source, '@mail.org') ELSE '' END,
           CASE WHEN doc_id % 4 <> 1
                THEN concat(' phone 555-',
                            lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))
                ELSE '' END)
"""


@register(
    "text_pii_redaction",
    oracle=f"""
        WITH t AS (SELECT doc_id, {_PII_TEXT_SQL} AS raw FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS BIGINT)
                   AS n_emails,
               CAST(len(regexp_extract_all(raw, '{_PHONE_RE}')) AS BIGINT)
                   AS n_phones,
               md5(regexp_replace(regexp_replace(raw, '{_EMAIL_RE}',
                                                 '<EMAIL>', 'g'),
                                  '{_PHONE_RE}', '<PHONE>', 'g'))
                   AS fingerprint
        FROM t
    """,
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: count and replace email/phone spans per document,
    emitting md5(redacted) so the oracle pins the scrub byte-for-byte
    (a pattern that over- or under-matches changes the fingerprint).
    Pure JVM regex — narrow, no shuffle, scales linearly with the
    corpus; at 100 TB this runs as a map-only stage fused into the
    scan. Patterns are RE2/Java-regex common subset so both engines
    match identical spans."""
    d = load_table(spark, sf_dir, "documents")
    raw = F.expr(_PII_TEXT_SQL.replace("AS VARCHAR", "AS STRING"))
    redacted = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.regexp_count(raw, F.lit(_EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(raw, F.lit(_PHONE_RE)).cast("bigint").alias("n_phones"),
        F.md5(redacted).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# text_contamination_ngram

_CONTAM_K = 4  # word-4-grams: selective on this corpus (8 pairs at sf0.01)
_BENCH_MOD = 97  # doc_id % 97 == 0 -> held-out eval split


def _contam_gram_side(doc_filter: str) -> str:
    """One side of the contamination oracle's gram explosion: the
    doc_id filter is the ONLY difference between the train and bench
    subqueries, so the shared expression is built here once (two
    inlined copies previously had to be edited in lockstep)."""
    return f"""(
            SELECT doc_id,
                   unnest(list_distinct([
                       array_to_string(toks[CAST(i AS INTEGER):CAST(i + {_CONTAM_K - 1} AS INTEGER)], ' ')
                       FOR i IN range(1, len(toks) - {_CONTAM_K} + 2)
                   ])) AS g
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
                  FROM documents
                  WHERE {doc_filter})
        )"""


@register(
    "text_contamination_ngram",
    oracle=f"""
        -- The gram explosion is written as two INLINE subqueries, not a
        -- shared CTE: DuckDB auto-materializes a CTE referenced twice,
        -- which at sf100 spilled the full 2.5e8-row train-side gram
        -- list to disk (tmp-dir watcher: >30 GB and climbing at the
        -- sweep abort — the figure BENCH_local.md records). Inlined,
        -- each side pushes its doc_id mod filter below the unnest, the
        -- bench side stays ~1/97th of the corpus, and the hash join
        -- builds on the small side while train grams stream through.
        SELECT t.doc_id AS train_doc,
               b.doc_id AS bench_doc,
               count(DISTINCT t.g) AS n_shared_grams
        FROM {_contam_gram_side(f"doc_id % {_BENCH_MOD} <> 0")} t
        JOIN {_contam_gram_side(f"doc_id % {_BENCH_MOD} = 0")} b
          ON t.g = b.g
        GROUP BY t.doc_id, b.doc_id
    """,
)
def text_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: find training documents sharing any
    word-4-gram with the held-out eval split (doc_id % 97 == 0), with
    the shared-gram count per (train, bench) pair.

    Scale shape: the eval split is tiny relative to the corpus (real
    benchmarks are a few thousand docs), so its exploded grams are
    BROADCAST — the 100 TB training side never shuffles; contamination
    detection rides the corpus scan. Distinct grams per doc bound the
    join fan-out."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    idx = F.sequence(F.lit(0), F.size(toks) - _CONTAM_K)
    grams = _fanout(d).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    idx,
                    lambda i: F.array_join(F.slice(toks, i + 1, _CONTAM_K), " "),
                )
            )
        ).alias("g"),
    )
    train = grams.filter(F.col("doc_id") % _BENCH_MOD != 0)
    bench = (
        grams.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .withColumnRenamed("doc_id", "bench_doc")
    )
    return (
        train.join(F.broadcast(bench), "g")
        .groupBy(F.col("doc_id").alias("train_doc"), "bench_doc")
        .agg(F.count_distinct("g").alias("n_shared_grams"))
    )


# ---------------------------------------------------------------------------
# text_quality_gopher

_STOPWORDS = ("the", "a", "of", "and")
_MIN_WORDS, _MAX_WORDS = 20, 90
_MAX_MEAN_WORD_LEN = 5.0
_MIN_STOP_FRAC = 0.05


@register(
    "text_quality_gopher",
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_words,
                   round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                         / len(string_split(text, ' ')), 4) AS mean_word_len,
                   round(CAST(len(list_filter(string_split(text, ' '),
                                  w -> w IN ('the', 'a', 'of', 'and')))
                              AS DOUBLE)
                         / len(string_split(text, ' ')), 4) AS stop_frac
            FROM documents
        )
        SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
               mean_word_len, stop_frac,
               n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS} AS pass_len,
               mean_word_len <= {_MAX_MEAN_WORD_LEN} AS pass_mwl,
               stop_frac >= {_MIN_STOP_FRAC} AS pass_stop,
               (n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS})
                   AND mean_word_len <= {_MAX_MEAN_WORD_LEN}
                   AND stop_frac >= {_MIN_STOP_FRAC} AS keep
        FROM m
    """,
)
def text_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gate (Rae et al. 2021 §A1.1 heuristics,
    re-tuned to this corpus): word-count bounds, mean-word-length cap,
    stopword-fraction floor — emitted as per-rule boolean columns plus
    the combined keep flag, so downstream can audit WHICH rule dropped
    a doc (the thresholds are tuned non-vacuous: every rule fails some
    docs at sf0.01). Map-only expression work, no shuffle; at 100 TB
    this fuses into the ingest scan like text_pii_redaction."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_words = F.size(toks)
    mwl = F.round(
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        .cast("double")
        / n_words,
        4,
    )
    stop_frac = F.round(
        F.size(
            F.filter(
                toks,
                lambda w: w.isin(*_STOPWORDS),
            )
        ).cast("double")
        / n_words,
        4,
    )
    m = d.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        mwl.alias("mean_word_len"),
        stop_frac.alias("stop_frac"),
    )
    pass_len = F.col("n_words").between(_MIN_WORDS, _MAX_WORDS)
    pass_mwl = F.col("mean_word_len") <= _MAX_MEAN_WORD_LEN
    pass_stop = F.col("stop_frac") >= _MIN_STOP_FRAC
    return m.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "stop_frac",
        pass_len.alias("pass_len"),
        pass_mwl.alias("pass_mwl"),
        pass_stop.alias("pass_stop"),
        (pass_len & pass_mwl & pass_stop).alias("keep"),
    )


# ---------------------------------------------------------------------------
# corpus_lang_rebalance

_EN_RATE = 33  # downsample the dominant language to ~33%


@register(
    "corpus_lang_rebalance",
    oracle=f"""
        SELECT lang,
               count(*) AS n_before,
               count(*) FILTER (
                   WHERE CAST(concat('0x',
                              substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                              AS BIGINT) % 100
                         < CASE WHEN lang = 'en' THEN {_EN_RATE} ELSE 100 END
               ) AS n_after
        FROM documents
        GROUP BY lang
    """,
)
def corpus_lang_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language rebalancing: the dominant language (en is ~44% of this
    corpus) is deterministically downsampled to ~33% of its rows while
    minority languages keep 100% — md5-bucket keyed on doc_id, so the
    surviving set is identical across engines, runs, and retries (the
    property a multi-epoch training mix needs; df.sample() has none of
    it). Narrow filter + one map-combinable aggregate."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    rate = F.when(F.col("lang") == "en", _EN_RATE).otherwise(100)
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_before"),
        F.sum(F.when(bucket < rate, 1).otherwise(0)).alias("n_after"),
    )


# ---------------------------------------------------------------------------
# dedup_incremental_lsh

_CORPUS_MAX_DOC = 400  # doc_id < 400 -> indexed corpus; >= 400 -> new batch
_DUP_THRESHOLD = 0.5  # est_jaccard >= this -> reject from the batch

_BANDS_ON = " OR ".join(
    "("
    + " AND ".join(
        f"c.mh{b * BAND_ROWS + r} = n.mh{b * BAND_ROWS + r}"
        for r in range(BAND_ROWS)
    )
    + ")"
    for b in range(N_HASHES // BAND_ROWS)
)
_EST_SQL = (
    "("
    + " + ".join(f"CAST(c.mh{i} = n.mh{i} AS INT)" for i in range(N_HASHES))
    + f") / {float(N_HASHES)}"
)


@register(
    "dedup_incremental_lsh",
    oracle=f"""
        WITH sigs AS ({_MINHASH_ORACLE}),
        cand AS (
            SELECT n.doc_id AS batch_doc, c.doc_id AS corpus_doc,
                   {_EST_SQL} AS est
            FROM sigs n JOIN sigs c
              ON n.doc_id >= {_CORPUS_MAX_DOC}
             AND c.doc_id < {_CORPUS_MAX_DOC}
             AND ({_BANDS_ON})
        ),
        best AS (
            SELECT batch_doc, corpus_doc, est,
                   row_number() OVER (PARTITION BY batch_doc
                                      ORDER BY est DESC, corpus_doc ASC) AS rn,
                   count(*) OVER (PARTITION BY batch_doc) AS n_candidates
            FROM cand
        )
        SELECT s.doc_id,
               CAST(coalesce(b.n_candidates, 0) AS BIGINT) AS n_candidates,
               b.est AS max_est_jaccard,
               b.corpus_doc AS best_match_doc,
               coalesce(b.est >= {_DUP_THRESHOLD}, FALSE) = FALSE AS admitted
        FROM (SELECT doc_id FROM documents
              WHERE doc_id >= {_CORPUS_MAX_DOC}) s
        LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
          ON s.doc_id = b.batch_doc
    """,
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup: a new ingest batch (doc_id >= 400) is
    MinHash-LSH probed against the already-indexed corpus (doc_id <
    400). Band buckets of the batch equi-join the corpus band index;
    candidates are scored by signature agreement; a batch doc is
    admitted unless its best corpus match reaches est_jaccard >= 0.5.

    Scale shape: production stores the corpus band index as a bucketed
    table keyed on (band, bucket) — only the NEW batch computes
    signatures and shuffles (|batch| x n_bands rows); the corpus is
    probed in place and never rescanned in full. The band join shuffles
    NARROW (doc_id, band, bucket) rows only; candidate pairs are
    deduplicated as slim (batch_doc, corpus_doc) keys and the full
    signatures are fetched once per side afterwards — at 100 TB the
    shuffle payload stays O(pairs), not O(pairs x 2 x N_HASHES). Per
    batch doc the output keeps (n_candidates, best match, admitted), so
    the reject decision is auditable. Oracle = OR-of-bands spec join.

    The signature frame is materialized once (track_persist) — it
    feeds the band explode AND both post-dedup re-fetch sides, and in
    production it IS the stored index, not a recomputation."""
    sigs = track_persist(_minhash_signatures(spark, sf_dir))
    n_bands = N_HASHES // BAND_ROWS
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"mh{b * BAND_ROWS + r}").cast("string")
                        for r in range(BAND_ROWS)
                    ],
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    banded = sigs.select("doc_id", F.explode(bands).alias("bb")).select(
        "doc_id",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )
    corpus = banded.filter(F.col("doc_id") < _CORPUS_MAX_DOC)
    batch = banded.filter(F.col("doc_id") >= _CORPUS_MAX_DOC)
    pairs = (
        batch.alias("n")
        .join(
            corpus.alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.bucket") == F.col("c.bucket")),
        )
        .select(
            F.col("n.doc_id").alias("batch_doc"),
            F.col("c.doc_id").alias("corpus_doc"),
        )
        .distinct()
    )
    sigs_n = sigs.filter(F.col("doc_id") >= _CORPUS_MAX_DOC).select(
        F.col("doc_id").alias("n_doc"),
        *[F.col(f"mh{i}").alias(f"n_mh{i}") for i in range(N_HASHES)],
    )
    sigs_c = sigs.filter(F.col("doc_id") < _CORPUS_MAX_DOC).select(
        F.col("doc_id").alias("c_doc"),
        *[F.col(f"mh{i}").alias(f"c_mh{i}") for i in range(N_HASHES)],
    )
    est = sum(
        F.when(F.col(f"n_mh{i}") == F.col(f"c_mh{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    ) / float(N_HASHES)
    # the ingest batch is the small side by construction — broadcast
    # its signatures; the corpus-side fetch stays a keyed shuffle join
    cand = (
        pairs.join(F.broadcast(sigs_n), pairs.batch_doc == sigs_n.n_doc)
        .join(sigs_c, pairs.corpus_doc == sigs_c.c_doc)
        .select("batch_doc", "corpus_doc", est.alias("est"))
    )
    w = Window.partitionBy("batch_doc").orderBy(
        F.col("est").desc(), F.col("corpus_doc").asc()
    )
    best = (
        cand.withColumn("rn", F.row_number().over(w))
        .withColumn("n_candidates", F.count(F.lit(1)).over(
            Window.partitionBy("batch_doc")
        ))
        .filter(F.col("rn") == 1)
    )
    batch_docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") >= _CORPUS_MAX_DOC)
        .select("doc_id")
    )
    return batch_docs.join(
        best, batch_docs.doc_id == best.batch_doc, "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("n_candidates"), F.lit(0)).cast("bigint").alias(
            "n_candidates"
        ),
        F.col("est").alias("max_est_jaccard"),
        F.col("corpus_doc").alias("best_match_doc"),
        (
            F.coalesce(F.col("est") >= _DUP_THRESHOLD, F.lit(False)) == False  # noqa: E712
        ).alias("admitted"),
    )


# ---------------------------------------------------------------------------
# anonymize_k_audit

_K_ANON = 5


@register(
    "anonymize_k_audit",
    oracle=f"""
        SELECT c_mktsegment,
               CAST(c_nationkey % 5 AS BIGINT) AS region_bucket,
               CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_bucket,
               count(*) AS group_size,
               count(*) >= {_K_ANON} AS meets_k
        FROM customer
        GROUP BY c_mktsegment, c_nationkey % 5, floor(c_acctbal / 2000)
    """,
)
def anonymize_k_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers (segment x region x
    balance band): every QI combination with its group size and
    whether it meets k={_K_ANON} — the privacy gate run before a
    derived dataset ships (groups below k must be suppressed or
    generalized; the flag column IS the suppression list). One
    map-combinable aggregate; the QI generalization (bucketing)
    happens map-side, so the shuffle carries QI cells, not people.
    floor() keeps negative balances in well-defined bands on both
    engines (CAST would round in DuckDB)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy(
        "c_mktsegment",
        (F.col("c_nationkey") % 5).cast("bigint").alias("region_bucket"),
        F.floor(F.col("c_acctbal") / 2000).cast("bigint").alias("bal_bucket"),
    ).agg(
        F.count(F.lit(1)).alias("group_size"),
        (F.count(F.lit(1)) >= _K_ANON).alias("meets_k"),
    )


# ---------------------------------------------------------------------------
# corpus_dataset_card


@register(
    "corpus_dataset_card",
    oracle="""
        WITH toks AS (
            SELECT doc_id, lang,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   length(text) AS n_chars,
                   md5(lower(trim(text))) AS chash
            FROM documents
        ),
        lang_top AS (
            SELECT lang, count(*) AS n
            FROM toks GROUP BY lang
            ORDER BY n DESC, lang LIMIT 1
        )
        SELECT count(*) AS n_docs,
               count(DISTINCT t.lang) AS n_langs,
               CAST(sum(t.n_tokens) AS BIGINT) AS total_tokens,
               CAST(sum(t.n_chars) AS BIGINT) AS total_chars,
               floor(CAST(sum(t.n_tokens) AS DOUBLE) / count(*)
                     * 10000.0 + 0.5) / 10000.0 AS avg_doc_tokens,
               round(quantile_cont(t.n_tokens, 0.5), 4) AS p50_tokens,
               round(quantile_cont(t.n_tokens, 0.9), 4) AS p90_tokens,
               count(*) - count(DISTINCT t.chash) AS n_exact_dups,
               max(l.lang) AS top_lang,
               round(CAST(max(l.n) AS DOUBLE) / count(*), 4)
                   AS top_lang_share
        FROM toks t CROSS JOIN lang_top l
    """,
)
def corpus_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-query DATASET CARD: the summary block a data platform
    publishes with every corpus release — volume (docs / tokens /
    chars), language diversity and dominance, length distribution
    (mean, p50, p90 exact percentiles), and the exact-duplicate count.
    Composes the building blocks (token counting, content hashing,
    percentiles) into a single pass plus a langs-sized top-1 — at
    100 TB this is ONE scan producing the entire card. Exact
    percentiles use Spark `percentile` == DuckDB `quantile_cont`."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("chash"),
    )
    lang_top = (
        toks.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "lang")
        .limit(1)
    )
    return toks.crossJoin(F.broadcast(lang_top.withColumnsRenamed(
        {"lang": "tl", "n": "tn"}
    ))).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        # exact-integer mean + portable floor (q1/q19 pattern): engine
        # round(avg(..)) is the one order/rounding-sensitive cell on
        # this card (r7 VERDICT item 6 — key enters the r9 window)
        (
            F.floor(
                F.sum("n_tokens").cast("double") / F.count(F.lit(1))
                * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("avg_doc_tokens"),
        F.round(F.expr("percentile(n_tokens, 0.5)"), 4).alias("p50_tokens"),
        F.round(F.expr("percentile(n_tokens, 0.9)"), 4).alias("p90_tokens"),
        (F.count(F.lit(1)) - F.count_distinct("chash")).alias("n_exact_dups"),
        F.max("tl").alias("top_lang"),
        F.round(F.max("tn").cast("double") / F.count(F.lit(1)), 4).alias(
            "top_lang_share"
        ),
    )


# ---------------------------------------------------------------------------
# dedup_url_canonical

_MESSY_URL_SQL = """
    concat('https://',
           CASE WHEN doc_id % 2 = 0 THEN 'WWW.Example.COM'
                ELSE 'www.example.com' END,
           '/', source, '?id=', CAST(doc_id % 7 AS VARCHAR),
           CASE WHEN doc_id % 3 = 0 THEN '&utm_source=feed' ELSE '' END,
           CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END)
"""


@register(
    "dedup_url_canonical",
    oracle="""
        SELECT concat('https://www.example.com/', source,
                      '?id=', CAST(doc_id % 7 AS VARCHAR)) AS canonical_url,
               count(*) AS n_docs,
               CAST(min(doc_id) AS BIGINT) AS min_doc
        FROM documents
        GROUP BY source, doc_id % 7
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup: messy crawl URLs (mixed-case hosts,
    utm tracking params, fragments — injected deterministically) are
    REDUCED through a real parse-and-rebuild pipeline (parse_url HOST
    lowercased + PATH + the id query param only) and grouped by the
    canonical form — the first dedup pass of every web corpus, where
    byte-level hashing would miss trivially-different fetches of the
    same page. The ORACLE constructs the canonical form directly from
    the generating fields, so the whole Spark parse/strip/rebuild
    chain is what's under test. Map-side canonicalization; the
    shuffle carries canonical keys only."""
    d = load_table(spark, sf_dir, "documents")
    url = F.expr(_MESSY_URL_SQL.replace("AS VARCHAR", "AS STRING"))
    canonical = F.concat(
        F.lit("https://"),
        F.lower(F.parse_url(url, F.lit("HOST"))),
        F.parse_url(url, F.lit("PATH")),
        F.lit("?id="),
        F.parse_url(url, F.lit("QUERY"), F.lit("id")),
    )
    return d.groupBy(canonical.alias("canonical_url")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("min_doc"),
    )


@register(
    "corpus_mixture_sampling",
    oracle="""
        WITH weighted AS (
            SELECT doc_id, source, n_chars,
                   CASE WHEN source IN ('src0', 'src1', 'src2') THEN 2.5
                        WHEN source IN ('src3', 'src4') THEN 1.0
                        ELSE 0.2 END AS w
            FROM documents
        ),
        copies AS (
            SELECT source, n_chars,
                   CAST(floor(w) AS BIGINT)
                   + CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                               AS BIGINT) % 1000 < CAST((w - floor(w)) * 1000 AS BIGINT)
                          THEN 1 ELSE 0 END AS n_copies
            FROM weighted
        )
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(n_copies) AS BIGINT) AS n_out,
               CAST(sum(n_copies * n_chars) AS BIGINT) AS chars_out
        FROM copies GROUP BY source
    """,
)
def corpus_mixture_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mixture construction: per-source epoch
    weights (2.5x for premium sources, 1x neutral, 0.2x downweighted)
    realized as integer row replication plus an md5-keyed fractional
    epoch — floor(w) full copies, one extra copy for the hash-selected
    (w - floor(w)) fraction of docs. This is how training mixtures
    repeat high-quality corpora without an RNG: the same docs get the
    extra epoch on every run, engine, and retry.

    Scale shape: the replication is explode(sequence(1, n_copies)) —
    narrow, no shuffle — and the readout is one map-combinable
    aggregate. The hash gate reuses the portable md5-bucket predicate
    (scale.py) so DuckDB selects the identical fractional cohort."""
    d = load_table(spark, sf_dir, "documents")
    w = (
        F.when(F.col("source").isin("src0", "src1", "src2"), F.lit(2.5))
        .when(F.col("source").isin("src3", "src4"), F.lit(1.0))
        .otherwise(F.lit(0.2))
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 1000
    )
    n_copies = F.floor(w).cast("bigint") + F.when(
        bucket < ((w - F.floor(w)) * 1000).cast("bigint"), 1
    ).otherwise(0)
    replicated = (
        d.withColumn("n_copies", n_copies)
        .filter(F.col("n_copies") > 0)
        .withColumn("copy", F.explode(F.sequence(F.lit(1), F.col("n_copies"))))
    )
    return replicated.groupBy("source").agg(
        F.count_distinct("doc_id").alias("n_docs_selected"),
        F.count(F.lit(1)).alias("n_out"),
        F.sum("n_chars").alias("chars_out"),
    ).join(
        d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs")), "source"
    ).select("source", "n_docs", "n_out", "chars_out")


@register(
    "dataset_shard_assignment",
    oracle="""
        SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 16 AS shard,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               min(doc_id) AS min_doc,
               max(doc_id) AS max_doc
        FROM documents GROUP BY 1
    """,
)
def dataset_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic export sharding: every doc lands in
    md5-bucket(doc_id) % 16 — the shard layout a training job's data
    loader expects to be stable across pipeline re-runs (shard 7
    always holds the same docs, so a resumed job re-reads identical
    data). The readout is the per-shard manifest (doc count, byte
    budget, id range) that gets written next to the shards.

    Scale shape: the hash is computed scan-side (narrow), the manifest
    is one map-combinable aggregate; the actual shard write would be
    .repartition(16, shard).write — the same hash keeps the shuffle
    and the filename layout aligned."""
    d = load_table(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 16
    )
    return d.groupBy(shard.alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@register(
    "dataset_global_shuffle",
    oracle="""
        SELECT row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))) AS pos,
               doc_id, source
        FROM documents
        ORDER BY pos LIMIT 100
    """,
)
def dataset_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training order: position = rank in the
    md5(doc_id) ordering — a reproducible pseudo-random permutation
    with no RNG state (the property sample_hash_deterministic gives
    membership, extended here to ORDER). First 100 positions returned.

    Scale shape: the top-100 by hash is taken FIRST — a distributed
    TakeOrderedAndProject where every partition contributes at most
    100 candidates — and row_number runs over the surviving 100-row
    frame only. (The previous form put row_number over a global
    window BEFORE the limit, which single-partition-sorts the whole
    corpus; the limit cannot push below a window it didn't produce.)
    The md5 hex compare is byte-identical in DuckDB, so the
    permutation is engine-portable; doc_id is unique so the order has
    no ties."""
    d = load_table(spark, sf_dir, "documents")
    top = (
        d.select(
            F.md5(F.col("doc_id").cast("string")).alias("__h"),
            "doc_id",
            "source",
        )
        .orderBy("__h")
        .limit(100)
    )
    w = Window.orderBy("__h")  # 100-row frame — tiny by construction
    return (
        top.select(F.row_number().over(w).alias("pos"), "doc_id", "source")
        .orderBy("pos")
    )


@register(
    "curriculum_quality_stages",
    oracle="""
        WITH scored AS (
            SELECT doc_id, n_chars,
                   ntile(4) OVER (ORDER BY n_chars, doc_id) AS stage
            FROM documents
        )
        SELECT stage,
               count(*) AS n_docs,
               min(n_chars) AS min_chars,
               max(n_chars) AS max_chars,
               CAST(floor(CAST(sum(CAST(n_chars AS BIGINT)) AS DOUBLE)
                          / count(n_chars) * 100.0 + 0.5) AS DOUBLE)
                   / 100.0 AS avg_chars
        FROM scored GROUP BY stage
    """,
)
def curriculum_quality_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum bucketing: rank docs by a quality proxy (length
    here; any scored column works) and cut into 4 equal-frequency
    stages with ntile — stage 1 feeds early training, stage 4 late.
    The (n_chars, doc_id) compound order key makes tile boundaries
    deterministic under ties, so both engines cut identically.

    Scale shape: exact ntile WITHOUT the single-partition ntile
    window — the distrank bucket two-pass assigns each doc its global
    rank distributedly and the tile is re-derived arithmetically from
    (rank, n) (ntile_from_rank; same construction as
    customer_rfm_segments). The oracle keeps the ntile window form."""
    d = load_table(spark, sf_dir, "documents")
    ranked = global_rank(
        d.select("doc_id", "n_chars"), "n_chars", ["doc_id"],
        rank_col="__rk",
    )
    n_df = d.agg(F.count(F.lit(1)).alias("__n"))
    scored = ranked.crossJoin(F.broadcast(n_df)).select(
        "doc_id",
        "n_chars",
        ntile_from_rank(F.col("__rk"), F.col("__n"), 4).alias("stage"),
    )
    # avg_chars as exact-integer sum/count + portable floor (q1 avg
    # pattern, r8 VERDICT item 2).
    return scored.groupBy("stage").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        (
            F.floor(
                F.sum(F.col("n_chars").cast("bigint")).cast("double")
                / F.count("n_chars")
                * 100.0
                + 0.5
            ).cast("double")
            / 100.0
        ).alias("avg_chars"),
    )


@register(
    "gdpr_delete_cascade",
    oracle="""
        SELECT event_type,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               CAST(sum(CAST(floor(value * 100.0 + 0.5)
                             AS DECIMAL(38, 0))) AS DOUBLE) / 100.0
                   AS value_sum
        FROM events
        WHERE user_id NOT IN (7, 23, 88)
        GROUP BY event_type
    """,
)
def gdpr_delete_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten pass: purge every record belonging to the
    deletion-request subjects and checksum the surviving table — the
    compliance twin of text_pii_redaction (there content is scrubbed,
    here whole identities are removed). The deletion list is a
    broadcast LEFT ANTI join, not a NOT IN subquery re-planned per
    partition: at 100 TB the list (thousands of ids) broadcasts once
    and the pass stays a narrow scan+filter; the post-state aggregate
    doubles as the audit artifact proving the purge."""
    e = load_table(spark, sf_dir, "events")
    requests = spark.createDataFrame(
        [(7,), (23,), (88,)], ["user_id"]
    )
    survivors = e.join(F.broadcast(requests), "user_id", "left_anti")
    # value is exactly 2-dp: exact_sum of exact cents — the
    # per-type float sum grows with SF past the 4-dp grid (q19 class)
    return survivors.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        (
            exact_sum(F.floor(F.col("value") * 100.0 + 0.5)).cast("double")
            / 100.0
        ).alias("value_sum"),
    )


@register(
    "dataset_train_val_test_split",
    oracle="""
        WITH assigned AS (
            SELECT lang, n_chars,
                   CAST(concat('0x', substr(md5(concat(
                       'split:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
                   % 100 AS bucket
            FROM documents
        ),
        labeled AS (
            SELECT lang, n_chars, bucket,
                   CASE WHEN bucket < 80 THEN 'train'
                        WHEN bucket < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM assigned
        )
        SELECT split, lang,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               min(bucket) AS min_bucket,
               max(bucket) AS max_bucket
        FROM labeled
        GROUP BY split, lang
    """,
)
def dataset_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical ML split: hash(doc_id) -> bucket 0-99 ->
    80/10/10 train/val/test, reported per split × language so class
    drift between splits is visible before training. Hash-threshold
    (not random()) makes the split stable across re-runs and engines —
    a doc NEVER migrates between train and test when the pipeline
    reprocesses, which is the leakage guarantee that matters. Narrow
    map + one aggregate; disjointness is by construction (a bucket
    maps to exactly one split), so no audit join is needed."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    labeled = d.select(
        "lang",
        "n_chars",
        bucket.alias("bucket"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )
    return labeled.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("bucket").alias("min_bucket"),
        F.max("bucket").alias("max_bucket"),
    )


@register(
    "corpus_token_budget_pack",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_tok,
                   len(list_distinct(string_split(lower(text), ' ')))
                       AS n_uniq
            FROM documents
        ), scored AS (
            SELECT doc_id, n_tok,
                   CAST(n_uniq AS DOUBLE) / n_tok AS quality
            FROM t
        ), ranked AS (
            SELECT doc_id, n_tok, quality,
                   sum(n_tok) OVER (
                       ORDER BY quality DESC, doc_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS cum_tok
            FROM scored
        ), b AS (
            SELECT CAST(floor(sum(n_tok) * 0.5) AS BIGINT) AS budget FROM t
        )
        SELECT b.budget AS budget_tokens,
               count(*) AS n_docs_selected,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens_selected,
               floor(min(quality) * 1000000.0 + 0.5) / 1000000.0
                   AS cut_quality
        FROM ranked CROSS JOIN b
        WHERE cum_tok <= b.budget
        GROUP BY b.budget
    """,
)
def corpus_token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Select-to-budget: take the highest-quality documents (lexical
    diversity = distinct/total tokens, doc_id tie-break) until the
    cumulative token count reaches a target budget (half the corpus
    here) — the greedy knapsack every fixed-token-budget training run
    executes after scoring. Output is the selection audit: budget,
    docs/tokens admitted, and the quality cut line.

    Scale: the quality-ordered running token sum is the distrank
    bucket two-pass (within-bucket running sum + broadcast bucket mass
    offsets) — token counts are exact integers, so the decomposed sum
    is association-free and the frame never collapses to one
    partition. Quality is an exact integer ratio, so both engines rank
    identically."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tok"),
        F.size(F.array_distinct(F.split(F.lower("text"), " "))).alias("n_uniq"),
    )
    scored = t.select(
        "doc_id",
        "n_tok",
        (F.col("n_uniq").cast("double") / F.col("n_tok")).alias("quality"),
    )
    ranked = global_running_agg(
        scored,
        "quality",
        ["doc_id"],
        F.col("n_tok"),
        agg="sum",
        ascending=False,
        inclusive=True,
        out_col="cum_tok",
    )
    budget = t.agg(
        F.floor(F.sum("n_tok") * 0.5).cast("bigint").alias("budget")
    )
    return (
        ranked.crossJoin(F.broadcast(budget))
        .filter(F.col("cum_tok") <= F.col("budget"))
        .groupBy("budget")
        .agg(
            F.count(F.lit(1)).alias("n_docs_selected"),
            F.sum("n_tok").cast("bigint").alias("n_tokens_selected"),
            # floor-convention: plain round() diverges cross-engine at
            # .xx5 edges, and quality ratios (u/n) can land there
            (
                F.floor(F.min("quality") * 1000000.0 + 0.5) / 1000000.0
            ).alias("cut_quality"),
        )
        .select(
            F.col("budget").alias("budget_tokens"),
            "n_docs_selected",
            "n_tokens_selected",
            "cut_quality",
        )
    )


@register(
    "corpus_importance_resampling",
    oracle="""
        WITH scored AS (
            SELECT doc_id, source, n_chars,
                   CAST(length(text) - length(replace(text, ' ', ''))
                        + 1 AS DOUBLE) AS n_tokens
            FROM documents
        ),
        norm AS (
            SELECT avg(n_tokens) AS mean_tokens FROM scored
        ),
        weighted AS (
            SELECT s.doc_id, s.source, s.n_chars,
                   CASE WHEN s.n_tokens / n.mean_tokens > 4.0 THEN 4.0
                        ELSE s.n_tokens / n.mean_tokens END AS w
            FROM scored s CROSS JOIN norm n
        ),
        kept AS (
            SELECT doc_id, source, n_chars, w,
                   CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                             AS BIGINT) % 10000
                        < CAST(floor(w * 2500.0 + 0.5) AS BIGINT)
                        THEN 1 ELSE 0 END AS keep
            FROM weighted
        )
        SELECT source,
               count(*) AS n_in,
               CAST(sum(keep) AS BIGINT) AS n_kept,
               CAST(sum(keep * n_chars) AS BIGINT) AS chars_kept,
               round(sum(keep * w), 4) AS weight_kept
        FROM kept
        GROUP BY source
        ORDER BY source
    """,
)
def corpus_importance_resampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance resampling: keep each document with
    probability proportional to a per-doc importance weight — here
    token count over the corpus mean, capped at 4x — realized without
    an RNG by comparing an md5 hash of doc_id against the weight-scaled
    acceptance threshold (keep iff hash%10000 < round(w*2500), i.e.
    base acceptance 25% scaled by importance). The same docs survive on
    every engine, run, and retry, which is what makes resampled
    training sets reproducible. The global normalizer is a 1-row
    broadcast (mean token count); everything else is narrow plus one
    map-combinable readout groupBy — the 100 TB shape. Importance here
    is a length proxy; production swaps in an n-gram likelihood-ratio
    score with the identical plan. The hash gate reuses the portable
    md5-bucket predicate (scale.py) so DuckDB selects the identical
    cohort; the fractional threshold is floor(x+0.5)-rounded (§7.3
    rule 1b) before the integer compare."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = (
        F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
    ).cast("double")
    scored = d.select("doc_id", "source", "n_chars", n_tokens.alias("n_tokens"))
    norm = scored.agg(F.avg("n_tokens").alias("mean_tokens"))
    from parquet_playground_spark.operators.scale import _portable_bucket

    w = F.least(F.col("n_tokens") / F.col("mean_tokens"), F.lit(4.0))
    bucket = _portable_bucket(F.col("doc_id").cast("string"), 10000)
    keep = F.when(
        bucket < F.floor(w * 2500.0 + 0.5).cast("bigint"), 1
    ).otherwise(0)
    kept = scored.crossJoin(F.broadcast(norm)).select(
        "source", "n_chars", w.alias("w"), keep.alias("keep")
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_in"),
            F.sum("keep").cast("bigint").alias("n_kept"),
            F.sum(F.col("keep") * F.col("n_chars")).cast("bigint").alias(
                "chars_kept"
            ),
            F.round(F.sum(F.col("keep") * F.col("w")), 4).alias("weight_kept"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# corpus_quality_ensemble — weighted multi-signal quality gate

_ENS_TOP_TOKENS = 5


@register(
    "corpus_quality_ensemble",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\\s+'),
                               x -> x <> '') AS t
            FROM documents
        ),
        top5 AS (
            SELECT tok FROM (
                SELECT tok, count(*) AS c
                FROM (SELECT unnest(t) AS tok FROM toks)
                GROUP BY tok
                ORDER BY c DESC, tok LIMIT {_ENS_TOP_TOKENS}
            )
        ),
        sig AS (
            SELECT doc_id,
                   CAST(len(t) AS BIGINT) AS n_words,
                   floor(CAST(len(array_to_string(t, '')) AS DOUBLE)
                         / len(t) * 10000.0 + 0.5) / 10000.0 AS mean_wlen,
                   floor((1.0 - CAST(len(list_distinct(t)) AS DOUBLE)
                                / len(t)) * 10000.0 + 0.5) / 10000.0
                       AS dup_frac,
                   CAST((SELECT count(*) FROM top5
                         WHERE list_contains(t, tok)) AS BIGINT) AS n_top5
            FROM toks WHERE len(t) > 0
        )
        SELECT doc_id, n_words, mean_wlen, dup_frac, n_top5,
               CAST(4 * (CASE WHEN n_words BETWEEN 20 AND 100000
                              THEN 1 ELSE 0 END)
                    + 3 * (CASE WHEN mean_wlen BETWEEN 3.0 AND 10.0
                                THEN 1 ELSE 0 END)
                    + 2 * (CASE WHEN dup_frac <= 0.7 THEN 1 ELSE 0 END)
                    + 1 * (CASE WHEN n_top5 >= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS ensemble_score,
               (4 * (CASE WHEN n_words BETWEEN 20 AND 100000
                          THEN 1 ELSE 0 END)
                + 3 * (CASE WHEN mean_wlen BETWEEN 3.0 AND 10.0
                            THEN 1 ELSE 0 END)
                + 2 * (CASE WHEN dup_frac <= 0.7 THEN 1 ELSE 0 END)
                + 1 * (CASE WHEN n_top5 >= 2 THEN 1 ELSE 0 END)) >= 8
                   AS keep
        FROM sig
        ORDER BY doc_id
    """,
)
def corpus_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble quality gate: four independent signals — word count in
    a Gopher-style band, mean word length band, duplicate-token
    fraction cap, and presence of common-vocabulary tokens (the
    stopword-carrier signal: real prose contains frequent function
    words; keyword-stuffed spam does not) — combined with fixed integer
    weights 4/3/2/1 into a 0-10 score; keep = score >= 8 (must pass
    the two heavy gates plus at least the rep gate). This is the
    C4/Gopher/FineWeb pattern of layering cheap heuristics into one
    auditable decision column instead of N sequential filters whose
    interaction nobody can replay.

    Scale shape: the top-{_ENS_TOP_TOKENS} common-token list is one
    map-combinable corpus aggregate broadcast to every executor (a
    fixed-size array membership test per doc, no join fan-out); every
    other signal is per-row arithmetic on the token array. One corpus
    pass + one 5-row broadcast: the same plan at 100 TB. Integer
    weights and floor-rounded 4-dp floats keep both engines
    hash-identical."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
    )
    tokd = _fanout(d).select("doc_id", toks.alias("t")).filter(
        F.size("t") > 0
    )
    top5 = (
        tokd.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "tok")
        .limit(_ENS_TOP_TOKENS)
        .agg(F.collect_list("tok").alias("top_toks"))
    )
    n_words = F.size("t").cast("bigint")
    mean_wlen = (
        F.floor(
            F.length(F.array_join("t", "")).cast("double")
            / F.size("t")
            * 10000.0
            + 0.5
        )
        / 10000.0
    )
    dup_frac = (
        F.floor(
            (1.0 - F.size(F.array_distinct("t")).cast("double") / F.size("t"))
            * 10000.0
            + 0.5
        )
        / 10000.0
    )
    n_top5 = F.size(
        F.filter(
            F.col("top_toks"), lambda tok: F.array_contains(F.col("t"), tok)
        )
    ).cast("bigint")
    sig = tokd.crossJoin(F.broadcast(top5)).select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wlen.alias("mean_wlen"),
        dup_frac.alias("dup_frac"),
        n_top5.alias("n_top5"),
    )
    score = (
        4 * F.when(F.col("n_words").between(20, 100000), 1).otherwise(0)
        + 3 * F.when(F.col("mean_wlen").between(3.0, 10.0), 1).otherwise(0)
        + 2 * F.when(F.col("dup_frac") <= 0.7, 1).otherwise(0)
        + 1 * F.when(F.col("n_top5") >= 2, 1).otherwise(0)
    )
    return sig.select(
        "doc_id",
        "n_words",
        "mean_wlen",
        "dup_frac",
        "n_top5",
        score.cast("bigint").alias("ensemble_score"),
        (score >= 8).alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# corpus_dedup_funnel — end-to-end curation pipeline attrition audit

_FUNNEL_BANDS_XY = " OR ".join(
    "("
    + " AND ".join(
        f"x.mh{b * BAND_ROWS + r} = y.mh{b * BAND_ROWS + r}"
        for r in range(BAND_ROWS)
    )
    + ")"
    for b in range(N_HASHES // BAND_ROWS)
)
_FUNNEL_MATCHES_XY = " + ".join(
    f"CAST(x.mh{i} = y.mh{i} AS INT)" for i in range(N_HASHES)
)


@register(
    "corpus_dedup_funnel",
    oracle=f"""
        WITH s1 AS (
            SELECT doc_id FROM (
                SELECT doc_id,
                       row_number() OVER (
                           PARTITION BY md5(lower(trim(text)))
                           ORDER BY doc_id) AS rn
                FROM documents) WHERE rn = 1
        ),
        sigs AS ({_MINHASH_ORACLE}),
        neardup AS (
            SELECT DISTINCT y.doc_id
            FROM sigs x JOIN sigs y
              ON x.doc_id < y.doc_id AND ({_FUNNEL_BANDS_XY})
            WHERE ({_FUNNEL_MATCHES_XY}) >= {N_HASHES // 2}
              AND x.doc_id IN (SELECT doc_id FROM s1)
              AND y.doc_id IN (SELECT doc_id FROM s1)
        ),
        s2 AS (
            SELECT doc_id FROM s1
            WHERE doc_id NOT IN (SELECT doc_id FROM neardup)
        ),
        qual AS (
            SELECT doc_id,
                   len(t) AS n_words,
                   len(list_filter(t,
                       w -> w IN ('the', 'a', 'of', 'and'))) AS n_stop
            FROM (SELECT doc_id,
                         list_filter(string_split(lower(text), ' '),
                                     x -> x <> '') AS t
                  FROM documents)
        ),
        s3 AS (
            SELECT s2.doc_id FROM s2 JOIN qual ON qual.doc_id = s2.doc_id
            WHERE qual.n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}
              AND 20 * qual.n_stop >= qual.n_words
        ),
        grams AS (
            SELECT doc_id,
                   unnest(list_distinct([
                       array_to_string(
                           toks[CAST(i AS INTEGER):CAST(i + 3 AS INTEGER)],
                           ' ')
                       FOR i IN range(1, len(toks) - 2)
                   ])) AS g
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
                  FROM documents)
        ),
        contam AS (
            SELECT DISTINCT t.doc_id
            FROM grams t JOIN grams b ON t.g = b.g
            WHERE t.doc_id % 97 <> 0 AND b.doc_id % 97 = 0
        ),
        s4 AS (
            SELECT doc_id FROM s3
            WHERE doc_id % 97 <> 0
              AND doc_id NOT IN (SELECT doc_id FROM contam)
        ),
        n AS (
            SELECT (SELECT count(*) FROM documents) AS n0,
                   (SELECT count(*) FROM s1) AS n1,
                   (SELECT count(*) FROM s2) AS n2,
                   (SELECT count(*) FROM s3) AS n3,
                   (SELECT count(*) FROM s4) AS n4
        )
        SELECT stage, stage_name,
               CAST(n_in AS BIGINT) AS n_in,
               CAST(n_in - n_out AS BIGINT) AS n_dropped,
               CAST(n_out AS BIGINT) AS n_out,
               floor(CAST(n_in - n_out AS DOUBLE) / n_in * 10000.0 + 0.5)
                   / 10000.0 AS drop_pct
        FROM (
            SELECT CAST(1 AS BIGINT) AS stage, 'exact_dedup' AS stage_name,
                   n0 AS n_in, n1 AS n_out FROM n
            UNION ALL
            SELECT 2, 'near_dedup', n1, n2 FROM n
            UNION ALL
            SELECT 3, 'quality_gate', n2, n3 FROM n
            UNION ALL
            SELECT 4, 'decontaminate', n3, n4 FROM n
        ) f
        ORDER BY stage
    """,
)
def corpus_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE auditable funnel: exact
    dedup -> MinHash-LSH near-dedup -> Gopher-lite quality gate ->
    benchmark decontamination, each stage filtering the previous
    stage's survivors, with per-stage in/dropped/out counts and drop
    rate. This is the table a data-governance review actually asks
    for — every individual stage exists as its own query
    (dedup_exact, dedup_fuzzy_minhash, text_quality_gopher,
    text_contamination_ngram); the funnel pins their COMPOSITION, so
    a change in any stage's selectivity is immediately visible as a
    shifted attrition row.

    Integer-exact gates throughout: the near-dup threshold est >= 0.5
    is compared as signature matches >= {N_HASHES // 2} (integers),
    the stop-fraction gate 0.05 as 20*n_stop >= n_words, so no float
    enters any keep/drop decision; only the output drop_pct is a
    (floor-rounded) double.

    Scale shape: stage 1 shuffles hashes not text; stage 2 is the
    banded equi-join on s1 survivors (candidates only within shared
    buckets); stage 3 is per-row arithmetic; stage 4 broadcasts the
    tiny eval split's grams. The funnel's readout is five scalar
    aggregates — one job, no driver-side loops."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.lower(F.trim(F.col("text"))))).orderBy(
        "doc_id"
    )
    s1 = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id")
    )
    sigs = _minhash_signatures(spark, sf_dir).join(s1, "doc_id")
    n_bands = N_HASHES // BAND_ROWS
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"mh{b * BAND_ROWS + r}").cast("string")
                        for r in range(BAND_ROWS)
                    ],
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    banded = sigs.select(
        "doc_id",
        *[F.col(f"mh{i}") for i in range(N_HASHES)],
        F.explode(bands).alias("bb"),
    ).select(
        "doc_id",
        *[F.col(f"mh{i}") for i in range(N_HASHES)],
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )
    x = banded.select(
        F.col("doc_id").alias("a"),
        "band",
        "bucket",
        *[F.col(f"mh{i}").alias(f"a_mh{i}") for i in range(N_HASHES)],
    )
    y = banded.select(
        F.col("doc_id").alias("b"),
        "band",
        "bucket",
        *[F.col(f"mh{i}").alias(f"b_mh{i}") for i in range(N_HASHES)],
    )
    matches = sum(
        F.when(F.col(f"a_mh{i}") == F.col(f"b_mh{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    neardup = (
        x.join(y, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", matches.alias("m"))
        .distinct()
        .filter(F.col("m") >= N_HASHES // 2)
        .select(F.col("b").alias("doc_id"))
        .distinct()
    )
    s2 = s1.join(neardup, "doc_id", "left_anti")
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda t: t != "")
    qual = d.select(
        "doc_id",
        F.size(toks).alias("n_words"),
        F.size(
            F.filter(toks, lambda t: t.isin(*_STOPWORDS))
        ).alias("n_stop"),
    )
    s3 = (
        s2.join(qual, "doc_id")
        .filter(
            F.col("n_words").between(_MIN_WORDS, _MAX_WORDS)
            & (20 * F.col("n_stop") >= F.col("n_words"))
        )
        .select("doc_id")
    )
    toks3 = F.split(F.lower(F.col("text")), " ")
    idx3 = F.sequence(F.lit(0), F.size(toks3) - 4)
    grams = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    idx3, lambda i: F.array_join(F.slice(toks3, i + 1, 4), " ")
                )
            )
        ).alias("g"),
    )
    # the eval split is benchmark-BOUNDED (a real bench set is a few
    # thousand docs; the %97 modulo is the fixture stand-in), so its
    # distinct grams broadcast and the corpus-side gram stream never
    # shuffles. NOTE the hint wraps the post-distinct frame — hinting
    # before .distinct() buries the hint under the Aggregate where the
    # join planner never sees it.
    contam = (
        grams.filter(F.col("doc_id") % 97 != 0)
        .join(
            F.broadcast(
                grams.filter(F.col("doc_id") % 97 == 0)
                .select("g")
                .distinct()
            ),
            "g",
        )
        .select("doc_id")
        .distinct()
    )
    s4 = (
        s3.filter(F.col("doc_id") % 97 != 0)
        .join(contam, "doc_id", "left_anti")
    )
    counts = (
        d.agg(F.count(F.lit(1)).alias("n0"))
        .crossJoin(s1.agg(F.count(F.lit(1)).alias("n1")))
        .crossJoin(s2.agg(F.count(F.lit(1)).alias("n2")))
        .crossJoin(s3.agg(F.count(F.lit(1)).alias("n3")))
        .crossJoin(s4.agg(F.count(F.lit(1)).alias("n4")))
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(i + 1).cast("bigint").alias("stage"),
                F.lit(nm).alias("stage_name"),
                F.col(f"n{i}").alias("n_in"),
                F.col(f"n{i + 1}").alias("n_out"),
            )
            for i, nm in enumerate(
                ["exact_dedup", "near_dedup", "quality_gate", "decontaminate"]
            )
        ]
    )
    ex = counts.select(F.explode(stages).alias("s")).select(
        "s.stage", "s.stage_name", "s.n_in", "s.n_out"
    )
    dropped = F.col("n_in") - F.col("n_out")
    return ex.select(
        "stage",
        "stage_name",
        F.col("n_in").cast("bigint").alias("n_in"),
        dropped.cast("bigint").alias("n_dropped"),
        F.col("n_out").cast("bigint").alias("n_out"),
        (
            F.floor(dropped.cast("double") / F.col("n_in") * 10000.0 + 0.5)
            / 10000.0
        ).alias("drop_pct"),
    ).orderBy("stage")


@register(
    "corpus_perplexity_buckets",
    oracle="""
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
        ),
        per_doc AS (
            SELECT b.doc_id,
                   count(*) AS n_bigrams,
                   round(exp(avg(-ln((bc.c12 + 0.5)
                                     / (cc.c1 + 0.5 * vocab.v)))), 4) AS ppl
            FROM big b
            JOIN bg_counts bc ON bc.bg = b.bg
            JOIN ctx_counts cc ON cc.w1 = string_split(b.bg, ' ')[1]
            CROSS JOIN vocab
            GROUP BY b.doc_id
        ),
        bucketed AS (
            SELECT doc_id, n_bigrams, ppl,
                   ntile(3) OVER (ORDER BY ppl, doc_id) AS tile
            FROM per_doc
        )
        SELECT CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                         ELSE 'tail' END AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
               CAST(floor(CAST(sum(CAST(floor(ppl * 10000.0 + 0.5)
                                        AS BIGINT)) AS DOUBLE)
                          / count(*) + 0.5)
                    AS DOUBLE) / 10000.0 AS avg_ppl,
               CAST(min(ppl) AS DOUBLE) AS min_ppl,
               CAST(max(ppl) AS DOUBLE) AS max_ppl
        FROM bucketed
        GROUP BY 1
        ORDER BY 1
    """,
)
def corpus_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    every document with the corpus bigram LM (the registered
    text_bigram_lm_perplexity signal, reused as-is), rank into
    head / middle / tail terciles, and report per-bucket volume and
    perplexity spread — the standard curation readout before choosing
    'train on head+middle, drop tail'. Bucket assignment is ntile(3)
    over (ppl, doc_id) — fully deterministic via the unique tie-break.

    Determinism: per-doc ppl is the already-4dp-rounded LM output;
    the bucket average integerizes those values (x1e4) so the
    cross-doc sum is exact and the mean is one division.

    Scale shape: the LM stage is the fact-sized work (see
    text_bigram_lm_perplexity); tiles come from the distrank bucket
    two-pass + arithmetic ntile (ntile_from_rank) — exact ntile
    semantics without a single-partition sort over the doc frame."""
    from parquet_playground_spark.functions.text import (
        text_bigram_lm_perplexity,
    )

    per_doc = text_bigram_lm_perplexity(spark, sf_dir).select(
        "doc_id", "n_bigrams", F.col("perplexity").alias("ppl")
    )
    ranked = global_rank(per_doc, "ppl", ["doc_id"], rank_col="__rk")
    n_df = per_doc.agg(F.count(F.lit(1)).alias("__n"))
    bucketed = ranked.crossJoin(F.broadcast(n_df)).withColumn(
        "tile", ntile_from_rank(F.col("__rk"), F.col("__n"), 3)
    )
    return (
        bucketed.groupBy(
            F.when(F.col("tile") == 1, "head")
            .when(F.col("tile") == 2, "middle")
            .otherwise("tail")
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bigrams").cast("bigint").alias("n_bigrams"),
            (
                F.floor(
                    F.sum(
                        F.floor(F.col("ppl") * 10000.0 + 0.5).cast("bigint")
                    ).cast("double")
                    / F.count(F.lit(1))
                    + 0.5
                ).cast("double")
                / 10000.0
            ).alias("avg_ppl"),
            F.min("ppl").cast("double").alias("min_ppl"),
            F.max("ppl").cast("double").alias("max_ppl"),
        )
        .orderBy("bucket")
    )

# Spark-SQL twin of dedup._SHINGLES_SQL (same K, same distinct-shingle
# contract) so the leakage audit can share one SQL template across
# engines; {documents} is the document source relation.
_SLC_SHINGLES_DUCK = """
        SELECT doc_id, shingle
        FROM (
            SELECT doc_id,
                   unnest(list_distinct([
                       array_to_string(toks[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' ')
                       FOR i IN range(1, len(toks) - 1)
                   ])) AS shingle
            FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
                  FROM {documents})
        )
"""

_SLC_SHINGLES_SPARK = """
        SELECT doc_id, shingle
        FROM (
            SELECT doc_id,
                   explode(array_distinct(transform(
                       sequence(0, size(toks) - 3),
                       i -> array_join(slice(toks, i + 1, 3), ' ')
                   ))) AS shingle
            FROM (SELECT doc_id, split(lower(text), '\\\\s+') AS toks
                  FROM {documents})
        )
"""

_SLC_SQL = """
        WITH sh0 AS ({shingles}),
        sdf AS (
            SELECT shingle, count(*) AS c FROM sh0
            GROUP BY shingle HAVING count(*) <= 100
        ),
        sh AS (
            SELECT s.doc_id, s.shingle, sdf.c
            FROM sh0 s JOIN sdf ON s.shingle = sdf.shingle
        ),
        sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        ranked AS (
            SELECT s.doc_id, s.shingle, z.n,
                   row_number() OVER (
                       PARTITION BY s.doc_id ORDER BY s.c, s.shingle
                   ) AS r
            FROM sh s JOIN sz z ON s.doc_id = z.doc_id
        ),
        prefix AS (
            SELECT doc_id, shingle, n FROM ranked
            WHERE r <= n - CAST(ceil(n * 0.5) AS BIGINT) + 1
        ),
        splits AS (
            SELECT doc_id,
                   CASE WHEN b < 80 THEN 'train'
                        WHEN b < 90 THEN 'val' ELSE 'test' END AS split
            FROM (
                SELECT doc_id,
                       {hex_head}substr(md5(concat('split:',
                            CAST(doc_id AS {str_t}))), 1, 8){hex_tail}
                       % 100 AS b
                FROM {documents}) t
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
                   a.n AS na, b.n AS nb
            FROM prefix a
            JOIN prefix b ON a.shingle = b.shingle
                         AND a.doc_id < b.doc_id
            WHERE CAST(least(a.n, b.n) AS DOUBLE) / greatest(a.n, b.n)
                  >= 0.5
        ),
        pairs AS (
            SELECT c.da, c.db, c.na, c.nb, count(*) AS inter
            FROM cand c
            JOIN sh x ON x.doc_id = c.da
            JOIN sh y ON y.doc_id = c.db AND x.shingle = y.shingle
            GROUP BY c.da, c.db, c.na, c.nb
        ),
        neardup AS (
            SELECT p.da, p.db
            FROM pairs p
            WHERE CAST(p.inter AS DOUBLE) / (p.na + p.nb - p.inter) >= 0.5
        ),
        crossings AS (
            SELECT sa.split AS split_a, sb.split AS split_b
            FROM neardup nd
            JOIN splits sa ON nd.da = sa.doc_id
            JOIN splits sb ON nd.db = sb.doc_id
        )
        SELECT least(split_a, split_b) AS split_lo,
               greatest(split_a, split_b) AS split_hi,
               CAST(count(*) AS BIGINT) AS n_neardup_pairs,
               CAST(CASE WHEN least(split_a, split_b)
                              <> greatest(split_a, split_b)
                         THEN 1 ELSE 0 END AS BIGINT) AS is_leakage
        FROM crossings
        GROUP BY least(split_a, split_b), greatest(split_a, split_b)
        ORDER BY split_lo, split_hi
"""


@register(
    "dataset_split_leakage_check",
    oracle=_SLC_SQL.format(
        shingles=_SLC_SHINGLES_DUCK.format(documents="documents"),
        documents="documents",
        str_t="VARCHAR",
        hex_head="CAST(concat('0x', ",
        hex_tail=") AS BIGINT)",
    ),
)
def dataset_split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit: do near-duplicate documents straddle the
    train/val/test boundary? Hash-threshold splitting
    (dataset_train_val_test_split's md5 rule, reproduced bit-exactly)
    guarantees a DOC never migrates between splits — but it cannot
    guarantee a doc's NEAR-DUPLICATE is not sitting in test while the
    original trains, which silently inflates eval scores; this is the
    standard decontamination gap in ML pipelines. The audit finds
    exact-jaccard >= 0.5 near-dup pairs with the PREFIX-FILTER
    candidate pruning (dedup_prefix_filter_allpairs' chain over the
    stop-shingle-capped sets: df-ascending prefix index, length
    filter, verify only survivors — 100% recall at the threshold by
    pigeonhole) and cross-tabulates pair split membership:
    off-diagonal cells ARE the leakage (is_leakage = 1), with
    diagonal cells kept for base-rate context. The first cut of this
    op used the plain shared-shingle pair join and the sf1 scale
    screen measured it 3.7 -> 107 s at 10x docs (every co-occurring
    pair materialized before the jaccard filter); the prefix-filter
    chain restores the sublinear profile already measured for the
    standalone op.

    Determinism: integer shingle counts, md5 split assignment, one
    jaccard ratio per pair compared identically on both engines,
    pair-symmetric readout via least/greatest.

    Scale shape: candidate pairs are prefix-bounded and
    length-filtered before the only quadratic step; split labels join
    on doc_id; the readout is a <= 6-row crosstab. The same audit
    composes with MinHash-LSH candidates when even the exact prefix
    path is too hot."""
    # The SQL references the shingle stream ~5x (df cap, sizes,
    # ranking, and both verification sides); materialize it once so
    # Spark doesn't re-run the explode per reference. sh0 here is the
    # raw shingle stream; the SQL's own sh0 CTE becomes a passthrough.
    shingles = sql_on_tables(spark, sf_dir, _SLC_SHINGLES_SPARK)
    out = sql_on_tables(
        spark,
        sf_dir,
        _SLC_SQL.format(
            shingles="SELECT doc_id, shingle FROM {shingles}",
            documents="{documents}",
            str_t="STRING",
            hex_head="CAST(conv(",
            hex_tail=", 16, 10) AS BIGINT)",
        ),
        shingles=shingles,
    )
    # Persist only now: spark.sql drops the view it bound `shingles`
    # to before returning, and dropping a view uncaches the data its
    # plan matches. The cache is substituted when `out` is planned.
    track_persist(shingles)
    return out
