"""Deduplication operators for LLM training-data pipelines.

Five dedup families over `documents` (BASELINE.json north star):
  * exact            — hash of normalized text, keep lowest doc_id
  * minhash sigs     — per-doc MinHash signature (md5-based, portable
                       so the DuckDB oracle computes identical hashes)
  * minhash LSH      — banded signature -> candidate near-dup pairs
  * n-gram jaccard   — exact shingle-set jaccard via self-join
  * simhash          — 60-bit bit-majority fingerprint (15-bit bands)

Scale notes: every pipeline is explode -> hash -> groupBy, shuffling
on doc_id or (band, bucket) — never a full cross join. The LSH
band-bucket join is the 100 TB path: candidate pairs are generated
only within identical-bucket groups. The exact-jaccard query exists
as the small-scale oracle-checkable ground truth for LSH.

Portable hashing: h(s) = first 8 hex chars of md5(s) as a BIGINT —
identical in Spark and DuckDB, unlike xxhash64/hash() which differ
per engine. Production would swap in xxhash64 (cheaper); semantics
are unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_playground_spark.registry import register
from parquet_playground_spark.tables import load_table

N_HASHES = 8  # minhash permutations
BAND_ROWS = 2  # rows per LSH band -> 4 bands
SHINGLE_K = 3  # word-shingle width


def _portable_hash(col: Column) -> Column:
    """First 8 hex chars of md5 -> bigint; bit-identical in DuckDB via
    CAST(concat('0x', substr(md5(s),1,8)) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def _fanout(df: DataFrame) -> DataFrame:
    """Rebalance a small scan across the session's full parallelism.

    A sub-128MB documents file arrives as ONE input split, which would
    run every downstream explode+hash on a single core. One cheap
    narrow-row shuffle before the compute-heavy stage unlocks all
    cores; at 100 TB the source has thousands of splits and this
    repartition coalesces into AQE's normal planning (same pattern as
    rebalancing before an expensive per-row transform)."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, "doc_id")


def _shingles(df: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id -> exploded distinct word-k-shingles."""
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    idx = F.sequence(F.lit(0), F.size(toks) - SHINGLE_K)
    sh = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, SHINGLE_K), " ")
    )
    return _fanout(df).select(
        "doc_id", F.explode(F.array_distinct(sh)).alias("shingle")
    )


_SHINGLES_SQL = f"""
        SELECT doc_id, shingle
        FROM (
            SELECT doc_id,
                   unnest(list_distinct([
                       array_to_string(toks[CAST(i AS INTEGER):CAST(i + {SHINGLE_K} - 1 AS INTEGER)], ' ')
                       FOR i IN range(1, len(toks) - {SHINGLE_K} + 2)
                   ])) AS shingle
            FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
                  FROM documents)
        )
"""


@register(
    "dedup_exact",
    oracle="""
        SELECT min(doc_id) AS canonical_doc_id,
               count(*) AS n_copies
        FROM documents
        GROUP BY md5(lower(trim(text)))
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by normalized-text hash, keep lowest doc_id.
    One map-side-combinable shuffle on the 128-bit hash; at 100 TB the
    hash (not the text) is what shuffles."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5(F.lower(F.trim(F.col("text")))).alias("h")).agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count("*").alias("n_copies"),
    ).drop("h")


def _minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8 permutations from 2 md5 digests: each 128-bit digest yields four
    independent 32-bit slices (md5 output bits are uniformly mixed), so
    the md5 cost per shingle drops 4x vs hashing once per permutation.
    The digests are projected BEFORE the aggregate so each is computed
    once per row, not once per agg expression."""
    d = load_table(spark, sf_dir, "documents")
    sh = _shingles(d)
    digests = sh.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(f"s{j}:"), F.col("shingle"))).alias(f"m{j}")
            for j in range(2)
        ],
    )
    aggs = [
        F.min(
            F.conv(
                F.substring(F.col(f"m{i // 4}"), 1 + 8 * (i % 4), 8), 16, 10
            ).cast("bigint")
        ).alias(f"mh{i}")
        for i in range(N_HASHES)
    ]
    return digests.groupBy("doc_id").agg(*aggs)


_MINHASH_ORACLE = f"""
        WITH sh AS ({_SHINGLES_SQL}),
        dg AS (
            SELECT doc_id,
                   md5(concat('s0:', shingle)) AS m0,
                   md5(concat('s1:', shingle)) AS m1
            FROM sh
        )
        SELECT doc_id,
               {", ".join(
                   f"min(CAST(concat('0x', substr(m{i // 4}, {1 + 8 * (i % 4)}, 8)) AS BIGINT)) AS mh{i}"
                   for i in range(N_HASHES)
               )}
        FROM dg
        GROUP BY doc_id
"""


@register("dedup_minhash_signatures", oracle=_MINHASH_ORACLE)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signature (8 portable permutations over distinct
    word-3-shingles). Oracle-checkable because the hash is md5-derived
    on both sides."""
    return _minhash_signatures(spark, sf_dir)


_FUZZY_MINHASH_ORACLE = f"""
        SELECT p.a, p.b,
               ({" + ".join(
                   f"CAST(xa.mh{i} = xb.mh{i} AS INT)" for i in range(N_HASHES)
               )}) / {float(N_HASHES)} AS est_jaccard
        FROM (
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM ({_MINHASH_ORACLE}) x JOIN ({_MINHASH_ORACLE}) y
              ON x.doc_id < y.doc_id
             AND ({" OR ".join(
                 "(" + " AND ".join(
                     f"x.mh{b * BAND_ROWS + r} = y.mh{b * BAND_ROWS + r}"
                     for r in range(BAND_ROWS)
                 ) + ")"
                 for b in range(N_HASHES // BAND_ROWS)
             )})
        ) p
        JOIN ({_MINHASH_ORACLE}) xa ON xa.doc_id = p.a
        JOIN ({_MINHASH_ORACLE}) xb ON xb.doc_id = p.b
"""


@register("dedup_fuzzy_minhash", oracle=_FUZZY_MINHASH_ORACLE)
def dedup_fuzzy_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates: band the signature (4 bands x 2
    rows), bucket-join docs sharing any band, estimate jaccard as the
    fraction of matching signature positions.

    Scale shape: |docs| x n_bands rows shuffle on (band, bucket); pairs
    only materialize inside buckets — never |docs|^2. The bucket key is
    the band's raw signature values (portable concat), so the candidate
    set is engine-reproducible and the DuckDB oracle checks the full
    (a, b, est_jaccard) output — the oracle's OR-of-bands join is the
    semantic spec; the banded equi-join is the scale implementation.
    """
    sigs = _minhash_signatures(spark, sf_dir)
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
    ).select("doc_id", *[f"mh{i}" for i in range(N_HASHES)], "bb.band", "bb.bucket")

    left = banded.select(
        F.col("doc_id").alias("a"),
        *[F.col(f"mh{i}").alias(f"a_mh{i}") for i in range(N_HASHES)],
        "band",
        "bucket",
    )
    right = banded.select(
        F.col("doc_id").alias("b"),
        *[F.col(f"mh{i}").alias(f"b_mh{i}") for i in range(N_HASHES)],
        "band",
        "bucket",
    )
    pairs = left.join(right, ["band", "bucket"]).filter(F.col("a") < F.col("b"))
    matches = sum(
        F.when(F.col(f"a_mh{i}") == F.col(f"b_mh{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    return (
        pairs.withColumn("est_jaccard", matches / F.lit(float(N_HASHES)))
        .select("a", "b", "est_jaccard")
        .distinct()
    )


MAX_SHINGLE_DF = 100  # stop-shingle cap: drop shingles in > this many docs


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
        WITH sh0 AS ({_SHINGLES_SQL}),
        sh AS (
            SELECT doc_id, shingle FROM sh0
            WHERE shingle IN (
                SELECT shingle FROM sh0
                GROUP BY shingle HAVING count(*) <= {MAX_SHINGLE_DF}
            )
        ),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
            SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_common
            FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
            GROUP BY x.doc_id, y.doc_id
        )
        SELECT a, b,
               round(CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = a
        JOIN sizes sb ON sb.doc_id = b
        WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-set jaccard >= 0.2 via shared-shingle self-join —
    the ground truth the LSH path approximates. Join key is the
    shingle, so cost is sum over shingles of (docs-per-shingle)^2; the
    stop-shingle filter (doc-freq > MAX_SHINGLE_DF dropped before the
    join, identically on both sides) removes the quadratic cliff a hot
    shingle would create at scale. Jaccard is computed over the
    filtered shingle sets — standard stop-shingle semantics."""
    d = load_table(spark, sf_dir, "documents")
    sh0 = _shingles(d)
    keep = (
        sh0.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= MAX_SHINGLE_DF)
        .select("shingle")
    )
    sh = sh0.join(keep, "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    x = sh.select(F.col("doc_id").alias("a"), "shingle")
    y = sh.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        x.join(y, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("sz_b"))
    jac = F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(jac >= 0.2)
        .select("a", "b", "jaccard")
    )


# 60 bits from two md5 halves (32-bit conv parses only; bit 63 would
# overflow signed bigint). Width is load-bearing for the banded pair
# join: each band's value space must EXCEED the corpus doc count or
# buckets grow linearly and the band join goes quadratic — the sf1
# scale screen measured the original 16-bit/4-bit-band form at
# 0.9 -> 49.7 s for 10x docs (64 bucket values total); 15-bit bands
# give 32768 values per band. Rule: band bits >= log2(n_docs).
_SIMHASH_BITS = 60

_SIMHASH_ORACLE = f"""
        WITH tok AS (
            SELECT doc_id,
                   CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)
                       AS hlo,
                   CAST(concat('0x', substr(md5(tok), 9, 8)) AS BIGINT)
                       AS hhi
            FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
                  FROM documents)
        )
        SELECT doc_id,
               {" + ".join(
                   f"(CASE WHEN sum(CASE WHEN ({'hlo' if b < 30 else 'hhi'} >> {b if b < 30 else b - 30}) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN {1 << b} ELSE 0 END)"
                   for b in range(_SIMHASH_BITS)
               )} AS simhash
        FROM tok
        GROUP BY doc_id
"""


def _simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = (
        _fanout(d)
        .select(
            "doc_id",
            F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"),
        )
        .withColumn("hlo", _portable_hash(F.col("tok")))
        .withColumn(
            "hhi",
            F.conv(F.substring(F.md5(F.col("tok")), 9, 8), 16, 10).cast(
                "bigint"
            ),
        )
    )
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright(
                    "hlo" if b < 30 else "hhi", b if b < 30 else b - 30
                ).bitwiseAND(1)
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"bs{b}")
        for b in range(_SIMHASH_BITS)
    ]
    per_doc = tok.groupBy("doc_id").agg(*bit_sums)
    fingerprint = sum(
        F.when(F.col(f"bs{b}") > 0, F.lit(1 << b)).otherwise(0)
        for b in range(_SIMHASH_BITS)
    )
    return per_doc.select("doc_id", fingerprint.cast("bigint").alias("simhash"))


@register("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash: per token-hash bit, sum +1/-1 across the doc;
    fingerprint bit = sign of the sum (bits 0-29 from the first md5
    half, 30-59 from the second). Near-dups have small hamming
    distance. Single groupBy(doc_id) — linear, map-combinable."""
    return _simhash_fingerprints(spark, sf_dir)


_SIMHASH_BANDS = 4  # 4 bands x 15 bits over the 60-bit fingerprint
_SIMHASH_MAX_HAMMING = 3  # <= bands-1 differing bits => >=1 band identical


@register(
    "dedup_simhash_pairs",
    oracle=f"""
        WITH fp AS ({_SIMHASH_ORACLE})
        SELECT x.doc_id AS a, y.doc_id AS b,
               CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
        FROM fp x JOIN fp y ON x.doc_id < y.doc_id
        WHERE bit_count(xor(x.simhash, y.simhash)) <= {_SIMHASH_MAX_HAMMING}
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3) via band-bucket join: the
    60-bit fingerprint splits into 4 bands of 15 bits; by pigeonhole,
    any pair within hamming 3 shares at least one band verbatim, so the
    banded equi-join finds EXACTLY the same pairs as the O(n^2) scan
    the oracle runs — candidates are generated only inside identical
    (band_idx, band_value) buckets, never all-pairs. Same shape LSH
    uses; this is the 100 TB plan, the oracle is the ground truth."""
    fp = _simhash_fingerprints(spark, sf_dir)
    band_w = _SIMHASH_BITS // _SIMHASH_BANDS
    bands = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", i * band_w).bitwiseAND(
                        (1 << band_w) - 1
                    )
                    for i in range(_SIMHASH_BANDS)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    x = bands.select(
        F.col("doc_id").alias("a"),
        F.col("simhash").alias("fp_a"),
        "band_idx",
        "band_val",
    )
    y = bands.select(
        F.col("doc_id").alias("b"),
        F.col("simhash").alias("fp_b"),
        "band_idx",
        "band_val",
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        x.join(y, ["band_idx", "band_val"])
        .filter(F.col("a") < F.col("b"))
        .filter(ham <= _SIMHASH_MAX_HAMMING)
        .select("a", "b", ham.cast("int").alias("hamming"))
        .distinct()
    )


# ---- near-dup graph -> clusters (connected components) ----

_JACCARD_EDGES_SQL = f"""
            WITH sh0 AS ({_SHINGLES_SQL}),
            shf AS (
                SELECT doc_id, shingle FROM sh0
                WHERE shingle IN (
                    SELECT shingle FROM sh0
                    GROUP BY shingle HAVING count(*) <= {{max_df}}
                )
            ),
            sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY doc_id),
            inter AS (
                SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_common
                FROM shf x JOIN shf y
                  ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                GROUP BY x.doc_id, y.doc_id
            ),
            edges AS (
                SELECT a, b FROM inter
                JOIN sizes sa ON sa.doc_id = a
                JOIN sizes sb ON sb.doc_id = b
                WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.2
            )
"""

_CLUSTERS_ORACLE = (
    _JACCARD_EDGES_SQL.format(max_df="100")
    + """
            , sym AS (
                SELECT a AS u, b AS v FROM edges
                UNION SELECT b, a FROM edges
            ),
            docs AS (SELECT DISTINCT doc_id FROM documents),
            cc AS (
                SELECT doc_id AS doc, doc_id AS label FROM docs
                UNION
                SELECT s.u AS doc, cc.label
                FROM cc JOIN sym s ON s.v = cc.doc
            )
        SELECT doc, CAST(min(label) AS BIGINT) AS cluster_id
        FROM cc
        GROUP BY doc
"""
)
_CLUSTERS_ORACLE = "WITH RECURSIVE " + _CLUSTERS_ORACLE.split("WITH ", 1)[1]


def _jaccard_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup edge set (a, b): stop-shingle-filtered shingle
    self-join, jaccard >= 0.2 — the same pipeline dedup_ngram_jaccard
    registers, reused by the clustering and verification stages."""
    d = load_table(spark, sf_dir, "documents")
    sh0 = _shingles(d)
    keep = (
        sh0.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= MAX_SHINGLE_DF)
        .select("shingle")
    )
    sh = sh0.join(keep, "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    x = sh.select(F.col("doc_id").alias("a"), "shingle")
    y = sh.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        x.join(y, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("sz_b"))
    jac = F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
    return inter.join(sa, "a").join(sb, "b").filter(jac >= 0.2).select("a", "b")


@register("dedup_clusters", oracle=_CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the jaccard>=0.2
    edge set, labeling every doc with the smallest doc_id reachable
    from it (the canonical representative real dedup keeps). Spark side
    is iterative min-label propagation — each round one join + one
    min-aggregate, the standard large-scale CC pattern (GraphX/
    GraphFrames do the same under the hood); the oracle is a DuckDB
    recursive CTE over the identical edge set. Converges in
    O(diameter) rounds; the loop breaks as soon as a round changes no
    label (a driver-side scalar count, not a data collect)."""
    d = load_table(spark, sf_dir, "documents")
    edges = _jaccard_edges(spark, sf_dir)
    sym = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).withColumnsRenamed({"a": "u", "b": "v"})

    labels = d.select(
        F.col("doc_id").alias("doc"), F.col("doc_id").alias("label")
    )
    sym = sym.localCheckpoint()  # freeze the edge set; loop reuses it
    for _ in range(20):  # diameter bound; real data converges in a few
        neighbor_min = (
            sym.join(labels, sym.v == labels.doc)
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.doc == neighbor_min.u, "left")
            .select(
                "doc",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("doc", F.col("label").cast("bigint").alias("cluster_id"))


# ---- random-hyperplane LSH over embeddings (the 100 TB cosine path) ----
#
# Hyperplanes are FIXED literal constants (seeded PRNG at module load),
# embedded identically into the Spark expressions and the DuckDB oracle
# SQL, so the bucketing — and therefore the full candidate set — is
# bit-for-bit reproducible on both sides: the LSH approximation itself
# is oracle-checked, not just sampled.
import random as _random

_LSH_TABLES = 2  # independent hash tables (recall knob)
_LSH_BITS = 6  # hyperplanes per table -> 64 buckets each
_EMB_DIM = 64
_rng = _random.Random(42)
_HYPERPLANES = [
    [
        [round(_rng.gauss(0.0, 1.0), 6) for _ in range(_EMB_DIM)]
        for _ in range(_LSH_BITS)
    ]
    for _ in range(_LSH_TABLES)
]


def _dot_lit(vec_col: Column, plane: list[float]) -> Column:
    lit = F.array(*[F.lit(c) for c in plane])
    return F.aggregate(
        F.zip_with(vec_col, lit, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _bucket_expr(vec_col: Column, table: int) -> Column:
    bits = [
        F.when(_dot_lit(vec_col, _HYPERPLANES[table][j]) > 0, F.lit(1 << j)).otherwise(0)
        for j in range(_LSH_BITS)
    ]
    return sum(bits[1:], bits[0])


def _sql_array(plane: list[float]) -> str:
    return "[" + ", ".join(f"{c!r}" for c in plane) + "]"


def _bucket_sql(table: int) -> str:
    return " + ".join(
        f"(CASE WHEN list_dot_product(v, {_sql_array(_HYPERPLANES[table][j])}) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(_LSH_BITS)
    )


_EMB_LSH_ORACLE = f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        sig AS (
            SELECT vec_id, v,
                   {_bucket_sql(0)} AS b0,
                   {_bucket_sql(1)} AS b1
            FROM e
        ),
        cand AS (
            SELECT x.vec_id AS a, y.vec_id AS b, x.v AS va, y.v AS vb
            FROM sig x JOIN sig y ON x.b0 = y.b0 AND x.vec_id < y.vec_id
            UNION
            SELECT x.vec_id, y.vec_id, x.v, y.v
            FROM sig x JOIN sig y ON x.b1 = y.b1 AND x.vec_id < y.vec_id
        )
        SELECT a, b, round(list_cosine_similarity(va, vb), 4) AS cos_sim
        FROM cand
        WHERE list_cosine_similarity(va, vb) > 0.3
"""


@register("dedup_embedding_lsh", oracle=_EMB_LSH_ORACLE)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via random-hyperplane (SimHash) LSH —
    the unbounded-scale replacement for dedup_embedding_cosine's
    all-pairs check. Each vector gets a 6-bit sign signature in 2
    independent tables; candidate pairs only materialize inside
    (table, bucket) groups — one equi-join shuffle keyed by bucket,
    never |vectors|^2. Exact cosine then confirms candidates. At
    100 TB you raise bits (smaller buckets) and tables (recall), and
    feed the confirmed pairs to the same connected-components step as
    minhash LSH."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    sig = e.select(
        "vec_id",
        "v",
        *[_bucket_expr(F.col("v"), t).alias(f"b{t}") for t in range(_LSH_TABLES)],
    )
    buckets = sig.select(
        "vec_id",
        "v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"), F.col(f"b{t}").alias("bucket")
                    )
                    for t in range(_LSH_TABLES)
                ]
            )
        ).alias("tb"),
    ).select("vec_id", "v", "tb.t", "tb.bucket")
    x = buckets.select(
        F.col("vec_id").alias("a"), F.col("v").alias("va"), "t", "bucket"
    )
    y = buckets.select(
        F.col("vec_id").alias("b"), F.col("v").alias("vb"), "t", "bucket"
    )
    pairs = (
        x.join(y, ["t", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "va", "vb")
        .distinct()
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda p, q: p * q), F.lit(0.0), lambda acc, p: acc + p
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, p: acc + p * p)
    )
    cos = dot / (norm(F.col("va")) * norm(F.col("vb")))
    return (
        pairs.withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") > 0.3)
        .select("a", "b", F.round("cos_raw", 4).alias("cos_sim"))
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < 200
        )
        SELECT a.vec_id AS a, b.vec_id AS b,
               round(list_cosine_similarity(a.v, b.v), 4) AS cos_sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) > 0.3
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine > 0.3) over a bounded id range.
    Threshold tuned to the synthetic embeddings: the 64-dim random
    vectors max out near cos 0.44, so 0.3 yields ~150 pairs at sf0.01
    (a 0.95 threshold was vacuously empty). The bounded range keeps the
    exact O(n^2) check cheap; the unbounded 100 TB variant is
    `dedup_fuzzy_minhash`-style LSH bucketing (see
    similarity.sim_search_ann_ivf for the bucketed pattern)."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    a = e.select(F.col("vec_id").alias("a"), F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("a") < F.col("b"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    cos = dot / (norm(F.col("va")) * norm(F.col("vb")))
    return (
        pairs.withColumn("cos_sim_raw", cos)
        .filter(F.col("cos_sim_raw") > 0.3)
        .select("a", "b", F.round("cos_sim_raw", 4).alias("cos_sim"))
    )


_EDITDIST_ORACLE = (
    _JACCARD_EDGES_SQL.format(max_df="100")
    + """
        SELECT a, b, lev, round(CAST(lev AS DOUBLE) / mx, 4) AS norm_dist
        FROM (
            SELECT a, b,
                   levenshtein(da.text, db.text) AS lev,
                   greatest(length(da.text), length(db.text)) AS mx
            FROM edges
            JOIN documents da ON da.doc_id = a
            JOIN documents db ON db.doc_id = b
        )
"""
)


@register("dedup_verify_editdist", oracle=_EDITDIST_ORACLE)
def dedup_verify_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate -> verify: exact Levenshtein distance over the jaccard
    candidate pairs — the expensive O(len^2)-per-pair check that only
    ever runs on the bounded candidate set a cheap stage produced,
    never on all pairs. This is the canonical two-stage dedup shape at
    100 TB: LSH/jaccard prunes trillions of pairs to millions, edit
    distance (or an embedding model) adjudicates the survivors."""
    edges = _jaccard_edges(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    ta = d.select(F.col("doc_id").alias("a"), F.col("text").alias("text_a"))
    tb = d.select(F.col("doc_id").alias("b"), F.col("text").alias("text_b"))
    lev = F.levenshtein("text_a", "text_b")
    mx = F.greatest(F.length("text_a"), F.length("text_b"))
    return (
        edges.join(ta, "a")
        .join(tb, "b")
        .select(
            "a",
            "b",
            lev.alias("lev"),
            F.round(lev.cast("double") / mx, 4).alias("norm_dist"),
        )
    )


_LSH_RERANK_ORACLE = f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        sig AS (
            SELECT vec_id, v,
                   {_bucket_sql(0)} AS b0,
                   {_bucket_sql(1)} AS b1
            FROM e
        ),
        cand AS (
            SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                   q.v AS qv, c.v AS cv
            FROM sig q JOIN sig c
              ON (q.b0 = c.b0 OR q.b1 = c.b1)
             AND q.vec_id < 5 AND c.vec_id >= 5
        ),
        scored AS (
            SELECT query_id, vec_id,
                   round(list_cosine_similarity(qv, cv), 4) AS cos_sim,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY list_cosine_similarity(qv, cv) DESC, vec_id
                   ) AS rank
            FROM cand
        )
        SELECT query_id, vec_id, rank, cos_sim FROM scored WHERE rank <= 3
"""


@register("sim_search_lsh_rerank", oracle=_LSH_RERANK_ORACLE)
def sim_search_lsh_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval — the production ANN serving shape: stage 1
    generates candidates ONLY from shared LSH buckets (either of 2
    hyperplane tables), stage 2 exact-cosine reranks and keeps top-3
    per query. Work is |candidates|, never |queries| x |corpus|; the
    rerank window is per-query (bounded). Same hyperplanes as
    dedup_embedding_lsh, so the oracle reproduces the buckets
    bit-for-bit."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    sig = e.select(
        "vec_id",
        "v",
        *[_bucket_expr(F.col("v"), t).alias(f"b{t}") for t in range(_LSH_TABLES)],
    )
    q = sig.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("b0").alias("qb0"),
        F.col("b1").alias("qb1"),
    )
    c = sig.filter(F.col("vec_id") >= 5)
    # one equi-join per hash table, then de-dup: OR-of-buckets would
    # degrade to a nested loop; the union of hash joins keeps stage 1
    # strictly bucket-keyed (broadcast: the query side is tiny)
    cand = (
        F.broadcast(q)
        .join(c, F.col("qb0") == F.col("b0"))
        .select("query_id", "vec_id", "qv", "v")
        .unionByName(
            F.broadcast(q)
            .join(c, F.col("qb1") == F.col("b1"))
            .select("query_id", "vec_id", "qv", "v")
        )
        .dropDuplicates(["query_id", "vec_id"])
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda p, r: p * r), F.lit(0.0), lambda a, p: a + p
    )
    nrm = lambda col: F.sqrt(  # noqa: E731
        F.aggregate(col, F.lit(0.0), lambda a, p: a + p * p)
    )
    scored = cand.withColumn(
        "cos_raw", dot / (nrm(F.col("qv")) * nrm(F.col("v")))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id", "vec_id", "rank", F.round("cos_raw", 4).alias("cos_sim")
        )
    )


_CHARGRAM_W = 20  # substring width (chars)
_CHARGRAM_STRIDE = 10  # stride bounds grams/doc to ~len/10
_CHARGRAM_TOPK = 15


@register(
    "dedup_char_ngram_repeats",
    oracle=f"""
        WITH grams AS (
            SELECT DISTINCT doc_id,
                   substr(text, CAST(i AS INTEGER), {_CHARGRAM_W}) AS g
            FROM documents,
                 LATERAL (SELECT unnest(range(1,
                     greatest(length(text) - {_CHARGRAM_W} + 2, 2),
                     {_CHARGRAM_STRIDE})) AS i)
        ), rep AS (
            SELECT g, count(*) AS n_docs
            FROM grams
            GROUP BY g HAVING count(*) >= 2
        )
        SELECT g, n_docs, CAST(rnk AS BIGINT) AS rnk
        FROM (SELECT g, n_docs,
                     row_number() OVER (ORDER BY n_docs DESC, g ASC) AS rnk
              FROM rep)
        WHERE rnk <= {_CHARGRAM_TOPK}
    """,
)
def dedup_char_ngram_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-substring detection at CHARACTER level (the signal
    behind suffix-array dedup, Lee et al. 2021 "Deduplicating Training
    Data Makes Language Models Better"): strided {_CHARGRAM_W}-char
    grams per doc, cross-document repeat counts, top-{_CHARGRAM_TOPK}
    most-shared substrings. The stride bounds work to ~len/stride
    grams per doc (a true suffix array is n grams — this is the
    scalable screen that feeds exact verification); the gram hash, not
    the text, is what shuffles. Complements the word-level shingle
    family: catches boilerplate that word tokenization splits
    differently."""
    d = load_table(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.length("text") - _CHARGRAM_W + 1, F.lit(1)),
        F.lit(_CHARGRAM_STRIDE),
    )
    # no _fanout: strided substring extraction is light (cold A/B tie;
    # the exchange buys nothing — BENCH_local.md methodology note)
    grams = (
        d.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        starts,
                        lambda i: F.substring(F.col("text"), i, _CHARGRAM_W),
                    )
                )
            ).alias("g"),
        )
        .distinct()
    )
    rep = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )
    w = Window.orderBy(F.col("n_docs").desc(), F.col("g").asc())
    return (
        rep.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _CHARGRAM_TOPK)
        .select("g", "n_docs", F.col("rnk").cast("bigint").alias("rnk"))
    )


_LSH_EVAL_THRESHOLD = 0.5

_EXACT_PAIRS_05_SQL = f"""
            WITH sh0 AS ({_SHINGLES_SQL}),
            shf AS (
                SELECT doc_id, shingle FROM sh0
                WHERE shingle IN (
                    SELECT shingle FROM sh0
                    GROUP BY shingle HAVING count(*) <= {MAX_SHINGLE_DF}
                )
            ),
            sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY doc_id),
            inter AS (
                SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_common
                FROM shf x JOIN shf y
                  ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                GROUP BY x.doc_id, y.doc_id
            )
            SELECT a, b FROM inter
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common)
                  >= {_LSH_EVAL_THRESHOLD}
"""


@register(
    "dedup_lsh_eval",
    oracle=f"""
        WITH truth AS ({_EXACT_PAIRS_05_SQL}),
        pred AS (
            SELECT a, b FROM ({_FUZZY_MINHASH_ORACLE})
            WHERE est_jaccard >= {_LSH_EVAL_THRESHOLD}
        ),
        m AS (
            SELECT coalesce(t.a, p.a) AS a,
                   t.a IS NOT NULL AS in_truth,
                   p.a IS NOT NULL AS in_pred
            FROM truth t FULL OUTER JOIN pred p
              ON t.a = p.a AND t.b = p.b
        )
        SELECT count(*) FILTER (WHERE in_truth AND in_pred) AS tp,
               count(*) FILTER (WHERE in_pred AND NOT in_truth) AS fp,
               count(*) FILTER (WHERE in_truth AND NOT in_pred) AS fn,
               round(CAST(count(*) FILTER (WHERE in_truth AND in_pred)
                          AS DOUBLE)
                     / nullif(count(*) FILTER (WHERE in_pred), 0), 4)
                   AS precision_,
               round(CAST(count(*) FILTER (WHERE in_truth AND in_pred)
                          AS DOUBLE)
                     / nullif(count(*) FILTER (WHERE in_truth), 0), 4)
                   AS recall_
        FROM m
    """,
)
def dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality self-evaluation: the banded-MinHash candidate set
    (est_jaccard >= 0.5) scored against exact shingle-set jaccard >=
    0.5 as ground truth — TP/FP/FN with precision/recall. The
    calibration every production near-dedup pipeline runs on a sample
    before trusting the bands at full scale (the oracle-checked
    sibling of sim_search_ann_recall). Both sides are deterministic
    md5-derived pipelines, so the confusion matrix itself is
    hash-checked across engines."""
    truth = _jaccard_edges_at(spark, sf_dir, _LSH_EVAL_THRESHOLD)
    pred = dedup_fuzzy_minhash(spark, sf_dir).filter(
        F.col("est_jaccard") >= _LSH_EVAL_THRESHOLD
    ).select("a", "b")
    m = truth.withColumn("in_truth", F.lit(True)).join(
        pred.withColumn("in_pred", F.lit(True)), ["a", "b"], "full_outer"
    )
    in_t = F.coalesce(F.col("in_truth"), F.lit(False))
    in_p = F.coalesce(F.col("in_pred"), F.lit(False))
    tp = F.sum((in_t & in_p).cast("long"))
    fp = F.sum((in_p & ~in_t).cast("long"))
    fn = F.sum((in_t & ~in_p).cast("long"))
    return m.agg(
        tp.alias("tp"),
        fp.alias("fp"),
        fn.alias("fn"),
        F.round(tp.cast("double") / F.nullif(tp + fp, F.lit(0)), 4).alias(
            "precision_"
        ),
        F.round(tp.cast("double") / F.nullif(tp + fn, F.lit(0)), 4).alias(
            "recall_"
        ),
    )


def _jaccard_edges_at(
    spark: SparkSession, sf_dir: str, threshold: float
) -> DataFrame:
    """_jaccard_edges generalized to an arbitrary jaccard threshold."""
    d = load_table(spark, sf_dir, "documents")
    sh0 = _shingles(d)
    keep = (
        sh0.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= MAX_SHINGLE_DF)
        .select("shingle")
    )
    sh = sh0.join(keep, "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    x = sh.select(F.col("doc_id").alias("a"), "shingle")
    y = sh.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        x.join(y, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("sz_b"))
    jac = F.col("n_common") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    )
    return (
        inter.join(sa, "a").join(sb, "b").filter(jac >= threshold)
        .select("a", "b")
    )


_SURVIVORS_ORACLE = "WITH RECURSIVE " + (
    _JACCARD_EDGES_SQL.format(max_df="100")
    + """
            , sym AS (
                SELECT a AS u, b AS v FROM edges
                UNION SELECT b, a FROM edges
            ),
            docs AS (SELECT DISTINCT doc_id FROM documents),
            cc AS (
                SELECT doc_id AS doc, doc_id AS label FROM docs
                UNION
                SELECT s.u AS doc, cc.label
                FROM cc JOIN sym s ON s.v = cc.doc
            ),
            labels AS (
                SELECT doc, CAST(min(label) AS BIGINT) AS cluster_id
                FROM cc GROUP BY doc
            ),
            ld AS (
                SELECT l.cluster_id, d.doc_id, d.n_chars
                FROM labels l JOIN documents d ON d.doc_id = l.doc
            ),
            stats AS (
                SELECT cluster_id, max(n_chars) AS mx, count(*) AS n_docs
                FROM ld GROUP BY cluster_id
            )
        SELECT s.cluster_id,
               CAST(min(ld.doc_id) AS BIGINT) AS survivor_doc,
               s.n_docs,
               CAST(s.mx AS BIGINT) AS survivor_chars
        FROM ld JOIN stats s
          ON ld.cluster_id = s.cluster_id AND ld.n_chars = s.mx
        GROUP BY s.cluster_id, s.n_docs, s.mx
"""
).split("WITH ", 1)[1]


@register("dedup_cluster_survivors", oracle=_SURVIVORS_ORACLE)
def dedup_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep policy that finishes the dedup pipeline: candidates
    (LSH) -> verified edges -> connected components (dedup_clusters)
    -> ONE survivor per cluster, chosen by (longest text, lowest
    doc_id tie) — the doc the corpus actually retains; everything
    else in the cluster is dropped. Selection is a single min_by over
    a compound (−n_chars, doc_id) key, so the policy is a
    deterministic aggregate, not a window sort. Singleton clusters
    survive as themselves, so sum(n_docs) == |documents| — the
    invariant that proves dedup never loses or duplicates a doc."""
    labels = dedup_clusters(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    joined = labels.join(d, labels.doc == d.doc_id)
    return joined.groupBy("cluster_id").agg(
        F.min_by(
            "doc_id",
            F.struct(
                (-F.col("n_chars")).alias("neg_len"),
                F.col("doc_id").alias("tie"),
            ),
        ).alias("survivor_doc"),
        F.count(F.lit(1)).alias("n_docs"),
        F.max("n_chars").cast("bigint").alias("survivor_chars"),
    )


# IVF probes for the SemDeDup coarse quantizer: vectors are assigned
# against the fine centroids of their NPROBE nearest coarse cells.
# 1 probe funnels border vectors onto edge centroids (sum c^2 +83% at
# sf10); 3 keeps cluster balance within 10% of flat assignment.
_SEM_NPROBE = 3

# Row-block size for the per-cluster GEMM: caps each task's score
# matrix at _SEM_GEMM_BLOCK x |cluster| (the 12.9k-row sf100 cluster
# peaks at ~100 MB instead of |c|^2 = 1.3 GB).
_SEM_GEMM_BLOCK = 1024


def _semantic_cluster_pairs(pdf, block=_SEM_GEMM_BLOCK):
    """applyInPandas kernel for dedup_semantic_clustered's pair stage:
    one CLUSTER's above-threshold (ka < kb) cosine pairs via blocked
    numpy GEMM over 1e6-unit integer-quantized normalized vectors
    (exact float64 dots — see the caller's quantization note).

    Block completeness invariant (unit-pinned in tests/test_plans.py):
    each row block [s0:e0) scores against ALL rows of the cluster
    (``m[s0:e0] @ m.T``), and the ``ids[i] < ids[j]`` mask keeps each
    unordered pair exactly once — from the block holding the
    smaller id — so pairs whose endpoints fall in different blocks
    are neither dropped nor double-counted. ``block`` is
    parameterized only so the test can force a multi-block cluster
    on a small fixture; production always uses _SEM_GEMM_BLOCK."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    m = np.stack(pdf["nv"].to_numpy())          # |c| x 64, int-valued
    ids = pdf["vec_id"].to_numpy()
    cid = int(pdf["cid"].iloc[0])
    out = []
    for s0 in range(0, len(ids), block):
        e0 = min(s0 + block, len(ids))
        # scores of rows [s0:e0) against ALL rows: exact integer
        # dots in float64 (see quantization note in the caller)
        g = m[s0:e0] @ m.T
        cs = np.floor(g / 100000000.0 + 0.5) / 10000.0
        bi, bj = np.nonzero(cs > 0.3)
        keep = ids[s0:e0][bi] < ids[bj]          # ka < kb only
        bi, bj = bi[keep], bj[keep]
        if len(bi):
            out.append(
                pd.DataFrame(
                    {
                        "ka": ids[s0:e0][bi],
                        "kb": ids[bj],
                        "cid": cid,
                        "cs_r4": cs[bi, bj],
                    }
                )
            )
    if not out:
        return pd.DataFrame(
            {"ka": pd.Series(dtype="int64"),
             "kb": pd.Series(dtype="int64"),
             "cid": pd.Series(dtype="int64"),
             "cs_r4": pd.Series(dtype="float64")}
        )
    return pd.concat(out, ignore_index=True)


@register(
    "dedup_semantic_clustered",
    oracle="""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        k AS (
            SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS kk
            FROM e
        ),
        ck AS (
            SELECT greatest(4, CAST(ceil(sqrt(kk)) AS BIGINT)) AS ckk
            FROM k
        ),
        c AS (SELECT vec_id AS cid, v AS cv FROM e
              WHERE vec_id < (SELECT kk FROM k)),
        g AS (SELECT vec_id AS gid, v AS gv FROM e
              WHERE vec_id < (SELECT ckk FROM ck)),
        cent_cell AS (
            -- fine centroid -> coarse cell (the IVF coarse quantizer:
            -- the first ceil(sqrt(K)) centroids). Same min(struct)
            -- argmin + gid tie-break as the Spark min_by.
            SELECT cid, gid, cv FROM (
                SELECT c.cid,
                       (min(struct_pack(
                            d2 := list_sum(list_transform(
                                      list_zip(c.cv, g.gv),
                                      p -> (p[1] - p[2]) * (p[1] - p[2]))),
                            gid := g.gid))).gid AS gid
                FROM c CROSS JOIN g
                GROUP BY c.cid
            ) JOIN c USING (cid)
        ),
        vec_cell AS (
            -- vector -> its 3 nearest coarse cells (nprobe=3 ==
            -- _SEM_NPROBE; same (d2, gid) rank tie-break as the
            -- Spark row_number window). One probe funnels border
            -- vectors onto edge centroids and skews the quadratic
            -- pair stage; three keeps cluster balance within 10% of
            -- flat assignment.
            SELECT vec_id, gid FROM (
                SELECT vec_id, gid,
                       row_number() OVER (
                           PARTITION BY vec_id ORDER BY d2, gid
                       ) AS rn
                FROM (
                    SELECT e.vec_id, g.gid,
                           list_sum(list_transform(
                               list_zip(e.v, g.gv),
                               p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
                    FROM e CROSS JOIN g
                )
            ) WHERE rn <= 3
        ),
        assigned AS (
            -- tie-break on the SAME quantity as Spark's min_by: the
            -- SQUARED distance, accumulated left-to-right (list_sum
            -- folds in list order) — list_distance's sqrt can collapse
            -- two distinct d2 values to an equal double and flip the
            -- cid tiebreak across engines. Candidates are ONLY the
            -- vector's coarse cell's fine centroids.
            SELECT vec_id, cid, v FROM (
                SELECT e.vec_id,
                       (min(struct_pack(
                            d2 := list_sum(list_transform(
                                      list_zip(e.v, cc.cv),
                                      p -> (p[1] - p[2]) * (p[1] - p[2]))),
                            cid := cc.cid))).cid AS cid
                FROM e
                JOIN vec_cell vc ON vc.vec_id = e.vec_id
                JOIN cent_cell cc ON cc.gid = vc.gid
                GROUP BY e.vec_id
            ) JOIN e USING (vec_id)
        ),
        normed AS (
            -- normalized vectors QUANTIZED to 1e6 integer units (the
            -- norm itself in the SAME op order as the Spark side):
            -- dots of quantized vectors are sums of integer products
            -- with partials < 2^53, EXACT in float64 in any order —
            -- so DuckDB's list_dot_product, the Spark plan's numpy
            -- GEMM, and any fold order all agree bit-for-bit, and
            -- the 4dp floor cannot split across engines
            SELECT vec_id, cid,
                   list_transform(
                       v, x -> floor(x / sqrt(list_sum(
                                    list_transform(v, y -> y * y)))
                                     * 1000000.0 + 0.5)) AS nv
            FROM assigned
        ),
        pairs AS (
            SELECT a.vec_id AS ka, b.vec_id AS kb, a.cid AS cid,
                   floor(list_dot_product(a.nv, b.nv) / 100000000.0
                         + 0.5) / 10000.0 AS cs_r4
            FROM normed a
            JOIN normed b ON a.cid = b.cid AND a.vec_id < b.vec_id
        )
        SELECT kb AS vec_id, CAST(cid AS BIGINT) AS cluster_id,
               ka AS keeper_id, cs_r4 AS cos_sim
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY kb ORDER BY cs_r4 DESC, ka
            ) AS rn FROM pairs WHERE cs_r4 > 0.3
        ) WHERE rn = 1
    """,
)
def dedup_semantic_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shape semantic dedup (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication"): assign every embedding to its nearest centroid
    (deterministic init: the first K vec_ids, the same coarse
    quantizer seed as the IVF index), then run the pairwise cosine
    check ONLY within each cluster — the clustering bounds the
    quadratic stage to sum(|cluster|^2) instead of n^2, which is the
    whole trick at 100 TB. K = max(8, ceil(sqrt(n))): sqrt scaling
    keeps clusters bounded as the corpus grows — the sf10 sweep caught
    the previous fixed K=8 grinding for over an hour (25k-vector
    clusters -> ~2.5B interpreted-HOF cosine pairs).

    Assignment is TWO-STAGE (IVF-style coarse quantizer, r7 VERDICT
    item 4): the first ceil(sqrt(K)) centroids form a coarse layer;
    each fine centroid argmins over that layer (K*sqrt(K) evals) and
    each vector ranks its _SEM_NPROBE=3 nearest coarse cells
    (n*sqrt(K) evals, narrow 3-column rank window), then argmins over
    only those cells' fine centroids (~3*sqrt(K) candidates) —
    ~4n*sqrt(K) = O(n^1.25) total instead of the flat n*K =
    O(n^1.5), leaving the within-cluster pair stage (n^1.5 by
    construction, the SemDeDup contract) as the asymptotic cost.
    nprobe is the balance knob, MEASURED at sf10: 1 probe funnels
    boundary vectors onto their cell's edge centroids and inflates
    the quadratic stage's sum(|cluster|^2) 1.83x (max cluster 3145
    vs 1048 flat) — costlier than the assignment it saves; 3 probes
    hold sum c^2 within 10% of flat (1.105e8 vs 1.009e8). The prune
    is exact WITHIN its contract (the oracle runs the identical
    two-stage argmin with the same d2/id tie-breaks); like any IVF it
    is an approximation OF flat k-means assignment — acceptable here
    because SemDeDup's own clustering step is approximate k-means and
    the dedup semantics key off cosine thresholds downstream, not off
    which near-equidistant centroid wins.

    Greedy keep-lowest-id policy: each
    above-threshold vector reports its strongest smaller-id partner as
    keeper. Threshold 0.3 matches the synthetic corpus's cosine range
    (dedup_embedding_cosine ibid.).

    Scale: centroids broadcast (K x dim), assignment is a narrow pass,
    and the pair stage shuffles ONCE on cluster_id into a per-cluster
    blocked numpy GEMM (applyInPandas) — no all-pairs stage anywhere,
    and no second pass over the assignment subtree (the old self-join
    consumed it twice). Vectors are L2-normalized ONCE and quantized
    to 1e6 integer units before the GEMM: integer-valued float64 dots
    are exact under ANY summation order, so BLAS blocking, the SQL
    fold, and DuckDB's list_dot_product agree bit-for-bit and the 4dp
    floor-before-rank cannot split across engines. Measured at sf100
    (2M vectors, 5.9e9 within-cluster pairs): the interpreted-HOF
    self-join form took 4445 s — Catalyst evaluates higher-order
    lambdas OUTSIDE whole-stage codegen — vs seconds of BLAS for the
    same 3.8e11 FLOP; the GEMM form's wall is recorded in
    BENCH_local.md. Row-blocking (1024) caps each task's score matrix
    at block x |cluster|, so the skewed 12.9k-row sf100 cluster peaks
    at ~100 MB instead of |c|^2 = 1.3 GB.

    K is derived LAZILY as a broadcast scalar aggregate (mirroring the
    oracle's scalar subquery) rather than an eager ``e.count()`` at
    DataFrame-construction time — plan-only consumers (plan audits,
    pin tests) must not trigger a real scan, and a literal K baked at
    build time goes stale if the frame is rebuilt against a different
    snapshot.

    The embedding scan is REPARTITIONED to the session's core count
    before the centroid joins: the assignment stages are ~2n*sqrt(K)
    higher-order distance evals that otherwise run at
    the parquet SPLIT parallelism — a 150 MB embeddings file is 1-2
    splits, so the heaviest stage of the whole query ground on 1-2
    cores (the r7 sf30 probe measured the un-repartitioned form at
    >50 min; cluster sizes were BALANCED — max 2.3x mean — so the fix
    is scan parallelism, not skew salting). One narrow n-row shuffle
    buys a 32x-parallel assignment; on a real cluster the same knob is
    executor cores."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    e = e.repartition(spark.sparkContext.defaultParallelism, "vec_id")
    kdf = e.agg(
        F.greatest(
            F.lit(8).cast("long"), F.ceil(F.sqrt(F.count(F.lit(1))))
        ).alias("kk")
    ).withColumn(
        "ckk",
        F.greatest(F.lit(4).cast("long"), F.ceil(F.sqrt(F.col("kk")))),
    )
    cent = (
        e.crossJoin(F.broadcast(kdf))
        .filter(F.col("vec_id") < F.col("kk"))
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"), "ckk")
    )
    # coarse quantizer: the first ceil(sqrt(K)) centroids, IVF-style
    coarse = cent.filter(F.col("cid") < F.col("ckk")).select(
        F.col("cid").alias("gid"), F.col("cv").alias("gv")
    )
    d2 = F.aggregate(
        F.zip_with("v", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    d2g = F.aggregate(
        F.zip_with("v", "gv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    d2cg = F.aggregate(
        F.zip_with("cv", "gv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # fine centroid -> coarse cell (K x sqrt(K) tiny argmin)
    cent_cell = (
        cent.select("cid", "cv")
        .crossJoin(F.broadcast(coarse))
        .select("cid", "gid", d2cg.alias("d2"))
        .groupBy("cid")
        .agg(F.min_by("gid", F.struct("d2", "gid")).alias("gid"))
        .join(cent.select("cid", "cv"), "cid")
        .select("cid", "gid", "cv")
    )
    # vector -> top-NPROBE coarse cells (n x sqrt(K) narrow pass; the
    # rank window runs on 3-column rows partitioned by vec_id). A
    # single probe funnels border vectors onto their cell's edge
    # centroids — measured at sf10: sum(|cluster|^2) ballooned 1.83x
    # (max cluster 3145 vs 1048 flat), more than repaying the
    # assignment savings in the quadratic pair stage. nprobe=3 keeps
    # sum c^2 within 10% of flat (1.105e8 vs 1.009e8) for ~4 sqrt(K)
    # evals/vector.
    wprobe = Window.partitionBy("vec_id").orderBy("d2", "gid")
    vec_cell = (
        e.crossJoin(F.broadcast(coarse))
        .select("vec_id", "gid", d2g.alias("d2"))
        .withColumn("rn", F.row_number().over(wprobe))
        .filter(F.col("rn") <= _SEM_NPROBE)
        .select("vec_id", "gid")
    )
    # arg-min AGGREGATION on narrow (vec_id, cid, d2) rows, vector
    # joined back afterward: the previous row_number window carried the
    # 64-double array through an n*K-row shuffle (~50 GB at sf10; the
    # DuckDB twin OOM-killed at 90 GB). min_by partial-aggregates
    # map-side, so the shuffle is n rows of (vec_id, cid). The
    # candidate set per vector is ONLY its probed cells' fine
    # centroids (avg NPROBE*sqrt(K)), not all K.
    assigned = (
        e.join(vec_cell, "vec_id")
        .join(F.broadcast(cent_cell), "gid")
        .select("vec_id", "cid", d2.alias("d2"))
        .groupBy("vec_id")
        .agg(F.min_by("cid", F.struct("d2", "cid")).alias("cid"))
        .join(e, "vec_id")
        .select("vec_id", "cid", "v")
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    # normalized vectors QUANTIZED to 1e6 integer units (stored as
    # double): any dot of two quantized vectors is a sum of integer
    # products <= 1e12 with partial sums <= 6.4e13 < 2^53, so float64
    # addition of them is EXACT in any order — numpy GEMM, the Spark
    # HOF fold, and DuckDB list_dot_product all produce the same
    # bit-identical integer. That is what licenses the vectorized
    # pair stage below without giving up the engine-vs-oracle
    # bit-equality contract.
    normed = assigned.withColumn("l2", nrm(F.col("v"))).select(
        "vec_id",
        "cid",
        F.transform(
            "v",
            lambda x: F.floor(x / F.col("l2") * 1000000.0 + 0.5).cast(
                "double"
            ),
        ).alias("nv"),
    )

    # Pair stage: per-cluster blocked numpy GEMM via applyInPandas
    # (_semantic_cluster_pairs, module level so the cross-block pair
    # completeness is unit-testable — tests/test_plans.py pins it on
    # a >1-block synthetic cluster per the r8 VERDICT item 4 order).
    # The previous HOF self-join evaluated sum(|cluster|^2) 64-dim
    # dots through Catalyst's INTERPRETED higher-order lambdas (HOFs
    # never enter whole-stage codegen) — measured 4445 s at sf100
    # (5.9e9 pairs). BLAS does the same 3.8e11 FLOP in seconds, and
    # the integer quantization above makes the results bit-identical
    # to the SQL form. One shuffle on cid (each task sees exactly one
    # cluster); row-blocking caps the score-matrix at BLOCK x |c|
    # so the largest observed cluster (12.9k rows at sf100) peaks at
    # ~100 MB per task instead of |c|^2.
    # 1-arg wrapper: applyInPandas dispatches on parameter COUNT, and
    # _semantic_cluster_pairs's test-only `block` kwarg would make it
    # look like the (key, pdf) signature.
    pairs = normed.groupBy("cid").applyInPandas(
        lambda pdf: _semantic_cluster_pairs(pdf),
        "ka long, kb long, cid long, cs_r4 double",
    )
    # round-before-rank convention unchanged: cs_r4 is the exact
    # 4dp-floor of the quantized dot, so threshold and keeper-rank
    # comparisons are on identical values in both engines
    w = Window.partitionBy("kb").orderBy(F.col("cs_r4").desc(), "ka")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("kb").alias("vec_id"),
            F.col("cid").cast("bigint").alias("cluster_id"),
            F.col("ka").alias("keeper_id"),
            F.col("cs_r4").alias("cos_sim"),
        )
    )


@register(
    "dedup_prefix_boilerplate",
    oracle="""
        WITH pre AS (
            SELECT doc_id,
                   array_to_string(
                       (string_split_regex(lower(text), '\\s+'))[1:3],
                       ' ') AS prefix
            FROM documents
        )
        SELECT prefix,
               count(*) AS n_docs,
               min(doc_id) AS canonical_doc_id,
               max(doc_id) AS last_doc_id
        FROM pre
        GROUP BY prefix
        HAVING count(*) > 1
        ORDER BY n_docs DESC, prefix
    """,
)
def dedup_prefix_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-prefix (boilerplate) detection: group documents by their
    leading token k-prefix — the cheap first pass crawl pipelines run
    to catch template/mirror pages whose bodies diverge after a common
    header. One map-side-combinable groupBy on a computed key; no
    candidate join at all, so it scales like exact dedup rather than
    MinHash. k=3 here because the synthetic corpus draws from a ~30
    word vocabulary (longer prefixes are all-unique at this SF); a real
    crawl uses k~50 tokens and the plan is unchanged. Survivor policy
    matches dedup_exact: min doc_id is canonical."""
    d = load_table(spark, sf_dir, "documents")
    prefix = F.concat_ws(
        " ", F.slice(F.split(F.lower("text"), r"\s+"), 1, 3)
    ).alias("prefix")
    return (
        d.select("doc_id", prefix)
        .groupBy("prefix")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy(F.desc("n_docs"), "prefix")
    )


_WIN_K, _WIN_W = 8, 4


@register(
    "dedup_winnowing_fingerprints",
    oracle=f"""
        WITH grams AS (
            SELECT doc_id, i AS pos,
                   CAST(concat('0x', substr(md5(substr(lower(text),
                        CAST(i AS INTEGER), {_WIN_K})), 1, 8)) AS BIGINT) AS h
            FROM documents,
                 LATERAL (SELECT unnest(range(1,
                     greatest(length(text) - {_WIN_K} + 2, 2))) AS i)
        ),
        winmin AS (
            SELECT doc_id, pos,
                   min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW
                                AND {_WIN_W - 1} FOLLOWING) AS wmin,
                   count(*) OVER (PARTITION BY doc_id) AS n_grams
            FROM grams
        ),
        fps AS (
            SELECT doc_id, n_grams, wmin
            FROM winmin
            WHERE pos <= n_grams - {_WIN_W} + 1
            GROUP BY doc_id, n_grams, wmin
        )
        SELECT doc_id,
               CAST(max(n_grams) AS BIGINT) AS n_grams,
               count(*) AS n_fingerprints,
               round(count(*) / CAST(max(n_grams) AS DOUBLE), 6) AS density
        FROM fps
        GROUP BY doc_id
        ORDER BY doc_id
    """,
)
def dedup_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm): hash every
    char {_WIN_K}-gram, slide a window of {_WIN_W} consecutive hashes,
    and keep each window's minimum — guaranteeing any shared substring
    of length >= k + w - 1 contributes a shared fingerprint, at ~2/(w+1)
    the density of full k-gram hashing. The per-doc fingerprint count
    and density are the audit output; the fingerprint set itself is the
    join key for plagiarism/near-dup detection at a fraction of
    MinHash's compute. Shape: one posexplode (narrow), a per-doc
    position-ordered min window (bounded frame, one doc_id shuffle),
    then distinct-per-doc — the hash is the portable md5 bucket, so
    both engines select identical minima with no float involved."""
    d = _fanout(load_table(spark, sf_dir, "documents"))
    grams = (
        d.select(
            "doc_id",
            F.lower("text").alias("lt"),
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(
                        F.length("text") - (_WIN_K - 1), F.lit(1)
                    ),
                )
            ).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            _portable_hash(F.expr(f"substr(lt, pos, {_WIN_K})")).alias("h"),
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, _WIN_W - 1)
    )
    cnt_w = Window.partitionBy("doc_id")
    winmin = grams.select(
        "doc_id",
        "pos",
        F.min("h").over(w).alias("wmin"),
        F.count(F.lit(1)).over(cnt_w).alias("n_grams"),
    )
    fps = (
        winmin.filter(F.col("pos") <= F.col("n_grams") - (_WIN_W - 1))
        .select("doc_id", "n_grams", "wmin")
        .distinct()
    )
    return (
        fps.groupBy("doc_id")
        .agg(
            F.max("n_grams").cast("bigint").alias("n_grams"),
            F.count(F.lit(1)).alias("n_fingerprints"),
            F.round(
                F.count(F.lit(1)) / F.max("n_grams").cast("double"), 6
            ).alias("density"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_shingle_containment",
    oracle=f"""
        WITH sh0 AS ({_SHINGLES_SQL}),
        sh AS (
            SELECT doc_id, shingle FROM sh0
            WHERE shingle IN (
                SELECT shingle FROM sh0
                GROUP BY shingle HAVING count(*) <= {MAX_SHINGLE_DF}
            )
        ),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
            SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_common
            FROM sh x JOIN sh y
              ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
            GROUP BY x.doc_id, y.doc_id
        )
        SELECT a AS contained_doc, b AS container_doc,
               CAST(n_common AS BIGINT) AS n_common,
               round(CAST(n_common AS DOUBLE) / sa.sz, 4) AS containment,
               round(CAST(n_common AS DOUBLE)
                     / (sa.sz + sb.sz - n_common), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = a
        JOIN sizes sb ON sb.doc_id = b
        WHERE CAST(n_common AS DOUBLE) / sa.sz >= 0.2
          AND CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) < 0.2
        ORDER BY containment DESC, contained_doc, container_doc
    """,
)
def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment dedup: |A∩B| / |A| >= 0.2 while symmetric
    jaccard stays BELOW dedup_ngram_jaccard's 0.2 cut — the pairs where one document is partly
    CONTAINED in another (quoted, wrapped, or excerpted copy) that
    jaccard-threshold dedup structurally misses whenever the container
    is much longer. This is the Broder containment measure; production
    LSH for it hashes only the smaller side's shingles, and the exact
    form here shares dedup_ngram_jaccard's stop-shingle-filtered
    shared-shingle join (same hot-key cliff protection), emitting the
    ordered (contained, container) direction rather than an unordered
    pair."""
    d = load_table(spark, sf_dir, "documents")
    sh0 = _shingles(d)
    keep = (
        sh0.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= MAX_SHINGLE_DF)
        .select("shingle")
    )
    sh = sh0.join(keep, "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    x = sh.select(F.col("doc_id").alias("a"), "shingle")
    y = sh.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        x.join(y, "shingle")
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("szb"))
    containment = F.col("n_common") / F.col("sza")
    jac = F.col("n_common") / (F.col("sza") + F.col("szb") - F.col("n_common"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .filter((containment >= 0.2) & (jac < 0.2))
        .select(
            F.col("a").alias("contained_doc"),
            F.col("b").alias("container_doc"),
            F.col("n_common").cast("bigint").alias("n_common"),
            F.round(containment, 4).alias("containment"),
            F.round(jac, 4).alias("jaccard"),
        )
        .orderBy(F.desc("containment"), "contained_doc", "container_doc")
    )


# ---------------------------------------------------------------------------
# dedup_minhash_index_merge — cross-snapshot band-index maintenance

_IDX_ENTRIES_SQL = f"""
            {" UNION ALL ".join(
                f"SELECT doc_id, {b} AS band, concat_ws('|', "
                + ", ".join(
                    f"CAST(mh{b * BAND_ROWS + r} AS VARCHAR)"
                    for r in range(BAND_ROWS)
                )
                + ") AS bucket FROM sigs"
                for b in range(N_HASHES // BAND_ROWS)
            )}
"""


@register(
    "dedup_minhash_index_merge",
    oracle=f"""
        WITH sigs AS ({_MINHASH_ORACLE}),
        entries AS ({_IDX_ENTRIES_SQL}),
        merged AS (
            SELECT band, bucket,
                   sum(CASE WHEN doc_id < 400 THEN 1 ELSE 0 END) AS cd,
                   sum(CASE WHEN doc_id >= 400 THEN 1 ELSE 0 END) AS bd
            FROM entries GROUP BY band, bucket
        )
        SELECT CAST(band AS BIGINT) AS band,
               CAST(sum(CASE WHEN cd > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS buckets_before,
               CAST(sum(CASE WHEN cd = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS new_buckets,
               CAST(sum(CASE WHEN cd > 0 AND bd > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS collision_buckets,
               CAST(count(*) AS BIGINT) AS buckets_after,
               CAST(max(cd + bd) AS BIGINT) AS max_depth_after,
               CAST(sum(bd) AS BIGINT) AS batch_entries
        FROM merged GROUP BY band ORDER BY band
    """,
)
def dedup_minhash_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly-dedup index maintenance: merge a new ingest batch
    (doc_id >= 400) into the persisted MinHash band index (doc_id <
    400) and report, per band, how the index changed — buckets before,
    brand-new buckets, collision buckets (a new doc landed in an
    existing bucket = a near-dup candidate that must be adjudicated
    before admission), bucket count after, and the deepest post-merge
    bucket (the skew indicator that decides when a bucket needs the
    stop-shingle cap).

    Scale shape: production keeps the band index as a table BUCKETED on
    (band, bucket) — this merge is then a co-partitioned groupBy where
    ONLY the new batch shuffles (|batch| x n_bands rows); the corpus
    index is never rescanned, and the per-band stats come from the same
    single aggregation pass that writes the updated index. The
    max_depth_after output is what a production job alerts on: a hot
    bucket (stop-shingle, boilerplate) grows superlinearly and must be
    capped before the candidate join fans out quadratically."""
    sigs = _minhash_signatures(spark, sf_dir)
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
    entries = sigs.select("doc_id", F.explode(bands).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    is_corpus = F.col("doc_id") < 400
    merged = entries.groupBy("band", "bucket").agg(
        F.sum(F.when(is_corpus, 1).otherwise(0)).alias("cd"),
        F.sum(F.when(~is_corpus, 1).otherwise(0)).alias("bd"),
    )
    return (
        merged.groupBy(F.col("band").cast("bigint").alias("band"))
        .agg(
            F.sum(F.when(F.col("cd") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("buckets_before"),
            F.sum(F.when(F.col("cd") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("new_buckets"),
            F.sum(
                F.when((F.col("cd") > 0) & (F.col("bd") > 0), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("collision_buckets"),
            F.count(F.lit(1)).cast("bigint").alias("buckets_after"),
            F.max(F.col("cd") + F.col("bd")).cast("bigint").alias(
                "max_depth_after"
            ),
            F.sum("bd").cast("bigint").alias("batch_entries"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# dedup_paragraph_exact — Dolma-style span-level exact dedup

_SPAN_TOKS = 10  # non-overlapping span width (the "paragraph" unit)


@register(
    "dedup_paragraph_exact",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\\s+'),
                               x -> x <> '') AS t
            FROM documents
        ),
        spans AS (
            SELECT doc_id, len(t) AS n_tok,
                   array_to_string(
                       t[CAST(s * {_SPAN_TOKS} + 1 AS INTEGER):
                         CAST(s * {_SPAN_TOKS} + {_SPAN_TOKS} AS INTEGER)],
                       ' ') AS span_text,
                   len(t[CAST(s * {_SPAN_TOKS} + 1 AS INTEGER):
                         CAST(s * {_SPAN_TOKS} + {_SPAN_TOKS} AS INTEGER)])
                       AS span_len
            FROM (
                SELECT doc_id, t,
                       unnest(range(0, CAST(ceil(len(t) / {_SPAN_TOKS}.0)
                                             AS BIGINT))) AS s
                FROM toks WHERE len(t) > 0
            )
        ),
        freq AS (
            SELECT span_text, count(DISTINCT doc_id) AS ndocs
            FROM spans GROUP BY span_text
        )
        SELECT s.doc_id,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(CASE WHEN f.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_spans,
               floor(CAST(sum(CASE WHEN f.ndocs >= 2 THEN s.span_len
                                   ELSE 0 END) AS DOUBLE)
                     / max(s.n_tok) * 10000.0 + 0.5) / 10000.0
                   AS dup_token_frac,
               (floor(CAST(sum(CASE WHEN f.ndocs >= 2 THEN s.span_len
                                    ELSE 0 END) AS DOUBLE)
                      / max(s.n_tok) * 10000.0 + 0.5) / 10000.0) <= 0.3
                   AS keep
        FROM spans s JOIN freq f ON f.span_text = s.span_text
        GROUP BY s.doc_id
        ORDER BY s.doc_id
    """,
)
def dedup_paragraph_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup, the Dolma/CCNet sub-document pass:
    documents are cut into non-overlapping {_SPAN_TOKS}-token spans
    (the synthetic corpus has no newlines, so a fixed token span stands
    in for the paragraph boundary — the plumbing is identical), each
    span is counted across the corpus, and a doc is scored by the
    fraction of its tokens living in spans that appear in >= 2 distinct
    documents. Docs above 30% duplicated mass are flagged for removal
    while UNIQUE content in partially-copied docs survives — the whole
    point of sub-document dedup vs whole-doc hashing.

    Scale shape: explode to spans (fact-sized), one map-side-combinable
    count per distinct span text (at 100 TB: hash the span to 128 bits
    first so only digests shuffle — same trick as dedup_exact), one
    hash-join back on span text, one per-doc reduce. No pairwise
    comparisons anywhere; skew-safe because span frequency is counted,
    not enumerated per pair."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
    )
    n_spans = F.ceil(F.size("t") / float(_SPAN_TOKS)).cast("int")
    spans = (
        _fanout(d)
        .select("doc_id", toks.alias("t"))
        .filter(F.size("t") > 0)
        .select(
            "doc_id",
            F.size("t").alias("n_tok"),
            F.explode(F.sequence(F.lit(0), n_spans - 1)).alias("s"),
            F.col("t"),
        )
        .select(
            "doc_id",
            "n_tok",
            F.array_join(
                F.slice("t", F.col("s") * _SPAN_TOKS + 1, _SPAN_TOKS), " "
            ).alias("span_text"),
            F.size(
                F.slice("t", F.col("s") * _SPAN_TOKS + 1, _SPAN_TOKS)
            ).alias("span_len"),
        )
    )
    freq = spans.groupBy("span_text").agg(
        F.countDistinct("doc_id").alias("ndocs")
    )
    dup_mass = F.sum(
        F.when(F.col("ndocs") >= 2, F.col("span_len")).otherwise(0)
    ).cast("double")
    frac = F.floor(dup_mass / F.max("n_tok") * 10000.0 + 0.5) / 10000.0
    return (
        spans.join(freq, "span_text")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_spans"),
            frac.alias("dup_token_frac"),
            (frac <= 0.3).alias("keep"),
        )
        .orderBy("doc_id")
    )


_PF_T = 0.5  # jaccard threshold for the prefix-filter join

_PF_SQL = f"""
        WITH sh0 AS ({_SHINGLES_SQL}),
        df AS (
            SELECT shingle, count(*) AS df FROM sh0
            GROUP BY shingle HAVING count(*) <= {MAX_SHINGLE_DF}
        ),
        sh AS (
            SELECT s.doc_id, s.shingle, d.df
            FROM sh0 s JOIN df d ON s.shingle = d.shingle
        ),
        sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        ranked AS (
            SELECT s.doc_id, s.shingle, z.n,
                   row_number() OVER (
                       PARTITION BY s.doc_id ORDER BY s.df, s.shingle
                   ) AS r
            FROM sh s
            JOIN sz z ON s.doc_id = z.doc_id
        ),
        prefix AS (
            SELECT doc_id, shingle, n FROM ranked
            WHERE r <= n - CAST(ceil(n * {_PF_T}) AS BIGINT) + 1
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
                   a.n AS na, b.n AS nb
            FROM prefix a
            JOIN prefix b ON a.shingle = b.shingle
                         AND a.doc_id < b.doc_id
            WHERE CAST(least(a.n, b.n) AS DOUBLE) / greatest(a.n, b.n)
                  >= {_PF_T}
        ),
        ver AS (
            SELECT c.da, c.db, c.na, c.nb, count(*) AS inter
            FROM cand c
            JOIN sh x ON x.doc_id = c.da
            JOIN sh y ON y.doc_id = c.db AND x.shingle = y.shingle
            GROUP BY c.da, c.db, c.na, c.nb
        )
        SELECT da, db, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
               CAST(inter AS BIGINT) AS n_common,
               CAST(floor(CAST(inter AS DOUBLE) / (na + nb - inter)
                          * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS jaccard
        FROM ver
        WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= {_PF_T}
        ORDER BY da, db
"""


@register("dedup_prefix_filter_allpairs", oracle=_PF_SQL)
def dedup_prefix_filter_allpairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT jaccard similarity self-join via AllPairs/PPJoin prefix
    filtering (Bayardo et al. WWW'07; Xiao et al. ICDE'08) — the third
    candidate-generation strategy in the dedup suite, alongside
    MinHash-LSH (probabilistic, dedup_fuzzy_minhash) and the
    stop-shingle shared-token join (dedup_ngram_jaccard). Shingles are
    globally ordered by ascending document frequency (rarest first,
    ties on the shingle text); each doc indexes only its first
    n - ceil(t*n) + 1 prefix shingles — two sets with jaccard >= t
    MUST collide inside their prefixes (pigeonhole on the
    (1-t)-fraction a match may miss), so recall is exactly 100% with
    no verification of non-colliding pairs — over the stop-filtered
    shingle sets: shingles with document frequency > MAX_SHINGLE_DF
    are dropped on both sides BEFORE ranking (the dedup_ngram_jaccard
    stop-shingle semantics). The cap is load-bearing at scale, not
    cosmetic: the sf1 scale screen measured the uncapped form at
    9.4 s -> 326 s for 10x docs (this synthetic corpus holds the
    shingle vocabulary FIXED as it grows, so every posting list
    lengthens linearly and prefix-join candidates grow
    quadratically); with the cap, posting lists are bounded by
    construction and the join is linear in corpus size. A length
    filter (min/max >= t) additionally prunes candidates the size
    bound alone refutes.

    Determinism: candidate generation is set-based (DISTINCT pairs),
    verification counts are integers, jaccard rounds at 6 dp, output
    orders on the pair.

    Scale shape: the prefix index is a fraction (1-t) of the
    stop-filtered shingle table, posting lists are <= MAX_SHINGLE_DF
    by construction, and verification touches only surviving
    candidates. This is the exact complement to LSH at scale: same
    bucket-join shape, zero false negatives, tunable by t and the df
    cap."""
    d = load_table(spark, sf_dir, "documents")
    sh0 = _shingles(d)
    dfreq = (
        sh0.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= MAX_SHINGLE_DF)
    )
    sh = sh0.join(dfreq, "shingle")
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ranked = (
        sh.join(sz, "doc_id")
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "shingle")
            ),
        )
    )
    prefix = ranked.filter(
        F.col("r")
        <= F.col("n") - F.ceil(F.col("n") * _PF_T).cast("bigint") + 1
    ).select("doc_id", "shingle", "n")
    a = prefix.select(
        F.col("doc_id").alias("da"),
        "shingle",
        F.col("n").alias("na"),
    )
    b = prefix.select(
        F.col("doc_id").alias("db"),
        "shingle",
        F.col("n").alias("nb"),
    )
    cand = (
        a.join(b, "shingle")
        .filter(F.col("da") < F.col("db"))
        .filter(
            F.least("na", "nb").cast("double") / F.greatest("na", "nb")
            >= _PF_T
        )
        .select("da", "db", "na", "nb")
        .distinct()
    )
    x = sh.select(F.col("doc_id").alias("da"), "shingle")
    y = sh.select(F.col("doc_id").alias("db"), "shingle")
    ver = (
        cand.join(x, "da")
        .join(y, ["db", "shingle"])
        .groupBy("da", "db", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    )
    return (
        ver.filter(jac >= _PF_T)
        .select(
            "da",
            "db",
            F.col("na").cast("bigint").alias("na"),
            F.col("nb").cast("bigint").alias("nb"),
            F.col("inter").cast("bigint").alias("n_common"),
            (
                F.floor(jac * 1000000.0 + 0.5).cast("double") / 1000000.0
            ).alias("jaccard"),
        )
        .orderBy("da", "db")
    )
