"""Generate a local sf1 scale point from the driver's sf0.1 tables.

The driver only ships sf{0.001,0.01,0.1}; the 100x-scale narrative
needs at least one measured decade above the bench gate (VERDICT r4
item 3). This tool builds sf1 as 10 key-shifted replicas of sf0.1 —
every foreign key is shifted by the same replica offset as its parent
table, so join fan-outs, group cardinalities, and selectivities scale
exactly linearly (the property a slope table needs; a synthetic regen
with a different RNG stream would confound slope with distribution
drift).

Text and embeddings are deterministically perturbed per replica
(frequent-token rewrite / single-component nudge) so near-dup and ANN
structure stays ~linear instead of every row gaining 9 exact clones,
which would quadratically inflate LSH bucket pairs BY CONSTRUCTION OF
THE DATA and make the algorithmic slope unreadable.

Fixed-size dimensions (region, nation) are copied unscaled, as in
TPC-H. Output: .localdata/sf1/*.parquet in this checkout (gitignored).

Usage: python tools/make_sf1.py [n_replicas]
n_replicas defaults to 10 (sf1). Pass 30 for an sf3 point (second
measured decade-ish step above the bench gate); the output dir is
derived from the replica count (.localdata/sf1, .localdata/sf3, ...).
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from parquet_playground_spark.tables import TABLES  # noqa: E402


def main() -> None:
    n_rep = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    global DST
    # label = replicas/10 of the sf0.1 source, exact (%g drops a
    # trailing .0): 10 -> sf1, 30 -> sf3, 100 -> sf10, 12 -> sf1.2 —
    # a non-decade count gets its own dir instead of clobbering sf1
    DST = os.path.join(ROOT, ".localdata", f"sf{n_rep / 10:g}")
    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    # Row order inside a fixture file is semantically irrelevant (both
    # engines read the SAME file), and order-preserving COPY serializes
    # the parquet encode to ~1.5 cores — at 1000 replicas that is a
    # multi-hour build. Dropping preservation lets DuckDB encode row
    # groups in parallel (measured: sf30 lineitem 30 min -> ~3 min).
    con.execute("SET preserve_insertion_order=false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SRC}/{t}.parquet'")
    # replica offsets = max key + 1 per keyed table, from the source
    mx = {
        "ck": con.sql("SELECT max(c_custkey) + 1 FROM customer").fetchone()[0],
        "sk": con.sql("SELECT max(s_suppkey) + 1 FROM supplier").fetchone()[0],
        "pk": con.sql("SELECT max(p_partkey) + 1 FROM part").fetchone()[0],
        "ok": con.sql("SELECT max(o_orderkey) + 1 FROM orders").fetchone()[0],
        "ev": con.sql("SELECT max(event_id) + 1 FROM events").fetchone()[0],
        "us": con.sql("SELECT max(user_id) + 1 FROM events").fetchone()[0],
        "dc": con.sql("SELECT max(doc_id) + 1 FROM documents").fetchone()[0],
        "vc": con.sql("SELECT max(vec_id) + 1 FROM embeddings").fetchone()[0],
    }
    rep = f"range(0, {n_rep}) r(i)"
    jobs = {
        # fixed dimensions: unscaled
        "region": "SELECT * FROM region",
        "nation": "SELECT * FROM nation",
        "customer": f"""
            SELECT c_custkey + i * {mx['ck']} AS c_custkey, c_name,
                   c_nationkey, c_acctbal, c_mktsegment
            FROM customer, {rep}""",
        "supplier": f"""
            SELECT s_suppkey + i * {mx['sk']} AS s_suppkey, s_name,
                   s_nationkey, s_acctbal
            FROM supplier, {rep}""",
        "part": f"""
            SELECT p_partkey + i * {mx['pk']} AS p_partkey, p_name, p_brand,
                   p_type, p_size, p_retailprice
            FROM part, {rep}""",
        "orders": f"""
            SELECT o_orderkey + i * {mx['ok']} AS o_orderkey,
                   o_custkey + i * {mx['ck']} AS o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM orders, {rep}""",
        "lineitem": f"""
            SELECT l_orderkey + i * {mx['ok']} AS l_orderkey,
                   l_partkey + i * {mx['pk']} AS l_partkey,
                   l_suppkey + i * {mx['sk']} AS l_suppkey,
                   l_linenumber, l_quantity, l_extendedprice, l_discount,
                   l_tax, l_returnflag, l_linestatus, l_shipdate
            FROM lineitem, {rep}""",
        # events: same time range, 10x density (a bigger org, not a
        # longer history) — window/stream state sizes scale with keys
        "events": f"""
            SELECT event_id + i * {mx['ev']} AS event_id, ts,
                   user_id + i * {mx['us']} AS user_id,
                   event_type, value, props
            FROM events, {rep}""",
        # documents: rewrite the two most frequent tokens per replica so
        # cross-replica shingle sets diverge (near-dup structure stays
        # ~linear); replica 0 is byte-identical to sf0.1
        "documents": f"""
            SELECT doc_id + i * {mx['dc']} AS doc_id,
                   CASE WHEN i = 0 THEN text
                        ELSE regexp_replace(regexp_replace(text,
                                 '\\bthe\\b', 'the' || i, 'g'),
                                 '\\bvalue\\b', 'value' || i, 'g')
                   END AS text,
                   lang, source,
                   CAST(length(CASE WHEN i = 0 THEN text
                        ELSE regexp_replace(regexp_replace(text,
                                 '\\bthe\\b', 'the' || i, 'g'),
                                 '\\bvalue\\b', 'value' || i, 'g')
                   END) AS BIGINT) AS n_chars
            FROM documents, {rep}""",
        # embeddings: nudge one deterministic component per replica so
        # vectors are distinct but the metric structure is preserved
        "embeddings": f"""
            SELECT vec_id + i * {mx['vc']} AS vec_id,
                   CASE WHEN i = 0 THEN embedding
                        ELSE list_transform(embedding, (x, k) ->
                            CASE WHEN k - 1 = i % len(embedding)
                                 THEN CAST(x + 0.003 * i AS FLOAT)
                                 ELSE x END)
                   END AS embedding,
                   label
            FROM embeddings, {rep}""",
    }
    for t in TABLES:
        out = f"{DST}/{t}.parquet"
        con.execute(
            f"COPY ({jobs[t]}) TO '{out}' (FORMAT PARQUET, "
            f"COMPRESSION SNAPPY)"
        )
        n = con.sql(f"SELECT count(*) FROM '{out}'").fetchone()[0]
        print(f"{t}: {n} rows -> {out}")


if __name__ == "__main__":
    main()
