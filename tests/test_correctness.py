"""Oracle-checked correctness over every registered query.

Mirrors the driver gate: run each registered Spark query at sf0.01 and
compare row count, schema, and an order-insensitive canonical value
hash against its DuckDB oracle (the canonicalization of
tools/verify_local.py). Each key is built, collected and compared once
per run, by the shared `query_record` fixture (tests/conftest.py),
which the type-skew and plan-audit cases read too.
`tools/verify_local.py` adds the strict (pandas dtype) canon, the bare
`--vanilla` session and other scale points.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pytest

from tests.conftest import SF_DIR, QueryRecords


def _registry():
    from parquet_playground_spark import registry

    registry.load_all()
    return registry


@pytest.mark.parametrize("name", sorted(_registry().QUERIES))
def test_oracle_match(query_record, name):
    rec = query_record(name).need("types", "rows")
    assert rec.n_spark == rec.n_duck, f"rowcount {rec.n_spark} != {rec.n_duck}"
    assert rec.n_spark > 0, "vacuous pass: zero rows on both sides"
    assert sorted(c for c, _ in rec.spark_schema) == sorted(c for c, _ in rec.duck_schema)
    assert rec.values_equal, f"values differ, first diffs: {rec.first_diffs}"


def _consumers():
    """The three per-key tests that read a QueryRecord."""
    from tests import test_driver_parity, test_plan_audit

    return (
        test_oracle_match,
        test_driver_parity.test_no_result_type_skew,
        test_plan_audit.test_no_unexplained_plan_antipatterns,
    )


def test_record_builds_each_key_once(spark, oracle_con, monkeypatch):
    """All three per-key tests read one build of a key."""
    reg, name, calls = _registry(), "scan_filter_pushdown", []
    query = reg.QUERIES[name]

    def counted(spark, sf_dir):
        calls.append(sf_dir)
        return query(spark, sf_dir)

    monkeypatch.setitem(reg.QUERIES, name, counted)
    records = QueryRecords(spark, oracle_con)
    for check in _consumers():
        check(records, name)
    assert calls == [SF_DIR]


def test_record_failure_fails_every_reader(spark, oracle_con, monkeypatch):
    """A query that raises fails each per-key test with its own
    exception; none of them skips."""
    reg, name = _registry(), "scan_filter_pushdown"
    boom = RuntimeError("stub query raised")

    def stub(spark, sf_dir):
        raise boom

    monkeypatch.setitem(reg.QUERIES, name, stub)
    records = QueryRecords(spark, oracle_con)
    for check in _consumers():
        with pytest.raises(BaseException) as caught:  # a skip is a BaseException too
            check(records, name)
        assert caught.value is boom


def test_corpus_expectations_all_match(spark):
    """Every §2.2 corpus file reads (or fails) exactly as declared."""
    reg = _registry()
    rows = reg.QUERIES["corpus_smoke_reads"](spark, SF_DIR).collect()
    mismatched = [r["file"] for r in rows if not r["matches_expectation"]]
    assert mismatched == []


def test_watermark_drops_late_row(spark):
    """Semantic assertion for stream_watermark_late (SURVEY §7.4): the
    straggler replayed behind the watermark must be excluded."""
    reg = _registry()
    out = reg.QUERIES["stream_watermark_late"](spark, SF_DIR)
    assert out.filter("late_event_included").count() == 0


def test_encrypted_read_wrong_aad_fails(spark):
    """AAD integrity: the disable-aad-storage corpus file requires the
    caller-supplied prefix; a WRONG prefix must fail the read, not
    silently decrypt (GCM tag verification)."""
    import pytest as _pytest

    from parquet_playground_spark.sources.encrypted import read_encrypted

    with _pytest.raises(Exception):
        read_encrypted(
            spark,
            "encrypt_columns_and_footer_disable_aad_storage.parquet.encrypted",
            "wrong-prefix",
        ).agg({"double_field": "sum"}).collect()


def test_kmeans_clusters_stay_populated_and_improve(spark):
    """kmeans_lloyd_iterations now hashes its semantic contract; this
    re-asserts it directly so a VALUES-oracle edit can't silently
    weaken the check."""
    reg = _registry()
    rows = {
        r["iteration"]: r
        for r in reg.QUERIES["kmeans_lloyd_iterations"](spark, SF_DIR).collect()
    }
    assert rows[1]["inertia_decreased"]
    assert rows[0]["k_used"] == 8 and rows[1]["k_used"] == 8


def test_sketch_bounds_hold(spark):
    """The sketch queries hash exact values + a within-bound boolean;
    re-assert the booleans directly (a TRUE literal in the oracle can
    only fail if these are False, so keep the semantic intent pinned
    in a test too)."""
    reg = _registry()
    acd = reg.QUERIES["agg_approx_count_distinct"](spark, SF_DIR).collect()[0]
    assert acd["approx_within_5pct"]
    ap = reg.QUERIES["agg_approx_percentile"](spark, SF_DIR).collect()[0]
    assert ap["approx_within_rank_band"]
    hll = reg.QUERIES["sketch_hll_union"](spark, SF_DIR).collect()[0]
    assert hll["union_within_5pct"]


def test_oracle_spills_into_a_scratch_path_of_this_process(monkeypatch):
    """The oracle's DuckDB spill dir is this process's scratch path,
    removed at exit, not one fixed dir that concurrent sweeps share
    and no run removes."""
    from parquet_playground_spark.tables import scratch_path
    from tools.verify_local import oracle_connection

    monkeypatch.delenv("SPARK_GRAFT_DUCKDB_TMP", raising=False)
    con = oracle_connection(SF_DIR)
    try:
        tmp = con.sql("SELECT current_setting('temp_directory')").fetchone()[0]
        assert tmp == scratch_path("duckdb_tmp")
        assert f"_{os.getpid()}" in tmp
        assert con.sql("SELECT count(*) FROM region").fetchone()[0] == 5
    finally:
        con.close()


def test_check_order_names_are_registered():
    """Every _CHECK_ORDER entry must name a real query — a typo would
    silently drop it from the driver's official-check window."""
    from parquet_playground_spark import registry

    registry.load_all()
    missing = [n for n in registry._CHECK_ORDER if n not in registry.QUERIES]
    assert missing == []


def test_watermark_boundary_not_exercised(oracle_con):
    """stream_watermark_late's oracle pins window_end <= watermark
    (inclusive). Whether Spark finalizes a window whose end lands
    EXACTLY on the watermark is an eviction convention the oracle must
    never depend on — so assert the fixed testdata keeps every hourly
    window end strictly away from max(ts) - 15min (ADVICE r4 #3)."""
    gap = oracle_con.sql(
        """
        WITH mx AS (SELECT max(ts) AS m FROM events),
        ends AS (
            SELECT DISTINCT date_trunc('hour', ts) + INTERVAL 1 HOUR
                       AS window_end
            FROM events
        )
        SELECT min(abs(epoch(window_end) - epoch(m - INTERVAL 15 MINUTE)))
        FROM ends CROSS JOIN mx
        """
    ).fetchone()[0]
    assert gap is not None and gap > 0, (
        "an hourly window end coincides with the final watermark; the "
        "append-mode emit-set oracle would start depending on Spark's "
        "exact-equality eviction convention"
    )


def test_documents_text_never_null_or_empty():
    """text_bm25_search's one-pass form counts a document's length as
    its number of exploded tokens, which equals size(split(text)) only
    when text is neither NULL nor empty: explode(split(NULL)) drops the
    document and shifts n_docs, avgdl and df. Pin that fixture
    invariant at every scale present, so a fixture change fails here
    instead of drifting the scores."""
    paths = sorted(
        glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*", "documents.parquet"))
    )
    assert paths
    for path in paths:
        bad = duckdb.sql(
            f"SELECT count(*) FROM '{path}' WHERE text IS NULL OR text = ''"
        ).fetchone()[0]
        assert bad == 0, f"{path}: {bad} documents with NULL or empty text"


def test_stream_partition_derivation():
    """Pin _stream_shuffle_partitions: local mode stays at the
    measured-fast 2; cluster mode derives from parallelism and never
    collapses to a tiny fixed default (VERDICT r4 item 6)."""
    from parquet_playground_spark.session import _stream_shuffle_partitions

    f = _stream_shuffle_partitions
    assert f("local[32]", 32) == "2"
    assert f("local[*]", 4) == "2"
    assert f("spark://host:7077", 4000) == "4000"
    # small cluster: floor of 8, never the local 2
    assert f("yarn", 4) == "8"


def test_dual_dialect_templates_fail_loudly_on_drift():
    """The dual-dialect ops derive the Spark SQL from the same template
    as the oracle. A reformat must fail LOUDLY, not silently ship the
    DuckDB dialect to Spark (ADVICE r5 #3): events_decay renders both
    dialects from _DECAY_SQL placeholders (assert they actually
    diverge where intended), and corrmat's prefix slice anchors on a
    marker whose absence raises ValueError — pin the marker so drift
    is caught here at test time, not at first query call."""
    from parquet_playground_spark.operators import analytics, stats

    spark_side = analytics._DECAY_SQL.format(
        events="decay_events",
        age_seconds="unix_timestamp(a.now_ts) - unix_timestamp(e.ts)",
    )
    oracle_side = analytics._DECAY_SQL.format(
        events="events", age_seconds="date_diff('second', e.ts, a.now_ts)"
    )
    assert "date_diff" not in spark_side
    assert "unix_timestamp" not in oracle_side
    assert "{" not in spark_side and "{" not in oracle_side
    assert "        pairs AS (" in stats._CORRMAT_SQL
