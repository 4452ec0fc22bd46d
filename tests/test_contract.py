"""Driver-contract guards: __spark_entry__ surface shape, bench.py's
one-line JSON output, and error paths the driver would trip over."""

from __future__ import annotations

import json

import pytest


def test_entry_contract_shape(spark):
    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()
    assert len(qs) >= 30
    # every oracle key is a declared query; rows-only set is the
    # intentional non-SQL-expressible entries only: the approx twins,
    # the iterative BPE and unigram-LM trainers (driver-side
    # argmax/EM loops), and the PCA spectrum (driver-side
    # eigendecomposition)
    assert set(oracles) <= set(qs)
    assert set(qs) - set(oracles) == {
        "q3_approx_distinct",
        "q5_approx_summary",
        "docs_bpe_merges",
        "docs_unigram_vocab",
        "docs_tokenizer_compare",
        "emb_pca_variance",
    }
    assert all(callable(fn) for fn in qs.values())
    assert all(isinstance(sql, str) and "SELECT" in sql.upper() for sql in oracles.values())

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert "sum_qty" in df.columns


def test_oracle_output_types_are_hashable():
    """Every registered oracle must produce driver-hashable column types.

    DuckDB widens integer aggregates silently — ``SUM(BIGINT)`` and
    ``list_sum`` return HUGEINT (int128) — and the driver's value hash
    renders HUGEINT differently from the BIGINT Spark emits, so an
    uncast integer sum hash-mismatches even when every value is equal
    (this was the entire cause of the three r7 driver reds). DESCRIBE
    every oracle against the sf0.001 views and reject any
    HUGEINT/UHUGEINT/DECIMAL output column: oracles must CAST such
    expressions to BIGINT/DOUBLE explicitly.
    """
    import __spark_entry__ as e
    from tests.oracle import duckdb_connection

    con = duckdb_connection("/root/testdata/sf0.001")
    banned = ("HUGEINT", "UHUGEINT", "DECIMAL")
    offenders = {}
    for name, sql in e.oracle_sql().items():
        desc = con.execute(f"DESCRIBE {sql}").fetchall()
        bad = [(c, t) for c, t, *_ in desc if any(b in t.upper() for b in banned)]
        if bad:
            offenders[name] = bad
    assert not offenders, f"uncast oracle output columns: {offenders}"


def test_bench_emits_contract_json(spark, monkeypatch, capsys):
    import bench

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    bench.main([])  # explicit argv: pytest's own flags must not leak in
    out_lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    # the headline must be the LAST line and must stay COMPACT: r12's
    # artifact landed parsed:null because the embedded certified_runs
    # blob pushed metric/value past the driver's tail-capture window —
    # that summary now prints as its own earlier line with only a path
    # pointer in the headline (r12 verdict order #2)
    payload = json.loads(out_lines[-1])
    assert set(payload) == {
        "metric", "value", "unit", "sf", "n_queries", "n_errors",
        "queries_path",
    }
    # LENGTH pin, not just shape: the driver captures the last 2000
    # chars of stdout, and r12 AND r13 both landed parsed:null because
    # the headline carried a roster-sized dict that was short at this
    # test's sf0.001 roster but ~3.4 KB on the real sf0.1 roster. The
    # headline must stay small no matter how the roster grows, so pin
    # its serialized length well under the capture window.
    assert len(out_lines[-1]) <= 1500, (
        f"headline line is {len(out_lines[-1])} chars; the driver "
        "tail-captures 2000 — keep the final line roster-independent"
    )
    assert "certified_runs" not in payload
    assert "queries" not in payload
    detail = None
    for line in out_lines[:-1]:
        obj = json.loads(line)  # preceding lines must also be valid JSON
        if "queries" in obj:
            detail = obj
    assert detail is not None, "per-query dict must ride its own line"
    assert payload["unit"] == "sec"
    assert payload["sf"] == 0.001
    assert payload["value"] > 0
    assert payload["n_queries"] == len(detail["queries"]) >= 10
    assert payload["n_errors"] == len(detail.get("errors", {})) == 0
    assert all(v >= 0 for v in detail["queries"].values())
    # the headline points at the detail line; bench writes no file
    assert payload["queries_path"] == "(stdout line above)"


def test_publish_unfinished_fetch_raises(spark, warehouse):
    from meteo_etl_spark.errors import LoadError
    from meteo_etl_spark.pipeline import control
    from meteo_etl_spark.streaming.produce import publish_finished_fetch

    fetch_id = control.insert_fetch_metadata(
        spark, warehouse, "https://x.example.com/api"
    )
    with pytest.raises(LoadError, match="no finished"):
        publish_finished_fetch(spark, warehouse, fetch_id, str(warehouse.root) + "/t")


def test_correctness_window_composition_is_pinned():
    """The driver hash-checks the FIRST 50 entries of queries(), so the
    window composition is part of the correctness contract. Pin the
    round-7 roster: an accidental registration-order change (imports,
    new @query placement) must fail HERE, not in the driver's ledger.
    Update this list deliberately when rotating (_DEFERRED ledger)."""
    import __spark_entry__ as e

    window = list(e.queries())[:50]  # pinned roster: round-15 rotation
    must_be_in_window = {
        # round-15 rotation: the seven r14 newborns take their first
        # driver check — once green in CORRECTNESS_r15, every query
        # registered before round 15 has carried a driver row at least
        # once (196/196 cumulative driver certification).
        "emb_gram_census", "events_global_rank",
        "dedup_cluster_sizes", "mm_audio_chunks",
        "events_kmv_user_overlap", "docs_bm25_topk",
        "events_stream_kmv",
    }
    missing = must_be_in_window - set(window)
    assert not missing, f"window lost contract entries: {sorted(missing)}"
    assert len(window) == len(set(window)) == 50
    # every window entry must be oracle-checkable (hash-grade) EXCEPT
    # the rows-only-by-design entries deliberately windowed this
    # round for the driver's weaker rows-only record
    oracles = e.oracle_sql()
    no_oracle = [n for n in window if n not in oracles]
    assert set(no_oracle) == {
        "docs_bpe_merges", "emb_pca_variance", "q5_approx_summary",
        "docs_unigram_vocab", "docs_tokenizer_compare",
    }, f"unexpected window entries without oracle SQL: {no_oracle}"
