"""Driver-contract invariants, mostly without Spark: every query has
an oracle twin, names are stable, the oracle SQL parses in DuckDB
against empty tables of the fixture schema (catches SQL typos without
the full gate), and ``queries()`` puts the least recently verified
queries where the driver samples."""

import json
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as entry

TABLE_DDL = {
    "region": "r_regionkey bigint, r_name varchar, r_comment varchar",
    "nation": "n_nationkey bigint, n_name varchar, n_regionkey bigint, n_comment varchar",
    "customer": "c_custkey bigint, c_name varchar, c_nationkey bigint, c_acctbal double",
    "supplier": "s_suppkey bigint, s_name varchar, s_nationkey bigint",
    "part": "p_partkey bigint, p_name varchar",
    "orders": "o_orderkey bigint, o_custkey bigint, o_totalprice double, o_orderdate date",
    "lineitem": ("l_orderkey bigint, l_quantity double, l_extendedprice double, "
                 "l_discount double, l_tax double, l_returnflag varchar, l_linestatus varchar"),
    "events": ("event_id bigint, ts timestamp, user_id bigint, event_type varchar, "
               "value double, props varchar"),
    "documents": ("doc_id bigint, text varchar, lang varchar, "
                  "source varchar, n_chars bigint"),
    "embeddings": "vec_id bigint, embedding float[]",
}


def test_queries_and_oracles_pair_exactly():
    q = entry.queries()
    o = entry.oracle_sql()
    assert set(q) == set(o), (set(q) ^ set(o))
    assert len(q) >= 43
    for name, fn in q.items():
        assert callable(fn), name


@pytest.mark.parametrize("name", sorted(entry.oracle_sql()))
def test_oracle_sql_parses(name):
    con = duckdb.connect()
    for t, ddl in TABLE_DDL.items():
        cols = ", ".join(f"cast(null as {c.split(' ', 1)[1]}) as {c.split(' ', 1)[0]}"
                         for c in ddl.split(", "))
        con.execute(f"create view {t} as select {cols} where 1 = 0")
    sql = entry.oracle_sql()[name]
    con.sql(sql)  # prepare/bind only — runs on empty views
    con.close()


def test_all_pairs_fixture_guard_trips(spark):
    """The O(n²) fixture twins refuse unbounded inputs (VERDICT r4 §wrong)."""
    big = spark.range(entry.ALL_PAIRS_FIXTURE_CAP + 1)
    with pytest.raises(ValueError, match="fixture-only"):
        entry._assert_all_pairs_fixture(big, "test")
    # at the cap it passes silently
    entry._assert_all_pairs_fixture(spark.range(entry.ALL_PAIRS_FIXTURE_CAP), "test")


def _green():
    return {"rows_match": True, "schema_match": True, "hash_match": True,
            "spark_rows": 1, "oracle_rows": 1, "err": None}


def _write_evidence(d: Path, rnd: str, records: dict) -> None:
    (d / f"CORRECTNESS_r{rnd}.json").write_text(json.dumps(records))


def test_sampling_order_without_evidence_is_registration_order(tmp_path):
    assert entry.sampling_order(tmp_path) == list(entry.oracle_sql())


def test_sampling_order_rule(tmp_path):
    a, b, c, d, e = list(entry.oracle_sql())[:5]
    red = dict(_green(), hash_match=False)
    _write_evidence(tmp_path, "9", {a: _green(), b: _green(), c: red, d: _green()})
    _write_evidence(tmp_path, "10", {b: _green(), c: dict(_green(), err="boom")})
    _write_evidence(tmp_path, "02", {d: _green(), e: _green()})
    order = entry.sampling_order(tmp_path)
    never = [n for n in entry.oracle_sql() if n not in (a, b, d, e)]
    # never green first (a red record is no evidence), in registration
    # order; then oldest evidence first (r02 < r9 < r10 — rounds are
    # ints, not strings); a and d tie at r9 and keep registration order
    assert order == never + [e, a, d, b]


@pytest.mark.parametrize("name, text", [
    ("CORRECTNESS_rX.json", "{}"),
    ("CORRECTNESS_r7.json", "not json"),
    ("CORRECTNESS_r7.json", json.dumps({"simhash": {"rows_match": True}})),
])
def test_sampling_order_rejects_malformed_evidence(tmp_path, name, text):
    (tmp_path / name).write_text(text)
    with pytest.raises((ValueError, KeyError)):
        entry.sampling_order(tmp_path)


def test_driver_sample_covers_queries_missing_from_newest_evidence():
    """The driver samples the first 50 of ``queries()``: every query the
    newest driver run did not record must be in that window."""
    root = Path(entry.__file__).resolve().parent
    newest = max(root.glob("CORRECTNESS_r*.json"),
                 key=lambda p: int(p.stem.removeprefix("CORRECTNESS_r")))
    missing = set(entry.queries()) - set(json.loads(newest.read_text()))
    assert missing
    assert missing <= set(list(entry.queries())[:50])


def test_gated_rejects_duplicate_and_unprefixed_names():
    before = list(entry.oracle_sql())
    with pytest.raises(ValueError, match="already registered"):
        entry.gated("select 1")(entry.q_html_node_count)

    def html_node_count(spark, sf_dir):
        return None

    with pytest.raises(ValueError, match="q_ prefix"):
        entry.gated("select 1")(html_node_count)
    assert list(entry.oracle_sql()) == before


def test_bench_and_plan_audit_name_registered_queries():
    import bench
    from tools import explain_plans

    names = (set(bench.QUERY_PICKS) | set(bench.REPEAT_PICKS)
             | set(explain_plans.CHECKS) - {"extract_pipeline"})
    assert names - set(entry.queries()) == set()


def test_boilerplate_oracle_on_small_hosts_and_repeated_bodies(spark, tmp_path):
    """The boilerplate twin derives block frequencies instead of assuming
    the fixture shape: a single-page host keeps its footer, and a body
    repeated on >= half of a host's pages is dropped."""
    texts = {
        "solo": ["only page"],
        "rep": ["same words", "same words", "same words", "other words"],
        "half": ["dup body", "dup body", "fresh one", "fresh two"],
        "few": ["dup body", "dup body", "a", "b", "c"],
    }
    rows = [(i, t, "en", host, len(t)) for i, (host, t) in enumerate(
        (h, t) for h, ts in texts.items() for t in ts)]
    (spark.createDataFrame(rows, "doc_id long, text string, lang string, "
                                 "source string, n_chars long")
     .write.parquet(str(tmp_path / "documents.parquet")))
    got = sorted(tuple(r) for r in entry.q_boilerplate_removal(spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.execute(f"create view documents as select * from "
                f"'{tmp_path}/documents.parquet/*.parquet'")
    want = sorted(con.sql(entry.oracle_sql()["boilerplate_removal"]).fetchall())
    assert got == want
    by_id = {r[0]: r for r in got}
    assert by_id[0][1:] == ("FOOTER solo\nonly page\ntail 0", 3, 0)
    assert by_id[1][1:] == ("tail 1", 1, 2)
    assert by_id[9][1:] == ("dup body\ntail 9", 2, 1)
