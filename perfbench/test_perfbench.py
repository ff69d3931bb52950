"""Self-tests of the benchmark at sf 0.001.

    python3 -m pytest perfbench -q

The checker and span tests need no Spark session.  The end-to-end
tests run the benchmark command itself (about five minutes in all).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import check  # noqa: E402
import harness  # noqa: E402
import spans  # noqa: E402
from square_etl_spark.queries import oracle_sql  # noqa: E402
from square_etl_spark.schemas import WAREHOUSE_TABLES  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


# -- spans ---------------------------------------------------------------


def _span(name, start, end, parent=None):
    return spans.Span(name, name, start, end, parent=parent)


def test_self_time_subtracts_the_union_of_child_spans():
    s = [
        _span("root", 0.0, 10.0),
        _span("a", 1.0, 4.0, parent=0),
        _span("b", 3.0, 6.0, parent=0),  # overlaps a: union is [1, 6]
        _span("c", 8.0, 12.0, parent=0),  # clipped to [8, 10]
        _span("grandchild", 1.5, 2.0, parent=1),  # not a child of root
    ]
    assert spans.self_time(s, 0) == pytest.approx(10.0 - 5.0 - 2.0)
    assert spans.self_time(s, 1) == pytest.approx(3.0 - 0.5)
    assert spans.self_time(s, 2) == pytest.approx(3.0)


def test_driver_gap_is_span_time_no_job_ran():
    sp = _span("merge", 100.0, 110.0)
    jobs = [
        spans.Job(1, 101.0, 103.0, None),
        spans.Job(2, 102.0, 104.0, None),
        spans.Job(3, 109.0, 115.0, None),
    ]
    assert spans.driver_gap(sp, jobs) == pytest.approx(10.0 - 3.0 - 1.0)


def test_jobs_are_attributed_by_interval_to_the_innermost_span():
    s = [
        _span("query", 0.0, 10.0),
        _span("build", 0.0, 6.0, parent=0),
        _span("exec", 6.0, 10.0, parent=0),
    ]
    jobs = [
        spans.Job(1, 1.0, 2.0, "perfbench:q"),
        spans.Job(2, 2.0, 3.0, None),  # pool thread: no group, still attributed
        spans.Job(3, 7.0, 8.0, "perfbench:q"),
        spans.Job(4, 20.0, 21.0, None),  # outside every span
    ]
    owned = spans.attribute(s, jobs)
    assert [j.job_id for j in owned[1]] == [1, 2]
    assert [j.job_id for j in owned[2]] == [3]
    assert owned[0] == []
    assert sorted(j.job_id for j in spans.jobs_under(s, owned, 0)) == [1, 2, 3]


# -- warehouse checker -----------------------------------------------------


@pytest.fixture(scope="module")
def fx():
    return os.path.join(harness.DATA, "sf0.001")


def _write_expected(fx: str, table: str, target: str, edit: str | None = None,
                    end: dt.date | None = None) -> None:
    """Write the oracle's rows after syncing the history before ``end``
    as the warehouse table, optionally changed by one SQL statement
    over the temp table ``w``."""
    con = check.connect(1)
    check.register_history(con, fx, table, end)
    con.execute(f"CREATE TEMP TABLE w AS {oracle_sql()[check.SYNC_ORACLES[table][0]]}")
    if edit:
        con.execute(edit)
    os.makedirs(target, exist_ok=True)
    con.execute(f"COPY w TO '{target}/part-0.parquet' (FORMAT parquet)")


def _check(fx, table, target, con=None, end=None, cand="cand"):
    return check.check_table(
        con or check.connect(1), fx, table, oracle_sql()[check.SYNC_ORACLES[table][0]],
        WAREHOUSE_TABLES[table][1], target, end, cand=cand,
    )


def test_checker_accepts_the_expected_table(fx, tmp_path):
    target = str(tmp_path / "pos_payments")
    _write_expected(fx, "pos_payments", target)
    res = _check(fx, "pos_payments", target)
    assert res["ok"] and res["rows"] == res["expected_keys"] > 0


@pytest.mark.parametrize(
    "edit, field",
    [
        ("UPDATE w SET amount = amount + 1 WHERE payment_id = 'pay-1'", "wrong_rows"),
        ("DELETE FROM w WHERE payment_id = 'pay-1'", "missing_keys"),
        ("INSERT INTO w SELECT * FROM w WHERE payment_id = 'pay-1'", "duplicate_rows"),
        ("UPDATE w SET payment_id = 'pay-x' WHERE payment_id = 'pay-1'", "extra_keys"),
    ],
)
def test_checker_rejects_a_corrupted_table(fx, tmp_path, edit, field):
    target = str(tmp_path / "pos_payments")
    _write_expected(fx, "pos_payments", target, edit)
    res = _check(fx, "pos_payments", target)
    assert not res["ok"] and res[field] == 1


@pytest.fixture()
def tied_fx(fx, tmp_path):
    """Fixtures whose line items hold one inventory key with two rows
    tied on the latest calculated_at, with different quantities."""
    d = str(tmp_path / "tied")
    shutil.copytree(fx, d)
    li = pq.read_table(os.path.join(d, "lineitem.parquet"))
    row = li.slice(0, 1).to_pylist()[0]
    row.update(l_orderkey=1, l_linenumber=1, l_partkey=5, l_suppkey=3,
               l_returnflag="R", l_quantity=1.0)
    twin = dict(row, l_orderkey=2, l_quantity=2.0)
    older = dict(row, l_orderkey=4, l_quantity=3.0,
                 l_shipdate=row["l_shipdate"].replace(year=row["l_shipdate"].year - 1))
    pq.write_table(pa.Table.from_pylist([row, twin, older], schema=li.schema),
                   os.path.join(d, "lineitem.parquet"))
    return d


@pytest.mark.parametrize("qty, ok", [(1.0, True), (2.0, True), (3.0, False)])
def test_tied_latest_rows_are_each_accepted(tied_fx, tmp_path, qty, ok):
    target = str(tmp_path / "pos_inventory")
    _write_expected(
        tied_fx, "pos_inventory", target,
        f"CREATE OR REPLACE TEMP TABLE w AS SELECT * FROM w "
        f"QUALIFY row_number() OVER (ORDER BY quantity = {qty} DESC) = 1",
    )
    res = _check(tied_fx, "pos_inventory", target)
    assert res["tied_keys"] == 1
    assert res["ok"] is ok


def test_checker_rejects_a_sync_that_drops_the_new_day(fx, tmp_path):
    """A merge that kept the preloaded table and dropped the batch."""
    con = check.connect(1)
    last = con.execute(
        f"SELECT max(o_orderdate)::DATE FROM '{fx}/orders.parquet'"
    ).fetchone()[0]
    target = str(tmp_path / "pos_payments")
    _write_expected(fx, "pos_payments", target, end=last)
    assert _check(fx, "pos_payments", target, end=last)["ok"]
    res = _check(fx, "pos_payments", target, end=last + dt.timedelta(days=1))
    assert not res["ok"] and res["missing_keys"] >= 1


def test_replay_check_rejects_a_changed_row_and_tolerates_ties(fx, tmp_path):
    con = check.connect(1)
    key = WAREHOUSE_TABLES["pos_payments"][1]
    target = str(tmp_path / "pos_payments")
    _write_expected(fx, "pos_payments", target)
    _check(fx, "pos_payments", target, con, cand="cand_base")
    check.snapshot(con, target, "snap")

    def diff(tied=frozenset()):
        _check(fx, "pos_payments", target, con)
        return check.replay_diff(con, "snap", "cand_base", "cand", target, key, set(tied))

    assert diff()["ok"]
    shutil.rmtree(target)
    _write_expected(fx, "pos_payments", target,
                    "UPDATE w SET status = 'X' WHERE payment_id = 'pay-1'")
    res = diff()
    assert not res["ok"] and res["unexpected_changed_keys"] == 1
    # a tied key may change, and so may a key whose expected row changed
    assert diff({("tenant-1", "square", "pay-1")})["ok"]
    con.execute("UPDATE cand_base SET status = 'Y' WHERE payment_id = 'pay-1'")
    res = check.replay_diff(con, "snap", "cand_base", "cand", target, key, set())
    assert res["ok"] and res["expected_changed_keys"] == 1


def test_rewrite_stats_counts_replaced_partitions():
    before = {("p=1", "a.parquet"): 10, ("p=2", "b.parquet"): 20}
    after = {("p=1", "a.parquet"): 10, ("p=2", "c.parquet"): 25, ("p=3", "d.parquet"): 5}
    rows = {("p=1", "a.parquet"): 1, ("p=2", "b.parquet"): 2}
    assert harness.rewrite_stats(before, after, rows) == {
        "partitions_rewritten": 2, "partitions": 3, "files_written": 2,
        "bytes_written": 30, "slice_rows": 2,
    }


# -- BENCHMARK.json and the command --------------------------------------


def test_per_layer_names_cover_every_table_and_query():
    names = {m["name"] for m in SPEC["per_layer"]}
    for t in harness.SYNC_TABLES:
        assert {f"sinks.merge.s.{t}", f"sinks.merge.jobs.{t}"} <= names
    for q in harness.CURATION_QUERIES:
        assert {f"queries.build_s.{q}", f"queries.jobs.{q}",
                f"operators.exec_s.{q}"} <= names
    assert {w["name"] for w in SPEC["workloads"]} == set(harness.MIN_REPS)


def _run(cwd: str, workload: str, trace: int, timeout: float = 200.0):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["sync_hourly", "curation_mix"])
def test_every_named_metric_is_printed_with_its_unit(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {n: v["unit"] for n, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted
    }
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_printing_a_result_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    proc = _run(str(tmp_path), "sync_hourly", 0, timeout=60)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
