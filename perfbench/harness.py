"""The measured process: one SparkSession, one client, sequential calls.

Started by ``run.py`` with the session already sized by environment.
Drives the engine from outside through its public functions only:

- ``sync_hourly``: the six ``pipelines.*_source``/``*_pipeline`` pairs,
  ``io.windowed_scan`` and ``pipelines.run_pipeline``;
- ``curation_mix``: ``queries.queries()`` entries, each built and
  counted.

Prints human-readable lines, then one JSON result line last.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from spans import (  # noqa: E402
    Tracer, attribute, block_bytes, driver_gap, jobs_under, read_jobs, self_time,
)

SYNC_TABLES = [
    "pos_payments", "pos_order_items", "pos_catalog",
    "pos_inventory", "pos_categories", "pos_locations",
]
CURATION_QUERIES = ["dedup_simhash", "dedup_cluster_assignment"]
#: fixture days in one sync window: the reference's 24 h lookback at a
#: 1 h cadence, with a fixture day standing in for an hour
LOOKBACK_DAYS = 24
#: the window end day D is drawn from the last months of the history,
#: on a day of the month that makes every window span exactly two
#: months: the monthly-partitioned facts then always rewrite two
#: partitions, whatever the seed
WINDOW_END_MONTHS = [(2001, m) for m in range(2, 8)]
WINDOW_END_DAYS = range(8, 21)
#: the engine's fixture tables the benchmark reads, copied unchanged
#: into ``data/sf<scale>/``: the POS star schema and the curation
#: corpus (``documents``)
DATA = os.path.join(HERE, "data")
DEFAULT_SF = "0.01"
#: per workload: fewest timed reps, and the layers it never calls
#: (their traced metrics read 0)
MIN_REPS = {"sync_hourly": 1, "curation_mix": 2}
#: untimed curation passes before the timed ones
WARMUP_PASSES = 2
IDLE_LAYERS = {
    "sync_hourly": ["queries.", "operators."],
    "curation_mix": ["sinks.merge.", "io.", "pipelines."],
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["sync_hourly", "curation_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", default=DEFAULT_SF, help="fixture scale under data/")
    ap.add_argument("--work", required=True)
    return ap.parse_args(argv)


def window_end(seed: int) -> dt.date:
    import random

    rnd = random.Random(seed)
    year, month = rnd.choice(WINDOW_END_MONTHS)
    return dt.date(year, month, rnd.choice(WINDOW_END_DAYS))


def table_key(table: str) -> list[str]:
    from square_etl_spark.schemas import WAREHOUSE_TABLES

    return WAREHOUSE_TABLES[table][1]


def as_ts(d: dt.date | None) -> dt.datetime | None:
    return None if d is None else dt.datetime(d.year, d.month, d.day)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def noop_count(df) -> int:
    """Force ``df`` with a noop write; its row count rides along."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return int(obs.get["n"])


def parquet_files(path: str) -> dict[tuple[str, str], int]:
    """(partition dir, file name) → bytes for a table's data files."""
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                out[(os.path.relpath(d, path), n)] = os.path.getsize(os.path.join(d, n))
    return out


def file_rows(path: str, files: dict) -> dict[tuple[str, str], int]:
    """Rows in each of a table's data files, from the parquet footers."""
    import pyarrow.parquet as pq

    return {
        (d, n): pq.ParquetFile(os.path.join(path, d, n)).metadata.num_rows
        for d, n in files
    }


def rewrite_stats(before: dict, after: dict, rows_before: dict) -> dict[str, float]:
    """What a merge replaced, from the table's data files before and
    after: partitions whose file set changed, files and bytes written,
    and the rows the replaced partitions held."""
    dirs = {d for d, _ in before} | {d for d, _ in after}
    by_dir = lambda fs, d: {n for (dd, n) in fs if dd == d}  # noqa: E731
    rewritten = {d for d in dirs if by_dir(before, d) != by_dir(after, d)}
    new = set(after) - set(before)
    return {
        "partitions_rewritten": len(rewritten),
        "partitions": len({d for d, _ in after}),
        "files_written": len(new),
        "bytes_written": sum(after[f] for f in new),
        "slice_rows": sum(r for (d, _), r in rows_before.items() if d in rewritten),
    }


MB = 1e6


def dir_mb(path: str) -> float:
    total = 0
    for d, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, n)) for n in names)
    return total / MB


class Bench:
    """State of one benchmark run: session, tracer, counters, metrics."""

    def __init__(self, args: argparse.Namespace, spark, start_s: float) -> None:
        self.args = args
        self.spark = spark
        self.start_s = start_s
        self.tracer = Tracer(False)
        self.attempted = 0
        #: one entry per failed call (a table sync or a query), however
        #: many of its checks failed
        self.failed: set[str] = set()
        self.problems: list[str] = []
        self.metrics: dict[str, float] = {"session.start_s": start_s}
        self.notes: list[str] = []
        self.query_s: dict[str, list[float]] = {}

    def fail(self, call: str, what: str) -> None:
        self.failed.add(call)
        self.problems.append(f"{call}: {what}")

    # -- sync_hourly ---------------------------------------------------

    def table_steps(self, fx: str, begin: dt.date | None, end: dt.date | None):
        """(table, source thunk, pipeline) for the six pipelines over
        fixture rows with timestamps in [begin, end)."""
        from square_etl_spark import pipelines as P
        from square_etl_spark.io import windowed_scan

        spark, b, e = self.spark, as_ts(begin), as_ts(end)

        def payments():
            return (windowed_scan(P.payments_source(spark, fx), "created_at", b, e),)

        def order_items():
            return payments() + (P.order_items_source(spark, fx),)

        def inventory():
            return (windowed_scan(P.inventory_source(spark, fx), "calculated_at", b, e),)

        return [
            ("pos_payments", payments,
             lambda pay: P.payments_pipeline(pay, with_part_date=True)),
            ("pos_order_items", order_items,
             lambda pay, lines: P.order_items_pipeline(pay, lines, with_part_date=True)),
            ("pos_catalog", lambda: P.catalog_source(spark, fx), P.catalog_pipeline),
            ("pos_inventory", inventory, P.inventory_pipeline),
            ("pos_categories", lambda: (P.categories_source(spark, fx),), P.categories_pipeline),
            ("pos_locations", lambda: (P.locations_source(spark, fx),), P.locations_pipeline),
        ]

    def sync(self, fx: str, wh: str, begin, end, label: str, traced: bool = False) -> float:
        """Sync all six tables once; returns wall seconds.  A table
        whose sync raises is counted failed and the next one runs."""
        from square_etl_spark import pipelines as P

        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("sync", "sync"):
            for table, source, pipeline in self.table_steps(fx, begin, end):
                target = os.path.join(wh, table)
                try:
                    if not traced:
                        rows, _ = pipeline(*source())
                        P.run_pipeline(self.spark, table, rows, target)
                        continue
                    with tr.span(table, "table"):
                        with tr.span(table, "pipelines") as psp:
                            with tr.span(table, "io"):
                                srcs = source()
                                for s in srcs:
                                    noop(s)
                            rows, rejects = pipeline(*srcs)
                            psp.counts["rows_out"] = noop_count(rows)
                            psp.counts["rows_quarantined"] = noop_count(rejects)
                        before = parquet_files(target)
                        rows_before = file_rows(target, before)
                        with tr.span(table, "sinks.merge") as msp:
                            P.run_pipeline(self.spark, table, rows, target)
                        msp.counts.update(
                            rewrite_stats(before, parquet_files(target), rows_before)
                        )
                except Exception as exc:  # noqa: BLE001 - count, report, go on
                    self.fail(f"{label} {table}", f"sync raised {type(exc).__name__}: {exc}")
        return time.perf_counter() - t0

    def check_warehouse(self, con, fx: str, wh: str, end: dt.date, label: str,
                        base: bool) -> dict:
        """Check every table on disk against the oracle.  With ``base``
        keep the expected rows and a snapshot of each table as the
        preloaded state; without, also check that the sync changed no
        row of that state the window did not bring anew (idempotence of
        the lookback overlap), tied keys aside.  Each failed table counts
        one failure.  Returns per-table results."""
        import check
        from square_etl_spark.queries import oracle_sql

        oracles = oracle_sql()
        out = {}
        for table in SYNC_TABLES:
            target, key = os.path.join(wh, table), table_key(table)
            res = check.check_table(
                con, fx, table, oracles[check.SYNC_ORACLES[table][0]], key, target, end,
                cand=f"cand_base_{table}" if base else "cand",
            )
            if base:
                check.snapshot(con, target, f"snap_base_{table}")
            else:
                res["replay"] = check.replay_diff(
                    con, f"snap_base_{table}", f"cand_base_{table}", "cand", target, key,
                    res["tied"],
                )
                res["ok"] = res["ok"] and res["replay"]["ok"]
            out[table] = res
            if not res["ok"]:
                shown = {k: v for k, v in res.items() if k != "tied"}
                self.fail(f"{label} {table}", f"check failed {shown}")
        return out

    def run_sync_hourly(self) -> None:
        """Set-up preloads all history before day D into a base
        warehouse.  Every timed rep starts from a copy of that base and
        syncs the window [D-23, D+1): 23 days the warehouse already
        holds (the lookback overlap of consecutive hourly runs), which
        must change nothing, and day D, whose rows are new keys and newer
        versions of inventory keys."""
        import check

        a = self.args
        fx = os.path.join(DATA, f"sf{a.sf}")
        d = window_end(a.seed)
        begin, end = d - dt.timedelta(days=LOOKBACK_DAYS - 1), d + dt.timedelta(days=1)
        self.notes.append(
            f"sync window [{begin}, {end}) into a warehouse preloaded with the "
            f"history before {d} (engine fixtures sf {a.sf}, seed {a.seed})"
        )
        base, wh = os.path.join(a.work, "wh-base"), os.path.join(a.work, "wh")
        con = check.connect(os.cpu_count() or 1)

        t0 = time.perf_counter()
        self.sync(fx, base, None, d, "preload")
        preload_s = time.perf_counter() - t0
        self.attempted += len(SYNC_TABLES)
        self.metrics["sinks.merge.preload_s"] = preload_s
        self.setup_s = self.start_s + preload_s
        self.check_warehouse(con, fx, base, d, "preload", base=True)

        reps, traced_reps = [], []
        t_meas = time.perf_counter()
        while True:
            traced = bool(a.trace) and len(reps) > len(traced_reps)
            label = f"rep {len(reps) + len(traced_reps) + 1}"
            shutil.rmtree(wh, ignore_errors=True)
            shutil.copytree(base, wh)
            settle(self.spark)
            self.tracer.enabled = traced
            secs = self.sync(fx, wh, begin, end, label, traced=traced)
            self.tracer.enabled = False
            (traced_reps if traced else reps).append(secs)
            self.attempted += len(SYNC_TABLES)
            last = self.check_warehouse(con, fx, wh, end, label, base=False)
            enough = len(reps) >= MIN_REPS[a.workload] and (not a.trace or traced_reps)
            if enough and time.perf_counter() - t_meas >= a.seconds:
                break
        self.notes.append(
            "keys a rep changes (new keys and newer versions the window brings): "
            + ", ".join(f"{t}={r['replay']['changed_keys']}" for t, r in last.items())
        )
        ties = {t: r["tied_keys"] for t, r in last.items() if r["tied_keys"]}
        flips = sum(r["replay"]["changed_tied_keys"] for r in last.values())
        self.notes.append(
            f"tied last-writer keys (any tied row accepted): {ties or 'none'}; "
            f"tied keys whose row the last rep's re-sync changed: {flips}"
        )
        self.notes.append(
            "rows on disk: " + ", ".join(f"{t}={r['rows']}" for t, r in last.items())
        )
        self.samples = reps
        self.metrics["warehouse_mb"] = dir_mb(wh)
        if a.trace:
            self.traced_samples = traced_reps
            self.sync_layers()
        shutil.rmtree(wh, ignore_errors=True)
        shutil.rmtree(base, ignore_errors=True)

    def sync_layers(self) -> None:
        """Per-layer metrics of the traced reps, per rep.  Bytes read are
        not taken from Spark's input metrics, which count a fraction of
        the bytes of local parquet files; scans are counted in rows, and
        written bytes are measured on disk."""
        spans = self.tracer.spans
        owned = attribute(spans, read_jobs(self.spark))
        n = len(self.traced_samples)
        merge = dict.fromkeys(
            ["jobs", "stages", "tasks", "driver_gap_s", "input_rows", "task_s",
             "shuffle_mb", "spill_mb", "partitions_rewritten", "output_mb",
             "files_written"], 0.0)
        io = dict.fromkeys(["scan_s", "input_rows"], 0.0)
        pipe = dict.fromkeys(["build_s", "self_s", "rows_out", "rows_quarantined"], 0.0)
        per_table = {t: {"s": 0.0, "jobs": 0.0} for t in SYNC_TABLES}
        rewritten, scanned_once = {}, 0.0
        for i, sp in enumerate(spans):
            jobs = jobs_under(spans, owned, i)
            if sp.layer == "io":
                io["scan_s"] += sp.dur
                io["input_rows"] += sum(j.input_records for j in jobs)
            elif sp.layer == "pipelines":
                pipe["build_s"] += sp.dur
                pipe["self_s"] += self_time(spans, i)
                pipe["rows_out"] += sp.counts["rows_out"]
                pipe["rows_quarantined"] += sp.counts["rows_quarantined"]
            elif sp.layer == "sinks.merge":
                c = sp.counts
                merge["jobs"] += len(jobs)
                merge["stages"] += sum(j.stages for j in jobs)
                merge["tasks"] += sum(j.tasks for j in jobs)
                merge["driver_gap_s"] += driver_gap(sp, jobs)
                merge["input_rows"] += sum(j.input_records for j in jobs)
                merge["task_s"] += sum(j.task_s for j in jobs)
                merge["shuffle_mb"] += sum(j.shuffle_bytes for j in jobs) / MB
                merge["spill_mb"] += sum(j.spill_bytes for j in jobs) / MB
                merge["partitions_rewritten"] += c["partitions_rewritten"]
                merge["output_mb"] += c["bytes_written"] / MB
                merge["files_written"] += c["files_written"]
                scanned_once += c["slice_rows"]
                per_table[sp.name]["s"] += sp.dur
                per_table[sp.name]["jobs"] += len(jobs)
                rewritten[sp.name] = f"{c['partitions_rewritten']}/{c['partitions']}"
        # rows a merge must read at least once: its batch's source rows
        # (what the io span scanned) and the rows of the partitions it
        # replaced
        scanned_once += io["input_rows"]
        m = self.metrics
        m.update({f"sinks.merge.{k}": v / n for k, v in merge.items()})
        m["sinks.merge.scan_amplification"] = merge["input_rows"] / scanned_once
        for t, v in per_table.items():
            m[f"sinks.merge.s.{t}"] = v["s"] / n
            m[f"sinks.merge.jobs.{t}"] = v["jobs"] / n
        m.update({f"io.{k}": v / n for k, v in io.items()})
        m.update({f"pipelines.{k}": v / n for k, v in pipe.items()})
        sync_s = sum(sp.dur for sp in spans if sp.layer == "sync")
        merge_s = sum(v["s"] for v in per_table.values())
        self.notes.append(
            "partitions rewritten per merge (of partitions on disk): "
            + ", ".join(f"{t}={v}" for t, v in rewritten.items())
        )
        self.notes.append(
            f"traced profile: sinks.merge is {merge_s / sync_s:.1%} of traced sync "
            f"time ({merge_s / n:.3f} of {sync_s / n:.3f} s per rep)"
        )

    # -- curation_mix --------------------------------------------------

    def run_curation_mix(self) -> None:
        from square_etl_spark.queries import queries

        a = self.args
        fx = os.path.join(DATA, f"sf{a.sf}")
        self.notes.append(
            f"curation inputs are the engine's fixed sf {a.sf} documents; "
            f"--seed {a.seed} does not change them"
        )
        expected = cached_oracles(fx, os.path.join(a.work, "..", f"oracles-sf{a.sf}.json"))
        fns = queries()
        # warm-up passes (set-up): the first timed pass after a single
        # one still ran about a fifth slower than the next
        t0 = time.perf_counter()
        for k in range(WARMUP_PASSES):
            self.curation_pass(fns, fx, expected, f"warm-up {k + 1}", traced=False, values=False)
        self.query_s.clear()
        self.setup_s = self.start_s + (time.perf_counter() - t0)

        passes, traced_passes = [], []
        t_meas = time.perf_counter()
        while True:
            traced = bool(a.trace) and len(passes) > len(traced_passes)
            self.tracer.enabled = traced
            label = f"pass {len(passes) + len(traced_passes) + 1}"
            # values are checked from the last pass the minimum needs on
            values = len(passes) + 1 >= MIN_REPS[a.workload]
            secs = self.curation_pass(fns, fx, expected, label, traced, values)
            self.tracer.enabled = False
            (traced_passes if traced else passes).append(secs)
            enough = len(passes) >= MIN_REPS[a.workload] and (not a.trace or traced_passes)
            if enough and time.perf_counter() - t_meas >= a.seconds:
                break
        self.samples = passes
        self.notes.append(
            "query seconds per pass: "
            + ", ".join(f"{q}={'/'.join(f'{x:.2f}' for x in v)}" for q, v in self.query_s.items())
        )
        # no warehouse here: the size of the read-only input stands in,
        # since every end-to-end metric needs a value that is never 0
        self.metrics["warehouse_mb"] = os.path.getsize(os.path.join(fx, "documents.parquet")) / MB
        if a.trace:
            self.traced_samples = traced_passes
            self.curation_layers()

    def curation_pass(self, fns, fx: str, expected: dict, label: str, traced: bool,
                      values: bool) -> float:
        """One pass over the mix; each query timed as build + count and
        its row count checked.  With ``values`` each result is also
        collected, untimed, and its value hash checked."""
        import check

        sc, tr, total = self.spark.sparkContext, self.tracer, 0.0
        for q in CURATION_QUERIES:
            self.attempted += 1
            if traced:
                sc.setJobGroup(f"perfbench:{q}", q)
            try:
                t0 = time.perf_counter()
                with tr.span(q, "query"):
                    with tr.span(q, "queries") as bsp:
                        df = fns[q](self.spark, fx)
                    if traced:
                        bsp.counts["ckpt_bytes"] = block_bytes(self.spark)
                    with tr.span(q, "operators"):
                        n = df.count()
                secs = time.perf_counter() - t0
                total += secs
                self.query_s.setdefault(q, []).append(secs)
                if n != expected[q]["rows"]:
                    self.fail(f"{label} {q}", f"{n} rows, oracle has {expected[q]['rows']}")
                if values:
                    got = check.spark_result([tuple(r) for r in df.collect()], df.columns)
                    if got != expected[q]:
                        self.fail(f"{label} {q}", f"result {got} != oracle {expected[q]}")
            except Exception as exc:  # noqa: BLE001
                self.fail(f"{label} {q}", f"raised {type(exc).__name__}: {exc}")
            finally:
                if traced:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                release_blocks(self.spark)
        return total

    def curation_layers(self) -> None:
        spans = self.tracer.spans
        owned = attribute(spans, read_jobs(self.spark))
        n = len(self.traced_samples)
        m = self.metrics
        agg = {k: 0.0 for k in (
            "queries.build_s", "queries.build_jobs", "queries.driver_gap_s",
            "queries.unattributed_jobs", "operators.exec_s", "operators.exec_jobs",
            "operators.task_s", "operators.shuffle_mb", "operators.spill_mb",
            "operators.ckpt_mb",
        )}
        for q in CURATION_QUERIES:
            for k in ("queries.build_s", "queries.jobs", "operators.exec_s"):
                m[f"{k}.{q}"] = 0.0
        for i, sp in enumerate(spans):
            jobs = owned[i]
            group = f"perfbench:{sp.name}"
            if sp.layer in ("queries", "operators"):
                agg["queries.unattributed_jobs"] += sum(j.group != group for j in jobs)
            if sp.layer == "queries":
                agg["queries.build_s"] += sp.dur
                agg["queries.build_jobs"] += len(jobs)
                agg["queries.driver_gap_s"] += driver_gap(sp, jobs)
                agg["operators.ckpt_mb"] += sp.counts.get("ckpt_bytes", 0) / MB
                m[f"queries.build_s.{sp.name}"] += sp.dur / n
                m[f"queries.jobs.{sp.name}"] += len(jobs) / n
            elif sp.layer == "operators":
                agg["operators.exec_s"] += sp.dur
                agg["operators.exec_jobs"] += len(jobs)
                agg["operators.task_s"] += sum(j.task_s for j in jobs)
                agg["operators.shuffle_mb"] += sum(j.shuffle_bytes for j in jobs) / MB
                agg["operators.spill_mb"] += sum(j.spill_bytes for j in jobs) / MB
                m[f"operators.exec_s.{sp.name}"] += sp.dur / n
        for k, v in agg.items():
            m[k] = v / n


def settle(spark) -> None:
    """Flush pending file writes and collect the driver's heap, outside
    the timing, so that a rep does not pay for the preload's leftovers."""
    os.sync()
    spark.sparkContext._jvm.System.gc()


def release_blocks(spark) -> None:
    """Drop every persisted/checkpointed block a query left behind, so
    one query's blocks do not squat storage memory for the next."""
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(True)


def cached_oracles(fx: str, cache: str) -> dict:
    """Oracle results of the curation queries over the fixed inputs,
    computed once per checkout (untimed) and reused across runs."""
    import hashlib

    import check
    from square_etl_spark.queries import oracle_sql

    sqls = oracle_sql()
    h = hashlib.sha256()
    with open(os.path.join(fx, "documents.parquet"), "rb") as fh:
        h.update(fh.read())
    for q in CURATION_QUERIES:
        h.update(sqls[q].encode())
    tag = h.hexdigest()
    if os.path.exists(cache):
        with open(cache) as fh:
            saved = json.load(fh)
        if saved.get("tag") == tag:
            return saved["results"]
    con = check.connect(os.cpu_count() or 1)
    check.register_fixtures(con, fx, ["documents"])
    results = {q: check.oracle_result(con, sqls[q]) for q in CURATION_QUERIES}
    tmp = f"{cache}.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump({"tag": tag, "results": results}, fh)
    os.replace(tmp, cache)
    return results


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    t0 = time.perf_counter()
    # the engine is imported here, not at the top: its import counts
    # into the session start, and the other modules import it lazily
    from square_etl_spark import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    conf = dict(spark.sparkContext.getConf().getAll())
    shown = (
        "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled", "spark.ui.enabled",
    )
    shown = {k: conf.get(k) for k in shown}
    shown["SPARK_LOCAL_DIRS"] = os.environ.get("SPARK_LOCAL_DIRS")
    print("conf: " + json.dumps(shown), flush=True)
    os.makedirs(args.work, exist_ok=True)
    bench = Bench(args, spark, start_s)
    if args.workload == "sync_hourly":
        bench.run_sync_hourly()
    else:
        bench.run_curation_mix()
    spark.stop()

    s = bench.samples
    m = bench.metrics
    m["run_s"] = statistics.median(s)
    m["setup_s"] = bench.setup_s
    m["success_rate"] = 1.0 - len(bench.failed) / max(bench.attempted, 1)
    if args.trace:
        traced = statistics.median(bench.traced_samples)
        m["trace.run_s"] = traced
        m["trace.overhead_s"] = traced - m["run_s"]
    for note in bench.notes:
        print(note)
    print(
        f"run_s samples={len(s)} median={m['run_s']:.4f} max={max(s):.4f} "
        f"all=[{', '.join(f'{x:.3f}' for x in s)}] "
        f"error_rate={len(bench.failed)}/{bench.attempted}"
    )
    for p in bench.problems:
        print("FAILED: " + p)
    result = {
        "attempted": bench.attempted, "failed": len(bench.failed), "metrics": m,
        "idle_layers": IDLE_LAYERS[args.workload],
    }
    print("RESULT " + json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
