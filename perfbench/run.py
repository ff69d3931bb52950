"""Benchmark entry point: size the session to the box, run, report.

    python3 perfbench/run.py --workload sync_hourly --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the engine.  Launches one measured
process (``harness.py``) with the engine's own environment settings
sized to this machine (``SPARK_GRAFT_CPUS`` = usable cores,
``SPARK_GRAFT_DRIVER_MEM`` from physical memory, ``SPARK_LOCAL_DIRS``
and every temporary directory inside ``perfbench/_work``), waits for
it, and prints as its last line one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the ``end_to_end`` metrics
of ``BENCHMARK.json`` with ``--trace 0``, its ``per_layer`` metrics
with ``--trace 1``, each with the unit declared there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
#: the whole command must end well inside 180 s
DEADLINE_S = 170.0


def usable_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_mem_gb() -> int:
    """A quarter of physical memory, between 1 and 8 GiB: local mode
    hosts driver and executors in one JVM, and the machine is shared."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return max(1, min(8, phys // 4 // 2**30))


def session_env(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    extra = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage of a run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    # the engine's other settings keep their defaults, whatever the caller's shell holds
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(
        SPARK_GRAFT_CPUS=str(usable_cpus()),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mem_gb()}g",
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_EXTRA_CONF=json.dumps(extra),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYSPARK_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",
    )
    return env


def build_result(child: dict, spec: dict, trace: int) -> dict:
    """The final JSON line: the declared metrics with their units.
    Raises KeyError when the measured process missed one."""
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    measured = dict(child["metrics"])
    for m in wanted:  # a layer the workload never calls did no work
        if m["name"] not in measured and m["name"].startswith(tuple(child["idle_layers"])):
            measured[m["name"]] = 0.0
    metrics = {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]} for m in wanted}
    return {
        "correct": child["failed"] == 0,
        "attempted": child["attempted"],
        "failed": child["failed"],
        "metrics": metrics,
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", help="fixture scale under perfbench/data (default in harness.py)")
    args = ap.parse_args(argv)
    t_start = time.monotonic()

    root = os.getcwd()
    for need in ("BENCHMARK.json", "square_etl_spark/__init__.py", "tools/selfcheck.py"):
        if not os.path.exists(os.path.join(root, need)):
            print(f"perfbench: {need} not found; run from the engine's checkout root",
                  file=sys.stderr)
            return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, "_work", f"run-{os.getpid()}")
    cmd = [
        sys.executable, os.path.join(HERE, "harness.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
    ]
    if args.sf is not None:
        cmd += ["--sf", str(args.sf)]
    proc = subprocess.Popen(
        cmd, cwd=root, env=session_env(work), stdout=subprocess.PIPE,
        text=True, start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=DEADLINE_S - (time.monotonic() - t_start))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGTERM)
        try:
            out, _ = proc.communicate(timeout=5)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            out, _ = proc.communicate()
        sys.stdout.write(out or "")
        print(f"perfbench: measured process exceeded {DEADLINE_S:.0f} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    child = None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            child = json.loads(line[len("RESULT "):])
        else:
            print(line)
    if proc.returncode != 0 or child is None:
        print(f"perfbench: measured process exited {proc.returncode}", file=sys.stderr)
        return proc.returncode or 1
    try:
        result = build_result(child, spec, args.trace)
    except KeyError as exc:
        print(f"perfbench: metric {exc} was not measured", file=sys.stderr)
        return 4
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
