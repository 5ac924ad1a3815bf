#!/usr/bin/env python3
"""Seeded benchmark of the cassowary_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One workload per process (workloads.py):

1. Fixtures: synthetic parquet tables under ``.perfbench/data/`` built
   once per checkout (fixtures.py).
2. Set-up, three times: a fresh session from ``session.get_spark``
   (the first also launches the JVM), cold builds of the workload's
   one-time SSTable snapshots after clearing their cache, and one
   first-touch query. ``setup_s`` is the median.
3. Oracle gate, untimed, which also warms every key: each key's result
   is compared with its DuckDB oracle (row count, schema,
   order-insensitive values); keys without an oracle must return rows.
4. Measurement: one closed-loop client runs whole passes over the keys,
   each pass in a seeded order; ``--seconds`` over the workload's
   nominal pass time sets the pass count, so runs of one workload do
   equal work. Every key is built and fully materialised through the
   ``noop`` sink, then the session cache is cleared.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
same steps with Spark's event log on and each key split into build,
plan and execute, adds the direct ``sources`` probe
(sources_probe.py), and prints the per-layer metrics; its
``trace.pass_s`` minus the untraced ``pass_s`` is the tracing overhead.

The last stdout line is the result JSON; the line before it holds the
run's context (seed, cores, load, versions, sample counts, per-key and
pooled latencies, failures, leaked RDDs).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# Driver heap, in place of session.get_spark's 8g default. The fixtures
# are small, and on an 8g heap the JVM grows the heap as it likes: peak
# RSS then follows GC timing rather than the program's working set (and
# doubles), and the ContextCleaner frees dead checkpoints late.
DRIVER_MEM = "2g"
SETUP_REPS = 3

sys.path.insert(0, HERE)

from workloads import WORKLOADS, Workload  # noqa: E402


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(trace: bool) -> None:
    """Keep every file Spark writes inside the checkout; must run
    before the JVM starts."""
    local, tmp, log = (os.path.join(WORK, d) for d in ("spark-local", "tmp", "eventlog"))
    shutil.rmtree(log, ignore_errors=True)
    for d in (local, tmp, log):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # set, not defaulted, so the caller's environment cannot change the figures
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        # no hsperfdata file: it would go to /tmp whatever the tmpdir
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    ]
    if trace:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir=file://{log}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args + ["pyspark-shell"])


def _clear_snapshot_caches(sf_dir: str) -> None:
    """Delete every derived fixture the program cached for ``sf_dir``
    (keyed by its basename), so set-up runs the writers cold."""
    base = os.path.basename(sf_dir)
    for cache in (".sstable_cache", ".file_cache"):
        for dirpath, dirnames, _ in os.walk(os.path.join(ROOT, cache)):
            for d in list(dirnames):
                if d == base or d.startswith(base + "-"):
                    shutil.rmtree(os.path.join(dirpath, d), ignore_errors=True)
                    dirnames.remove(d)


def _tree_hwm_mb() -> float:
    """Sum of VmHWM over this process and all its descendants."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = set(), {os.getpid()}
    while frontier:
        tree |= frontier
        frontier = {p for p, pp in parent.items() if pp in frontier and p not in tree}
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def _stop_jvm(spark) -> None:
    """Stop the session, then end the JVM and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the gateway server exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _setup(wl: Workload, sf_dir: str, spark):
    """One set-up; returns (session, total seconds, session seconds)."""
    from cassowary_spark import registry
    from cassowary_spark.queries import scan
    from cassowary_spark.session import get_spark

    if spark is not None:
        spark.stop()
    t0 = time.perf_counter()
    _clear_snapshot_caches(sf_dir)
    spark = get_spark("perfbench")
    t_session = time.perf_counter() - t0
    for build in wl.snapshots:
        getattr(scan, build)(sf_dir)
    _noop(registry.QUERIES[wl.first_touch](spark, sf_dir))
    spark.catalog.clearCache()
    return spark, time.perf_counter() - t0, t_session


def _gate(spark, keys: list[str], sf_dir: str) -> dict[str, str]:
    """Oracle check of every key; returns {key: reason} for failures."""
    from cassowary_spark import registry
    from cassowary_spark.oracle import compare, duck_connection

    con = duck_connection(sf_dir)
    failures = {}
    try:
        for key in keys:
            try:
                df = registry.QUERIES[key](spark, sf_dir)
                if key in registry.ORACLES:
                    compare(df, registry.ORACLES[key], con, key)
                # collect, not count(): count() may prune the columns
                # the measured noop write materialises, leaving them cold
                elif len(df.toPandas()) == 0:
                    raise AssertionError(f"{key}: rows-only key returned no rows")
            except Exception as ex:  # a failing key is reported, not fatal
                failures[key] = f"{type(ex).__name__}: {ex}"[:300]
            finally:
                spark.catalog.clearCache()
    finally:
        con.close()
    return failures


def _measure(spark, keys: list[str], sf_dir: str, n_passes: int, rng: random.Random, trace: bool) -> dict:
    """``n_passes`` closed-loop passes, each over all keys in a seeded order."""
    from cassowary_spark import registry

    sc = spark.sparkContext
    jsc = sc._jsc
    latency: dict[str, list[float]] = {k: [] for k in keys}
    passes: list[dict] = []
    errors: dict[str, str] = {}
    peak_mb = _tree_hwm_mb()
    for n in range(n_passes):
        rec = {"wall": 0.0, "build": 0.0, "plan": 0.0, "exec": 0.0, "after_action": 0, "after_clear": 0}
        t_pass = time.perf_counter()
        for key in rng.sample(keys, len(keys)):
            before = jsc.getPersistentRDDs().size()
            try:
                if trace:
                    sc.setJobGroup(f"pb:{n}:{key}:build", key)
                    t0 = time.perf_counter()
                    df = registry.QUERIES[key](spark, sf_dir)
                    t1 = time.perf_counter()
                    sc.setJobGroup(f"pb:{n}:{key}:plan", key)
                    df._jdf.queryExecution().executedPlan()
                    t2 = time.perf_counter()
                    sc.setJobGroup(f"pb:{n}:{key}:exec", key)
                    _noop(df)
                    t3 = time.perf_counter()
                    rec["build"] += t1 - t0
                    rec["plan"] += t2 - t1
                    rec["exec"] += t3 - t2
                else:
                    t0 = time.perf_counter()
                    _noop(registry.QUERIES[key](spark, sf_dir))
                    t3 = time.perf_counter()
                latency[key].append(t3 - t0)
            except Exception as ex:  # counted in `failed`, the loop goes on
                errors[f"{n}:{key}"] = f"{type(ex).__name__}: {ex}"[:300]
            rec["after_action"] += jsc.getPersistentRDDs().size() - before
            spark.catalog.clearCache()
            rec["after_clear"] += jsc.getPersistentRDDs().size() - before
        rec["wall"] = time.perf_counter() - t_pass
        passes.append(rec)
        peak_mb = max(peak_mb, _tree_hwm_mb())
    return {"latency": latency, "passes": passes, "errors": errors, "peak_mb": peak_mb}


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _layer_metrics(m: dict, setups: list[tuple[float, float]], cores: int, groups: dict, probe: dict) -> dict:
    def per_pass(field):
        return statistics.median(p[field] for p in m["passes"])

    def group_sum(n: int, phase: str, attr: str) -> float:
        suffix = f":{phase}"
        return sum(getattr(g, attr) for name, g in groups.items() if name.startswith(f"pb:{n}:") and name.endswith(suffix))

    def spark_per_pass(phase: str, attr: str) -> float:
        return statistics.median(group_sum(n, phase, attr) for n in range(len(m["passes"])))

    busy = statistics.median(
        group_sum(n, "exec", "task_run_s") / (p["exec"] * cores) for n, p in enumerate(m["passes"])
    )
    out = {
        "session.start_s": _metric(statistics.median(s for _, s in setups), "s"),
        "session.first_start_s": _metric(setups[0][1], "s"),
        "trace.pass_s": _metric(per_pass("wall"), "s"),
        "queries.build_s": _metric(per_pass("build"), "s"),
        "queries.build_jobs": _metric(spark_per_pass("build", "jobs"), "count"),
        "spark.plan_s": _metric(per_pass("plan"), "s"),
        "spark.exec_s": _metric(per_pass("exec"), "s"),
        "spark.jobs": _metric(spark_per_pass("exec", "jobs"), "count"),
        "spark.stages": _metric(spark_per_pass("exec", "stages"), "count"),
        "spark.tasks": _metric(spark_per_pass("exec", "tasks"), "count"),
        "spark.task_busy_frac": _metric(busy, "ratio"),
        "spark.shuffle_write_mb": _metric(spark_per_pass("exec", "shuffle_write_mb"), "MB"),
        "spark.spill_mb": _metric(spark_per_pass("exec", "spill_mb"), "MB"),
        "spark.gc_s": _metric(spark_per_pass("exec", "gc_s"), "s"),
        "cache.rdds_after_action": _metric(per_pass("after_action"), "count"),
        "cache.rdds_after_clear": _metric(per_pass("after_clear"), "count"),
    }
    for name, value in probe.items():
        unit = "rows/s" if "rows_per_s" in name else "MB/s" if "mb_per_s" in name else "s"
        out[name] = _metric(value, unit)
    return out


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "cassowary_spark")):
        print(f"perfbench: no cassowary_spark package under {ROOT}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)
    _prepare_env(trace)
    sys.path.insert(0, ROOT)

    import pyspark

    from cassowary_spark import registry
    from fixtures import ensure_fixtures

    load_start = os.getloadavg()
    rng = random.Random(args.seed)
    sf_dir = ensure_fixtures(os.path.join(WORK, "data", f"pb_{wl.name}"), wl.scale)
    registry.load_all()
    missing = [k for k in wl.keys + (wl.first_touch,) if k not in registry.QUERIES]
    if missing:
        print(f"perfbench: keys not in the registry: {missing}", file=sys.stderr)
        return 2

    spark, setups = None, []
    for _ in range(SETUP_REPS):
        spark, total, session_s = _setup(wl, sf_dir, spark)
        setups.append((total, session_s))
    gate_t0 = time.perf_counter()
    gate_failures = _gate(spark, rng.sample(wl.keys, len(wl.keys)), sf_dir)
    gate_s = time.perf_counter() - gate_t0
    n_passes = max(1, int(args.seconds / wl.pass_s + 0.5))
    m = _measure(spark, list(wl.keys), sf_dir, n_passes, rng, trace)
    cores = spark.sparkContext.defaultParallelism
    spark_version = spark.version
    _stop_jvm(spark)

    samples = [x for xs in m["latency"].values() for x in xs]
    if not samples:
        print(f"perfbench: every key failed: {m['errors']}", file=sys.stderr)
        return 1
    leaked = statistics.median(p["after_clear"] for p in m["passes"])
    attempted = len(wl.keys) + len(samples) + len(m["errors"])
    failed = len(gate_failures) + len(m["errors"])

    if trace:
        from eventlog import read_groups

        import sources_probe
        from cassowary_spark.queries import scan

        probe_dir = ensure_fixtures(os.path.join(WORK, "data", "pb_sstable_rw"), WORKLOADS["sstable_rw"].scale)
        snapshots = {}
        for build in WORKLOADS["sstable_rw"].snapshots:
            path = getattr(scan, build)(probe_dir)
            snapshots[os.path.basename(path)] = path
        probe = sources_probe.run(os.path.join(WORK, "probe"), snapshots, args.seed)
        metrics = _layer_metrics(m, setups, cores, read_groups(os.path.join(WORK, "eventlog")), probe)
    else:
        key_medians = [statistics.median(v) for v in m["latency"].values() if v]
        metrics = {
            "setup_s": _metric(statistics.median(t for t, _ in setups), "s"),
            "pass_s": _metric(statistics.median(p["wall"] for p in m["passes"]), "s"),
            "query_geomean_s": _metric(math.exp(statistics.fmean(math.log(x) for x in key_medians)), "s"),
            "peak_rss_mb": _metric(m["peak_mb"], "MB"),
        }

    info = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": _nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "spark_cores": cores,
        "load_start": [round(x, 2) for x in load_start],
        "load_end": [round(x, 2) for x in os.getloadavg()],
        "spark_version": spark_version,
        "pyspark_version": pyspark.__version__,
        "python_version": platform.python_version(),
        "scale": wl.scale,
        "keys": len(wl.keys),
        "passes": len(m["passes"]),
        "pass_walls_s": [round(p["wall"], 3) for p in m["passes"]],
        "key_median_s": {k: round(statistics.median(v), 3) for k, v in m["latency"].items() if v},
        # With 5-10 samples a run, the pooled median and maximum are each
        # one key's latency, too noisy across runs to bound as metrics.
        "samples": len(samples),
        "query_p50_s": statistics.median(samples),
        "query_max_s": max(samples),
        "setup_reps_s": [round(t, 3) for t, _ in setups],
        "gate_s": round(gate_s, 3),
        "failed_frac": failed / attempted,
        "gate_failures": gate_failures,
        "run_errors": m["errors"],
        "leaked_rdds": leaked,
    }
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except Exception:
        traceback.print_exc()
        sys.exit(1)
