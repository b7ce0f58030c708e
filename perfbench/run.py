"""The engine's benchmark: one workload, seeded inputs, one JSON result line.

    python3 perfbench/run.py --workload sql_etl --seed 1 --seconds 12 --trace 0

Load shape: one Spark driver process on ``local[<cores>]`` and one client
thread that submits the workload's queries in a closed loop, so the next
query starts when the previous one has finished. Each query is run
through the engine's public entry points, ``QuerySpec.fn(spark, dir)``
followed by a ``noop`` write, as ``bench.py`` does.

A run:

1. generates the input tables from ``--seed`` (``datagen``; cached by
   seed and factor, generation time is reported apart from set-up);
2. sets up in a fresh JVM: ``build_session``, ``registry.load_all`` and
   ``WARMUP_PASSES`` untimed warm-up passes; ``setup_s`` is the time all
   of it takes, up to the first timed query;
3. runs timed passes over the key list until ``--seconds`` have passed
   and at least ``MIN_PASSES`` have run (on four cores the pass count
   binds: four passes take 14-20 s, so every run times the same passes);
4. checks every key's result against its registered DuckDB oracle with
   ``tools/parity.compare``. A mismatch or an exception is a failure;
   no key is ever skipped.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
counters (``layers.Tracer``), each the median over timed passes of a
per-pass sum. The full record, with every query of every pass, is
written to ``perfbench/.results/``.

Every run gets its own temporary directory (``TMPDIR``, Spark local
dirs, JVM tmpdir, working directory) inside ``perfbench/.runs/``: the
engine's sinks and streams write to fixed paths under the temporary
directory, so a shared one would let earlier runs change this one.
Hygiene counters are read before anything is cleaned, and the directory
is removed only once the run is over.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: timed passes per run at least: the first ones still run in a JVM that
#: is compiling hot code, and the median should land past them
MIN_PASSES = 4
#: untimed passes before the first timed one. The JVM is still compiling
#: hot planner and codegen paths long after the first pass: the pass after
#: it runs 25-65% slower than the third, by a share that differs run to
#: run, so a timed window that started there would carry that spread.
WARMUP_PASSES = 2
#: files of the engine the benchmark drives; without them it cannot run
REQUIRED = ("parquet_to_hyper_app_spark/registry.py", "tools/parity.py")

sys.path.insert(0, HERE)

import datagen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _isolate(run_dir: str) -> str:
    """Point every temporary path of this process, the JVM and the
    Python workers into ``run_dir``; returns the new ``TMPDIR``."""
    tmp = os.path.join(run_dir, "tmp")
    jvm_tmp = os.path.join(run_dir, "jvm-tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, jvm_tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={jvm_tmp} -XX:-UsePerfData" pyspark-shell'
    )
    os.chdir(run_dir)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return tmp


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _steal_ticks() -> int:
    """Clock ticks the hypervisor gave this machine's vCPUs to others."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait until every process the
    JVM started (Python workers) has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    spawned = _descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=15)
    except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 15
    while (alive := [p for p in spawned if _alive(p)]) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _setup(wl, data_dir: str) -> tuple[object, dict, dict[str, float]]:
    """Set up in a fresh JVM; returns (spark, specs, timings)."""
    t0 = time.perf_counter()
    from parquet_to_hyper_app_spark.session import build_session

    spark = build_session(f"perfbench-{wl.name}")
    t1 = time.perf_counter()
    from parquet_to_hyper_app_spark.registry import load_all

    specs = load_all()
    t2 = time.perf_counter()
    warmup: dict[str, list[float]] = {key: [] for key in wl.keys}
    for _ in range(WARMUP_PASSES):
        for key in wl.keys:
            q0 = time.perf_counter()
            try:
                specs[key].fn(spark, data_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - reported by the timed passes and the gate
                print(f"warm-up {key}: {type(e).__name__}: {str(e)[:200]}", file=sys.stderr)
            warmup[key].append(time.perf_counter() - q0)
    t3 = time.perf_counter()
    return spark, specs, {
        "session.build_s": t1 - t0,
        "registry.load_s": t2 - t1,
        "setup.warmup_s": t3 - t2,
        "setup_s": t3 - t0,
        "warmup_by_key": warmup,
    }


def _hygiene(spark, tmp: str) -> dict[str, float]:
    entries, size = 0, 0
    for base, dirs, files in os.walk(tmp):
        entries += len(dirs) + len(files)
        for f in files:
            try:
                size += os.lstat(os.path.join(base, f)).st_size
            except OSError:
                pass
    return {
        "hygiene.persisted_rdds": spark.sparkContext._jsc.getPersistentRDDs().size(),
        "hygiene.temp_views": sum(1 for t in spark.catalog.listTables() if t.isTemporary),
        "hygiene.tmp_entries": entries,
        "hygiene.tmp_mb": size / 2.0**20,
    }


def _run_query(spark, spec, data_dir: str, group: str, tracer) -> dict:
    spark.sparkContext.setJobGroup(group, spec.key)
    start_ms = int(time.time() * 1000)
    t0 = time.perf_counter()
    q: dict = {"key": spec.key, "ok": True}
    try:
        df = spec.fn(spark, data_dir)
        t1 = time.perf_counter()
        if tracer is not None:
            q["operators.build_jobs"] = tracer.jobs_since_last()
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        q["operators.build_s"] = t1 - t0
        q["operators.exec_s"] = t3 - t2
    except Exception as e:  # noqa: BLE001 - a failed query is counted, not fatal
        q["ok"] = False
        q["error"] = f"{type(e).__name__}: {str(e)[:300]}"
    q["wall_s"] = time.perf_counter() - t0
    if tracer is not None:
        q.update(tracer.collect(group, start_ms, int(time.time() * 1000)))
    return q


def _timed_passes(spark, specs, wl, data_dir: str, tmp: str, seconds: float, tracer) -> list[dict]:
    passes = []
    deadline = time.perf_counter() + seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
        n = len(passes)
        t0 = time.perf_counter()
        queries = [
            _run_query(spark, specs[k], data_dir, f"perfbench/{k}/{n}", tracer) for k in wl.keys
        ]
        passes.append({"wall_s": time.perf_counter() - t0, "queries": queries, **_hygiene(spark, tmp)})
    return passes


def _gate(spark, specs, wl, data_dir: str) -> tuple[dict[str, str | None], dict[str, float]]:
    """Oracle check of every key: key -> None when it matches, else why
    not; and the seconds each check took."""
    import duckdb

    from parquet_to_hyper_app_spark.catalog import TABLE_NAMES
    from tools.parity import compare, nonscalar_cells

    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out: dict[str, str | None] = {}
        seconds: dict[str, float] = {}
        for key in wl.keys:
            spec = specs[key]
            t0 = time.perf_counter()
            try:
                got = spec.fn(spark, data_dir).toPandas()
                bad = nonscalar_cells(got)
                if bad:
                    out[key] = f"non-scalar output columns {bad}"
                elif spec.oracle is None:
                    out[key] = None if len(got) else "no rows and no oracle"
                else:
                    errs = compare(key, got, con.execute(spec.oracle).df())
                    out[key] = "; ".join(errs) if errs else None
            except Exception as e:  # noqa: BLE001 - every key gets a verdict
                out[key] = f"{type(e).__name__}: {str(e)[:300]}"
            seconds[key] = time.perf_counter() - t0
        return out, seconds
    finally:
        con.close()


def _tail(samples: list[float]) -> tuple[float, int, int]:
    """Highest nearest-rank percentile with at least 10 samples above
    it: (value, percentile, sample count)."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 0, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= 10:
            return xs[rank - 1], p, n
    return statistics.median(xs), 50, n


def _geomean_of_key_medians(passes: list[dict]) -> float:
    """Geometric mean over keys of each key's median wall time (the way
    TPC-H's power metric summarises query times): every key weighs the
    same, whatever its length, and no single key sets the value."""
    by_key: dict[str, list[float]] = {}
    for p in passes:
        for q in p["queries"]:
            if q["ok"]:
                by_key.setdefault(q["key"], []).append(q["wall_s"])
    return math.exp(statistics.fmean(math.log(statistics.median(v)) for v in by_key.values()))


def _median_of(passes: list[dict], name: str) -> float:
    return statistics.median(sum(q.get(name, 0.0) for q in p["queries"]) for p in passes)


def _layers(passes: list[dict], setup: dict) -> dict[str, float]:
    from layers import COUNTERS

    out = {k: setup[k] for k in ("session.build_s", "registry.load_s", "setup.warmup_s")}
    for name in ("operators.build_s", "operators.build_jobs", "operators.exec_s", *COUNTERS):
        out[name] = _median_of(passes, name)
    out["operators.unaccounted_s"] = statistics.median(
        p["wall_s"] - sum(q.get("operators.build_s", 0.0) + q.get("operators.exec_s", 0.0) for q in p["queries"])
        for p in passes
    )
    out["sinks.write_amp"] = statistics.median(
        sum(q["sinks.output_bytes"] for q in p["queries"]) / max(sum(q["catalog.input_bytes"] for q in p["queries"]), 1.0)
        for p in passes
    )
    for h in ("hygiene.persisted_rdds", "hygiene.temp_views", "hygiene.tmp_entries", "hygiene.tmp_mb"):
        levels = [setup["after_warmup"][h]] + [p[h] for p in passes]
        out[h] = statistics.median(b - a for a, b in zip(levels, levels[1:]))
    out["tracing.pass_s"] = statistics.median(p["wall_s"] for p in passes)
    return out


def _groups(wl, passes: list[dict]) -> dict[str, dict[str, float]]:
    """Per key-family medians of the headline layer counters and their
    share of the family's wall time."""
    out = {}
    for group, keys in wl.groups.items():
        rows = [[q for q in p["queries"] if q["key"] in keys] for p in passes]
        wall = statistics.median(sum(q["wall_s"] for q in r) for r in rows)
        g = {"wall_s": wall}
        for name in ("operators.build_s", "operators.exec_s", "scheduler.driver_gap_s", "scheduler.task_s", "scheduler.jobs", "scheduler.stages"):
            g[name] = statistics.median(sum(q.get(name, 0.0) for q in r) for r in rows)
        g["driver_gap_share"] = g["scheduler.driver_gap_s"] / wall if wall else 0.0
        g["task_share_per_core"] = g["scheduler.task_s"] / len(os.sched_getaffinity(0)) / wall if wall else 0.0
        out[group] = g
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources not found next to {HERE}: {missing}", file=sys.stderr)
        return 2
    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    data_dir, gen_s, cached = datagen.ensure(os.path.join(HERE, ".cache"), args.seed, wl.factor)
    run_dir = os.path.join(HERE, ".runs", f"{wl.name}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = _isolate(run_dir)
    try:
        spark, specs, setup = _setup(wl, data_dir)
        try:
            setup["after_warmup"] = _hygiene(spark, tmp)
            tracer = None
            if args.trace:
                from layers import Tracer

                tracer = Tracer(spark)
            steal0, timed0 = _steal_ticks(), time.perf_counter()
            passes = _timed_passes(spark, specs, wl, data_dir, tmp, args.seconds, tracer)
            steal_cpus = (_steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK") / (time.perf_counter() - timed0)
            rss_mb = _vm_hwm_mb(spark.sparkContext._gateway.proc.pid) + _vm_hwm_mb(os.getpid())
            gate, gate_s = _gate(spark, specs, wl, data_dir)
        finally:
            _stop(spark)
    finally:
        os.chdir(HERE)
        shutil.rmtree(run_dir, ignore_errors=True)

    walls = [q["wall_s"] for p in passes for q in p["queries"] if q["ok"]]
    if not walls:
        errors = sorted({q["error"] for p in passes for q in p["queries"]})
        print(f"perfbench: no query of {wl.name} completed: {errors}", file=sys.stderr)
        return 1
    failed_runs = sum(not q["ok"] for p in passes for q in p["queries"])
    mismatches = {k: v for k, v in gate.items() if v is not None}
    attempted = sum(len(p["queries"]) for p in passes) + len(gate)
    failed = failed_runs + len(mismatches)
    tail, tail_pct, n = _tail(walls)
    p50 = statistics.median(walls)
    e2e = {
        "setup_s": (setup["setup_s"], "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in passes), "s"),
        "query_geomean_s": (_geomean_of_key_medians(passes), "s"),
    }
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": len(os.sched_getaffinity(0)),
        "factor": wl.factor,
        "gen_s": gen_s,
        "gen_cached": cached,
        "setup": setup,
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "query_p50_s": p50,
        "peak_rss_mb": rss_mb,
        "steal_cpus": steal_cpus,
        "query_tail_s": tail,
        "query_tail_percentile": tail_pct,
        "query_samples": n,
        "error_rate": failed / attempted,
        "gate": gate,
        "gate_s": gate_s,
        "failed_queries": [(q["key"], q["error"]) for p in passes for q in p["queries"] if not q["ok"]],
        "passes": passes,
    }
    if args.trace:
        layers = _layers(passes, setup)
        layers["memory.peak_rss_mb"] = rss_mb
        record["per_layer"] = layers
        record["groups"] = _groups(wl, passes)
        from layers import RECORD_ONLY

        metrics = {
            k: {"value": v, "unit": _unit(k)} for k, v in layers.items() if k not in RECORD_ONLY
        }
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    results = os.path.join(HERE, ".results")
    os.makedirs(results, exist_ok=True)
    path = os.path.join(results, f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)

    print(
        f"{wl.name} seed={args.seed}: {len(passes)} passes, {n} queries, "
        f"setup {e2e['setup_s'][0]:.2f}s, pass {e2e['pass_s'][0]:.2f}s, "
        f"query geomean {e2e['query_geomean_s'][0]:.3f}s, p50 {p50:.3f}s, tail p{tail_pct} of {n} {tail:.3f}s, "
        f"peak RSS {rss_mb:.0f} MB, steal {steal_cpus:.2f} CPUs, error_rate {failed}/{attempted}, "
        f"inputs {gen_s:.2f}s{' (cached)' if cached else ''}"
    )
    for key, why in mismatches.items():
        print(f"oracle mismatch {key}: {why}")
    print("pass walls: " + " ".join(f"{p['wall_s']:.2f}" for p in passes))
    print(f"record: {os.path.relpath(path, ROOT)}")
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("write_amp"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
