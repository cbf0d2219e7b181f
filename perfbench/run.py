"""Benchmark of example_beam_spark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload batch_sql --seed 1 --seconds 4 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed, starts the engine (``registry.load_registry`` and
``session.get_spark``), makes one cold pass over the workload's registry
queries or streaming drains, then warm passes until ``--seconds`` of warm
work are done (at least one). Each call is timed from the call of the
query's ``fn`` to its result written as parquet. The JVM is stopped, the
results are checked with DuckDB, and the last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and the metrics, which are
the end-to-end ones with ``--trace 0`` and the per-layer ones with
``--trace 1``. A traced run also prints one JSON record per query or drain
call before that line. Exit code 0 only when every output is correct.

Each run gets its own directory under ``perfbench/.runs/`` holding its
inputs, outputs, ``TMPDIR`` and ``SPARK_LOCAL_DIRS``; the run measures what
the program left in its temp dir, then deletes the directory.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import traceback

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))

# Every drain in these workloads reads through the flushed reader, which
# stages two far-future sentinel events behind the data
# (streaming/entries.py: read_events_stream_flushed).
SENTINELS = 2

WORKLOADS = {
    # Registry batch queries over generated TPC-H-ish, events, documents
    # and embeddings tables at 0.02 of the sf0.1 fixture's row counts.
    "batch_sql": {
        "kind": "batch",
        "sf": 0.02,
        "ops": [
            "q1_pricing_summary", "q3_top_revenue_orders", "sessionize_events",
            "dedup_minhash_lsh", "ann_topk_lsh", "embedding_neardup_pairs", "text_stats",
        ],
    },
    # One events file: each drain is one data micro-batch plus the flush.
    "stream_bulk": {
        "kind": "stream",
        "events": 100_000,
        "users": 1_500,
        "chunks": 1,
        "ops": ["ctr_custom_window_stream", "lookup_cache_join_stream"],
        "exact": {"ctr_custom_window_stream", "lookup_cache_join_stream"},
    },
    # Time-ordered part files: one micro-batch per file, the watermark
    # advancing between them. Not in BENCHMARK.json: its cold pass and
    # per-micro-batch floor do not fit the run budget (4 + 22 runs per
    # workload in under an hour) beside the other two; run it by name.
    "stream_microbatch": {
        "kind": "stream",
        "events": 30_000,
        "users": 450,
        "chunks": 2,
        "ops": ["lookup_cache_join_stream"],
        "exact": set(),
    },
}


def process_age_s() -> float:
    """Seconds since this process started (kernel start time), falling
    back to the time since this module began loading."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            up = float(f.read().split()[0])
        return up - start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.perf_counter() - _T0


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it: the JVM, its Python daemon and workers. A process
    that has exited counts through its parent's reaped-children times."""
    stats: dict[int, tuple[int, float]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        stats[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, top-level entries) under ``path``."""
    total = 0
    for dirpath, dirnames, filenames in os.walk(path):
        for name in dirnames + filenames:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                pass
    return total, len(os.listdir(path))


def hygiene(run_dir: str) -> dict[str, str]:
    """Pin the environment the program runs under: no EBS_* or
    SPARK_GRAFT_* knobs except the core count, a private TMPDIR and
    SPARK_LOCAL_DIRS, and the checkout on the workers' import path."""
    for k in list(os.environ):
        if k.startswith(("EBS_", "SPARK_GRAFT_")):
            del os.environ[k]
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # pyspark's Arrow serializer warns on every empty pandas frame
        "PYTHONWARNINGS": "ignore::FutureWarning",
    }
    for k in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.makedirs(env[k])
    os.environ.update(env)
    tempfile.tempdir = None
    return env


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    traced = bool(args.trace)

    if not os.path.isdir(os.path.join(ROOT, "example_beam_spark")):
        print(f"no example_beam_spark package under {ROOT}; run from the checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    run_dir = os.path.join(HERE, ".runs", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return run(args, wl, traced, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, wl: dict, traced: bool, run_dir: str) -> int:
    env = hygiene(run_dir)
    data_dir = os.path.join(run_dir, "data")
    out_dir = os.path.join(run_dir, "out")
    log_dir = os.path.join(run_dir, "eventlog")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # keep the JVM's temp files and perf counters out of /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData",
    }
    if traced:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
        })

    # ---- set-up: import, registry, session, one trivial job -------------
    t = time.perf_counter()
    from example_beam_spark import registry, session

    reg = registry.load_registry()
    import_s = time.perf_counter() - t
    t = time.perf_counter()
    spark = session.get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    spark.range(8).count()
    start_s = time.perf_counter() - t
    setup_s = process_age_s()

    import layers as tr
    from pyspark import SparkContext

    sc = spark.sparkContext
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    listener = tr.Progress()
    spark.streams.addListener(listener)
    stream_starts: list[float] = []
    if traced:
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        _start = DataStreamWriter.start

        def timed_start(self, *a, **k):
            stream_starts.append(time.perf_counter())
            return _start(self, *a, **k)

        DataStreamWriter.start = timed_start

    # ---- inputs (the benchmark's own work, not timed) ------------------
    import corpus

    os.makedirs(data_dir)
    if wl["kind"] == "batch":
        corpus.write_batch_tables(data_dir, args.seed, wl["sf"])
        corpus.write_events(data_dir, args.seed, int(1_000_000 * wl["sf"]),
                            int(15_000 * wl["sf"]))
        events_written = None
    else:
        events_written = corpus.write_events(
            data_dir, args.seed, wl["events"], wl["users"], wl["chunks"]
        )

    # ---- passes ----------------------------------------------------------
    records: list[dict] = []
    failed = 0
    errors: list[str] = []

    def call(name: str, p: int) -> None:
        nonlocal failed
        q = reg[name]
        dest = os.path.join(out_dir, f"p{p}", name)
        sc.setJobGroup(f"{name}#{p}", f"perfbench {name} pass {p}")
        mark = listener.mark()
        n_starts = len(stream_starts)
        rec = {"record": "drain" if wl["kind"] == "stream" else "query",
               "name": name, "pass": p, "start_ms": int(time.time() * 1000)}
        try:
            t0 = time.perf_counter()
            df = q.fn(spark, data_dir)
            t1 = time.perf_counter()
            if traced:
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            df.write.mode("overwrite").parquet(dest)
            t3 = time.perf_counter()
        except Exception:
            # counted in `failed`; `correct` speaks of the calls that ran
            failed += 1
            traceback.print_exc()
            return
        finally:
            rec["end_ms"] = int(time.time() * 1000)
            sc.setJobGroup("", "")
            registry.drain_cleanups()
        rec.update({"call_s": t1 - t0, "plan_s": t2 - t1, "action_s": t3 - t2,
                    "wall_s": t3 - t0, "out": dest})
        if wl["kind"] == "stream":
            prog = listener.since(mark, queries=1)
            rec["progress"] = prog
            rec.update(tr.drain_layers(prog))
            rec["streaming.outside_batches_ms"] = rec["wall_s"] * 1000 - rec["streaming.trigger_ms"]
            starts = stream_starts[n_starts:]
            rec["build_s"] = (starts[0] - t0) if starts else rec["call_s"]
        else:
            rec["build_s"] = rec["call_s"]
        records.append(rec)

    pass_cpu: list[float] = []

    def one_pass(p: int) -> float:
        t, c = time.perf_counter(), tree_cpu_s()
        for name in wl["ops"]:
            call(name, p)
        pass_cpu.append(tree_cpu_s() - c)
        return time.perf_counter() - t

    first_pass_s = one_pass(0)
    warm: list[float] = []
    warm_t0 = time.perf_counter()
    while not warm or time.perf_counter() - warm_t0 < args.seconds:
        warm.append(one_pass(len(warm) + 1))
    attempted = len(wl["ops"]) * (1 + len(warm))

    peak_mb = {"mem.jvm_peak_mb": vm_hwm_mb(jvm_pid), "mem.driver_peak_mb": vm_hwm_mb("self")}
    confs = {k: v for k, v in sc.getConf().getAll()
             if k.startswith(("spark.sql.", "spark.master", "spark.driver.memory",
                              "spark.eventLog.enabled", "spark.default"))}

    def phase(what: str) -> None:
        print(f"# {what} at {time.perf_counter() - _T0:.1f} s", file=sys.stderr, flush=True)

    phase("passes done")
    # ---- stop the engine and wait for the JVM to exit ------------------
    spark.streams.removeListener(listener)
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)

    phase("JVM exited")
    # ---- correctness ------------------------------------------------------
    import check

    con = check.connect(data_dir)
    by_name: dict[str, list[dict]] = {}
    for rec in records:
        by_name.setdefault(rec["name"], []).append(rec)
    for name, recs in by_name.items():
        first = recs[0]
        cold = check.read_result(con, first["out"])
        if wl["kind"] == "batch" or name in wl["exact"]:
            err = check.check_oracle(con, cold, reg[name].oracle, f"{name} vs oracle")
            if err:
                errors.append(err)
        else:
            errors += check.lookup_cache_properties(con, first["out"], name)
        for rec in recs[1:]:
            err = check.diff(check.read_result(con, rec["out"]), cold,
                             f"{name} pass {rec['pass']} vs pass 0")
            if err:
                errors.append(err)
        if wl["kind"] != "stream":
            continue
        expect_rows = events_written + SENTINELS
        for rec in recs:
            if rec["streaming.input_rows"] != expect_rows:
                errors.append(f"{name} pass {rec['pass']}: listener input rows "
                              f"{rec['streaming.input_rows']} != {expect_rows} staged")
            if rec["state.rows_dropped_late"]:
                errors.append(f"{name} pass {rec['pass']}: "
                              f"{rec['state.rows_dropped_late']} rows dropped as late")
    con.close()
    phase("checked")

    tmp_bytes, tmp_entries = dir_usage(env["TMPDIR"])
    tmp_left: dict[str, int] = {}
    for entry in os.listdir(env["TMPDIR"]):
        kind = entry[:-8] + "*"  # mkdtemp adds 8 random characters
        tmp_left[kind] = tmp_left.get(kind, 0) + 1
    for e in errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)

    # ---- metrics ----------------------------------------------------------
    warm_recs = [r for r in records if r["pass"] > 0]
    if wl["kind"] == "stream":
        emits = [p["durationMs"]["triggerExecution"] for r in warm_recs for p in r["progress"]]
    else:
        emits = [r["wall_s"] * 1000 for r in warm_recs]
    end_to_end = {"setup_s": (setup_s, "s"), "first_pass_cpu_s": (pass_cpu[0], "s")}
    # reported, not gated: wall times follow the host's speed, which drifts
    # by a quarter within minutes on a shared 4-core machine (see README)
    ungated = {"first_pass_s": first_pass_s, "warm_pass_s": statistics.median(warm),
               "warm_pass_cpu_s": statistics.median(pass_cpu[1:]),
               "emit_p50_ms": statistics.median(emits)}
    run_info = {
        "record": "run", "workload": args.workload, "seed": args.seed, "traced": traced,
        "cores": int(env["SPARK_GRAFT_CPUS"]), "warm_passes": len(warm),
        "events": events_written,
        "timings": {**{k: v for k, (v, _) in end_to_end.items()}, **ungated},
        **peak_mb, "tmp_left": tmp_left, "confs": confs,
    }
    print(json.dumps(run_info))
    if not traced:
        metrics = end_to_end
    else:
        layers = tr.event_log_layers(log_dir, [(r["start_ms"], r["end_ms"]) for r in records])
        for rec, lay in zip(records, layers):
            rec.update(lay)
        metrics = layer_metrics(records, len(warm), import_s, start_s, tmp_bytes, tmp_entries)
        metrics.update({k: (v, "MB") for k, v in peak_mb.items()})
    for rec in records:
        rec = {k: v for k, v in rec.items() if k not in ("progress", "out")}
        print(json.dumps({"workload": args.workload, "seed": args.seed, **rec}))
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if not errors else 1


# per-layer metric -> (record field it sums, unit)
LAYER_FIELDS = {
    "operators.build_s": ("build_s", "s"),
    "catalyst.plan_s": ("plan_s", "s"),
    "exec.run_s": ("action_s", "s"),
    "exec.jobs": ("exec.jobs", "count"),
    "exec.stages": ("exec.stages", "count"),
    "exec.tasks": ("exec.tasks", "count"),
    "exec.task_run_ms": ("exec.task_run_ms", "ms"),
    "exec.task_cpu_ms": ("exec.task_cpu_ms", "ms"),
    "exec.gc_ms": ("exec.gc_ms", "ms"),
    "exec.shuffle_read_bytes": ("exec.shuffle_read_bytes", "bytes"),
    "exec.shuffle_write_bytes": ("exec.shuffle_write_bytes", "bytes"),
    "exec.spill_bytes": ("exec.spill_bytes", "bytes"),
    "python.sent_bytes": ("python.sent_bytes", "bytes"),
    "python.returned_bytes": ("python.returned_bytes", "bytes"),
    "python.start_ms": ("python.start_ms", "ms"),
    "python.init_ms": ("python.init_ms", "ms"),
    "python.run_ms": ("python.run_ms", "ms"),
    "streaming.microbatches": ("streaming.microbatches", "count"),
    "streaming.queryPlanning_ms": ("streaming.queryPlanning_ms", "ms"),
    "streaming.walCommit_ms": ("streaming.walCommit_ms", "ms"),
    "streaming.commitOffsets_ms": ("streaming.commitOffsets_ms", "ms"),
    "streaming.latestOffset_ms": ("streaming.latestOffset_ms", "ms"),
    "streaming.getBatch_ms": ("streaming.getBatch_ms", "ms"),
    "streaming.addBatch_ms": ("streaming.addBatch_ms", "ms"),
    "streaming.input_rows": ("streaming.input_rows", "count"),
    "streaming.outside_batches_ms": ("streaming.outside_batches_ms", "ms"),
    "state.commit_ms": ("state.commit_ms", "ms"),
    "state.rows_updated": ("state.rows_updated", "count"),
    "state.rows_removed": ("state.rows_removed", "count"),
    "state.rows_dropped_late": ("state.rows_dropped_late", "count"),
}
# per-layer maxima within a pass
LAYER_MAX = {
    "state.rows_total_max": ("state.rows_total_max", "count"),
    "state.memory_bytes_max": ("state.memory_bytes_max", "bytes"),
}


def layer_metrics(records, warm_passes, import_s, start_s, tmp_bytes, tmp_entries):
    """Per-layer numbers of a traced run: each is the per-pass sum (or
    maximum) over the workload's calls, and the median of that over the
    warm passes; set-up and leftover-temp numbers are once per run."""
    out = {
        "registry.import_s": (import_s, "s"),
        "session.start_s": (start_s, "s"),
        "tmp.bytes_left": (tmp_bytes, "bytes"),
        "tmp.entries_left": (tmp_entries, "count"),
    }
    passes = range(1, warm_passes + 1)
    for metric, (field, unit), agg in (
        [(m, fu, sum) for m, fu in LAYER_FIELDS.items()]
        + [(m, fu, max) for m, fu in LAYER_MAX.items()]
    ):
        per_pass = [agg([r.get(field, 0) for r in records if r["pass"] == p] or [0])
                    for p in passes]
        out[metric] = (statistics.median(per_pass), unit)
    return out


if __name__ == "__main__":
    sys.exit(main())
