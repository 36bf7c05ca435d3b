"""Run one workload: load it several times, warm up, measure a closed loop
of ops for a fixed time, check every result, and assemble the metrics.

A workload class takes a ``Context`` and provides ``load()`` (create and
fill its tables), ``next_op(i) -> Op``, ``final_checks() -> [error]``,
``live_rows()`` and ``close()``, and the attributes ``block`` (ops in one
full mix, run as the warm-up; the timed phase ends on a block boundary),
``cycle`` (ops that are traced or untraced together) and ``tail_q`` (the percentile reported as ``tail_s``)."""

from __future__ import annotations

import os
import shutil
import signal
import statistics
import sys
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from . import procfs
from .stats import (OpWindow, classify_tree, cpu_diff,
                    highest_supported_percentile, kind_matched_means,
                    percentile, self_time, supports, tree_cpu)
from .tracing import (SparkStatus, Tracer, data_files, top_level,
                      view_cache_hits)

# Loads per run (each in its own JVM); setup_s uses their median.
SETUPS = 2
# Blocks of the mix run as the warm-up. JIT compilation in a fresh JVM
# makes the first three or four blocks cost up to half again as much CPU
# as later ones; the timed phase starts after they have run.
WARM_BLOCKS = 4

# Spans of calls into ``functions`` / ``operators`` reported per layer
# (as ``<name>_s``); the pipeline workload records them.
CALL_SPANS = ("functions.minhash_lsh_pairs", "functions.connected_components",
              "functions.ngram_jaccard_prefix_pairs", "functions.kmeans",
              "operators.exact_quantiles_auto", "functions.epoch_plan",
              "functions.bpe_train", "functions.brute_force_topk_auto")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


@dataclass
class Op:
    """One client request. ``run`` is timed; ``check`` (untimed) returns an
    error message or None; ``size`` gives the response bytes."""
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], str | None]
    input_bytes: int = 0
    writes: bool = False
    size: Callable[[Any], int] | None = None


@dataclass
class OpRecord:
    index: int
    kind: str
    latency: float
    cpu: dict
    traced: bool
    error: str | None = None
    resp_bytes: int = 0
    input_bytes: int = 0
    writes: bool = False
    new_bytes: int = 0
    new_files: int = 0
    costs: dict = field(default_factory=dict)
    self_s: float = 0.0
    spans: list = field(default_factory=list)


@dataclass
class Context:
    spark: Any
    engine: Any
    rundir: str
    warehouse: str
    seed: int
    tracer: Tracer


def spark_conf(rundir: str) -> dict:
    """Session settings that keep every file the JVM writes inside the run
    directory and bind nothing beyond loopback. Cores, shuffle partitions
    and heap come from the SPARK_GRAFT_* variables ``get_spark`` reads."""
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.local.dir": os.path.join(rundir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(rundir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={rundir}",
    }


def start_session(rundir: str):
    from keboola_storage_duckdb_spark.session import get_spark
    spark = get_spark(app_name="perfbench", extra_conf=spark_conf(rundir))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _tree_pids(root: int) -> list[tuple[int, int]]:
    procs = procfs.snapshot()
    return [(pid, procs[pid].start) for pid in classify_tree(procs, root)
            if pid != root]


def stop_session(spark) -> None:
    """Stop the session and its JVM, then wait for every process the JVM
    started (PySpark daemon and workers) to end."""
    from pyspark import SparkContext
    children = _tree_pids(os.getpid())
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()      # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 20
    for pid, start in children:
        while True:
            st = procfs.read_stat(pid)
            if st is None or st.start != start:
                break
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)
            try:                    # reap it if it is our own child
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def _jvm_pid() -> int | None:
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def run_workload(workload_cls, seed: int, seconds: float, trace: bool,
                 rundir: str, spans_path: str | None = None) -> dict:
    from keboola_storage_duckdb_spark.engine import StorageEngine

    # Set-up is loading (session start, data generation, tables) and a
    # warm-up: WARM_BLOCKS blocks of the workload's mix, each of which holds
    # every op kind. Loading is repeated SETUPS times, each in a fresh JVM,
    # and the last is kept; the warm-up runs once, in the kept session,
    # since a repeated warm-up in one JVM would no longer be one.
    load_times, start_times = [], []
    wl = ctx = None
    for rep in range(SETUPS):
        t0 = time.perf_counter()
        spark = start_session(rundir)
        start_times.append(time.perf_counter() - t0)
        wh = os.path.join(rundir, f"warehouse{rep}")
        tracer = Tracer()
        engine = StorageEngine(spark, wh)
        if trace:
            tracer.wrap_engine(engine)
        ctx = Context(spark, engine, rundir, wh, seed, tracer)
        wl = workload_cls(ctx)
        wl.load()
        load_times.append(time.perf_counter() - t0)
        log(f"load {rep}: {load_times[-1]:.2f} s "
            f"(session start {start_times[-1]:.2f} s)")
        if rep < SETUPS - 1:
            wl.close()
            stop_session(spark)
            shutil.rmtree(wh, ignore_errors=True)
    try:
        t0 = time.perf_counter()
        for j in range(WARM_BLOCKS * wl.block):
            op = wl.next_op(j)
            err = op.check(op.run())
            if err:
                raise RuntimeError(f"warm-up {op.kind}: {err}")
        warm_s = time.perf_counter() - t0
        log(f"warm-up: {warm_s:.2f} s")
        records = _measure(wl, ctx, seconds, trace)
        final_errors = wl.final_checks()
        stored = sum(data_files(ctx.warehouse).values()) / wl.live_rows()
        me = os.getpid()
        rss = procfs.peak_rss_mb(me) + procfs.peak_rss_mb(_jvm_pid())
    finally:
        wl.close()
        stop_session(ctx.spark)
    if trace and spans_path:
        ctx.tracer.dump(spans_path, [
            {k: v for k, v in vars(r).items() if k != "spans"}
            for r in records])

    for r in records:
        if r.error:
            log(f"op {r.index} {r.kind} FAILED: {r.error}")
    for e in final_errors:
        log(f"final check FAILED: {e}")
    failed = sum(1 for r in records if r.error) + (1 if final_errors else 0)
    lat = [r.latency for r in records]
    n = len(lat)
    sup = highest_supported_percentile(n)
    log(f"{n} ops in {sum(lat):.2f} s busy; highest supported percentile "
        f"{sup and f'p{sup}'}; tail reported at p{wl.tail_q}")
    kinds: dict[str, list[float]] = {}
    for r in records:
        kinds.setdefault(r.kind, []).append(r.latency)
    for k, v in sorted(kinds.items()):
        log(f"  {k:28s} n={len(v):3d} median {statistics.median(v):.3f} s"
            f"  mean {_mean(v):.3f} s  max {max(v):.3f} s")
    if trace:
        metrics = _layer_metrics(records, start_times)
        metrics["setup.load_s"] = (statistics.median(load_times), "s")
        metrics["setup.warm_up_s"] = (warm_s, "s")
        metrics["proc.peak_rss_mb"] = (rss, "MB")
    else:
        metrics = {
            "setup_s": (statistics.median(load_times) + warm_s, "s"),
            "ops_per_s": (n / sum(lat), "1/s"),
            "p50_s": (percentile(lat, 50), "s"),
            "tail_s": (percentile(lat, wl.tail_q), "s"),
            "cpu_s_per_op": (sum(r.cpu["total"] for r in records) / n, "s"),
            "stored_bytes_per_row": (stored, "B"),
        }
    # the end-of-run verification counts as one more checked op
    return {"correct": failed == 0, "attempted": n + 1, "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def _measure(wl, ctx: Context, seconds: float, trace: bool
             ) -> list[OpRecord]:
    """The timed closed loop: one op at a time until ``seconds`` elapse
    and the current block of ``wl.block`` ops is complete, so every run
    holds whole blocks, the same mix of op kinds. It goes on while the
    ops are too few to support the ``wl.tail_q`` percentile. In a traced
    run every other group of ``wl.cycle`` ops is traced and the rest run
    untraced, which measures the tracing overhead."""
    me = os.getpid()
    tracer = ctx.tracer
    status = SparkStatus(ctx.spark) if trace else None
    locks = ctx.engine.catalog.locks
    records = []
    t_phase = time.perf_counter()
    i = 0
    # whole blocks; a traced run holds a traced and an untraced group
    while (time.perf_counter() - t_phase < seconds or i % wl.block
           or not supports(i, wl.tail_q) or (trace and i < 2 * wl.cycle)):
        op = wl.next_op(i)
        traced = trace and (i // wl.cycle) % 2 == 0
        files0 = data_files(ctx.warehouse) if traced and op.writes else None
        if traced:
            status.drain()
            j0 = status.next_job_id()
            lock0 = locks.wait_seconds
            tracer.op = i
            tracer.active = True
        c0 = tree_cpu(procfs.snapshot(), me)
        w0 = time.time()
        t0 = time.perf_counter()
        err = None
        try:
            res = op.run()
        except Exception as e:   # a failed op is counted, the loop goes on
            res, err = None, f"{type(e).__name__}: {e}"
        lat = time.perf_counter() - t0
        w1 = time.time()
        c1 = tree_cpu(procfs.snapshot(), me)
        tracer.active = False
        rec = OpRecord(i, op.kind, lat, cpu_diff(c0, c1), traced,
                       input_bytes=op.input_bytes, writes=op.writes)
        if traced:
            status.drain()
            rec.costs = status.op_costs(
                OpWindow(i, w0, w1, j0, status.next_job_id()))
            rec.costs["lock_wait_s"] = locks.wait_seconds - lock0
            rec.self_s = self_time(w0, w1, rec.costs["intervals"])
            rec.spans = tracer.op_spans(i)
            if files0 is not None:
                files1 = data_files(ctx.warehouse)
                new = [p for p in files1 if p not in files0]
                rec.new_files = len(new)
                rec.new_bytes = sum(files1[p] for p in new)
        if err is None:
            try:
                err = op.check(res)
            except Exception as e:
                err = f"check raised {type(e).__name__}: {e}"
            if err is None and op.size is not None:
                rec.resp_bytes = op.size(res)
        rec.error = err
        records.append(rec)
        i += 1
    return records


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _layer_metrics(records: list[OpRecord], start_times) -> dict:
    tr = [r for r in records if r.traced]
    un = [r for r in records if not r.traced]
    spans = [s for r in tr for s in r.spans]
    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (statistics.median(start_times), "s")

    m["catalog.lock_wait_s"] = (sum(r.costs["lock_wait_s"] for r in tr), "s")
    imports = [r for r in tr if r.writes and r.input_bytes]
    in_bytes = sum(r.input_bytes for r in imports)
    m["catalog.bytes_written_per_input_byte"] = (
        sum(r.new_bytes for r in imports) / in_bytes if in_bytes else 0.0,
        "ratio")
    writes = [r for r in tr if r.writes]
    m["catalog.files_written_per_op"] = (
        _mean([r.new_files for r in writes]), "count")

    eng = top_level(spans, "engine.")
    for meth in ("import_file", "delete_rows", "preview", "preview_arrow",
                 "execute_query", "profile"):
        m[f"engine.{meth}_p50_s"] = (_median(
            [s["end"] - s["start"] for s in eng
             if s["name"] == f"engine.{meth}"]), "s")
    hits, calls = view_cache_hits(spans)
    m["engine.view_cache_hit_ratio"] = (hits / calls if calls else 0.0,
                                        "ratio")

    def overhead(prefix):
        out = []
        for r in tr:
            if r.kind.startswith(prefix):
                inner = sum(s["end"] - s["start"]
                            for s in top_level(r.spans, "engine."))
                out.append(r.latency - inner)
        return _median(out)
    m["service.rest_overhead_s"] = (overhead("rest."), "s")
    m["service.pgwire_overhead_s"] = (overhead("pg."), "s")
    m["service.response_bytes_per_req"] = (_mean(
        [r.resp_bytes for r in tr if r.kind.startswith(("rest.", "pg."))]),
        "B")

    for name in CALL_SPANS:
        m[f"{name}_s"] = (_median([s["end"] - s["start"] for s in spans
                                   if s["name"] == name]), "s")

    n = len(tr)
    for key, metric, unit in (
            ("jobs", "spark.jobs_per_op", "count"),
            ("stages", "spark.stages_per_op", "count"),
            ("tasks", "spark.tasks_per_op", "count"),
            ("run_s", "spark.executor_run_s_per_op", "s"),
            ("cpu_s", "spark.executor_cpu_s_per_op", "s"),
            ("shuffle_write_bytes", "spark.shuffle_write_bytes_per_op", "B"),
            ("input_bytes", "spark.input_bytes_per_op", "B"),
            ("output_bytes", "spark.output_bytes_per_op", "B"),
            ("result_bytes", "spark.result_bytes_per_op", "B")):
        m[metric] = (sum(r.costs[key] for r in tr) / n, unit)
    m["driver.self_s_per_op"] = (_mean([r.self_s for r in tr]), "s")
    for cat, metric in (("jvm", "proc.jvm_cpu_s_per_op"),
                        ("worker", "proc.pyworker_cpu_s_per_op"),
                        ("driver", "proc.driver_py_cpu_s_per_op")):
        m[metric] = (_mean([r.cpu[cat] for r in tr]), "s")

    # traced and untraced ops hold different mixes of kinds; compare them
    # per kind, weighted alike
    t_mean, u_mean = kind_matched_means([(r.kind, r.latency) for r in tr],
                                        [(r.kind, r.latency) for r in un])
    m["trace.traced_ops_per_s"] = (1.0 / t_mean, "1/s")
    m["trace.untraced_ops_per_s"] = (1.0 / u_mean, "1/s")
    m["trace.overhead_frac"] = (t_mean / u_mean - 1.0, "ratio")
    return m
