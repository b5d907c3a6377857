#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload analyst_sf0.01 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. One process, one
Spark session from ``celeborn_spark.session.get_spark`` with its
defaults on ``local[<cores>]``; the benchmark sets only the driver heap
(a sixteenth of ``MemTotal``, at least 1 GiB), the Spark UI (on for ``--trace 1``, whose
REST status API the trace reads) and scratch locations inside the
checkout (``.perfbench_work/``).

A run:

1. stamps contention: the 1-minute load average and the count of other
   live JVMs, before the session starts;
2. set-up: starts the session, generates the seeded input three times
   (the three copies must be byte-identical; the median is reported),
   and warms up: one pass whose outputs are collected and checked
   against each query's DuckDB oracle (tests/oracle.py), then one more
   untimed pass. For a replica workload the fidelity check runs first:
   each query's oracle row count on the replica against the 1x base;
3. measures the workload's pinned number of full passes over its query
   list, in a seed-shuffled order (more while ``--seconds`` have not
   passed). Every invocation builds the query and drives a sink that
   evaluates every output column: a ``noop`` write, or for the queries
   a workload writes, a zstd parquet write through
   ``sources.write_any`` and a read-back through ``read_any``. A query
   that raises is counted as failed and its time stays in the pass wall.

With ``--trace 1`` the run makes untraced, traced and untraced passes;
the traced pass records spans around each layer's calls and Spark's REST
counters, and the spans are written to ``.perfbench_work/``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics of
BENCHMARK.json, or with ``--trace 1`` its per-layer metrics).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
GEN_REPS = 3
TAIL_BEYOND = 10


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _check_layout() -> None:
    for rel in ("celeborn_spark/__init__.py", "tests/oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            _fail(f"{rel} not found under {ROOT}: run from a checkout of the repository")


def contention() -> tuple[float, int]:
    """1-minute load average and the number of live JVMs, sampled before
    the session starts (so every JVM counted belongs to someone else)."""
    jvms = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/comm") as fh:
                jvms += fh.read().strip() == "java"
        except OSError:
            continue
    return os.getloadavg()[0], jvms


def heap_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return max(1024, min(4096, int(line.split()[1]) // 1024 // 16))
    return 1024


def start_session(trace: bool, app: str):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    from celeborn_spark.session import get_spark

    heap = heap_mb()
    spark = get_spark(
        app_name=app,
        extra_conf={
            "spark.driver.memory": f"{heap}m",
            "spark.ui.enabled": "true" if trace else "false",
            # a fixed, pre-touched heap: the JVM's resident size then does
            # not depend on when the collector chose to grow the heap
            "spark.driver.extraJavaOptions": f"-Xms{heap}m -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p))
    out, todo = [], [pid]
    while todo:
        cur = todo.pop()
        out.append(cur)
        todo.extend(children.get(cur, []))
    return out


def peak_rss_mb() -> tuple[float, float]:
    """Peak resident memory (MB) of the driver JVM and of this Python
    process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    jvm_kb = max(jvm_kb, _vm_hwm_kb(pid))
        except OSError:
            continue
    return jvm_kb / 1024, py_kb / 1024


def _dir_digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def generate_inputs(w, seed: int) -> tuple[list[float], str, str | None, int]:
    """Generate the workload's input GEN_REPS times; return the
    generation times, the data dir, the 1x base dir (replicas only)
    and the input bytes."""
    from perfbench import gen

    times, digests = [], set()
    for rep in range(GEN_REPS):
        out = os.path.join(WORK, f"gen{rep}")
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        nbytes = gen.generate(os.path.join(out, "data"), seed, w.base_sf, w.copies)
        if w.copies > 1:
            gen.generate(os.path.join(out, "base"), seed, w.base_sf, 1)
        times.append(time.perf_counter() - t0)
        digests.add(_dir_digest(os.path.join(out, "data")))
    if len(digests) != 1:
        raise RuntimeError("input generation is not deterministic")
    out = os.path.join(WORK, f"gen{GEN_REPS - 1}")
    base = os.path.join(out, "base") if w.copies > 1 else None
    return times, os.path.join(out, "data"), base, nbytes


class _Rows:
    """A collected result, shaped for tests.oracle.assert_matches_oracle."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 - the DataFrame method name the oracle calls
        return self._pdf

    def execute(self, _sql):
        return self

    def fetchdf(self):
        return self._pdf


def tail_level(n: int) -> float:
    """Highest percentile with at least TAIL_BEYOND of ``n`` samples
    beyond it, never below the median."""
    return max(0.5, 1.0 - TAIL_BEYOND / n)


def percentile(values: list[float], q: float) -> float:
    """Linearly interpolated percentile (``q`` = 0.5 is the median)."""
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Runner:
    def __init__(self, spark, w, data_dir: str, tracer):
        from celeborn_spark.sources import io

        from perfbench.workloads import query_fns

        self.spark, self.w, self.data_dir, self.tracer = spark, w, data_dir, tracer
        self.io = io
        self.fns = query_fns()
        self.out_dir = os.path.join(WORK, "out")
        self.failed = 0
        self.attempted = 0

    def _out(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def sink(self, name: str, df) -> None:
        """Evaluate every output column of ``df``."""
        if name not in self.w.written:
            df.write.format("noop").mode("overwrite").save()
            return
        with self.tracer.span("sources.write", query=name):
            self.io.write_any(df, self._out(name), "parquet", "zstd")
        with self.tracer.span("sources.read_back", query=name):
            back = self.io.read_any(self.spark, self._out(name), "parquet")
            back.write.format("noop").mode("overwrite").save()

    def warm_and_check(self, oracle: dict, sqls: dict) -> tuple[dict[str, float], float, dict[str, int]]:
        """The untimed warm-up pass: run every query once, collect its
        output and compare it with the DuckDB oracle result."""
        from tests.oracle import assert_matches_oracle

        warm: dict[str, float] = {}
        check_s = 0.0
        rows: dict[str, int] = {}
        for name in self.w.queries:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                df = self.fns[name](self.spark, self.data_dir)
                if name in self.w.written:
                    self.io.write_any(df, self._out(name), "parquet", "zstd")
                    df = self.io.read_any(self.spark, self._out(name), "parquet")
                got = df.toPandas()
            except Exception as exc:  # a failing query is counted, not fatal
                self.failed += 1
                print(f"perfbench: {name} raised: {exc!r}"[:2000], file=sys.stderr)
                warm[name] = time.perf_counter() - t0
                continue
            t1 = time.perf_counter()
            warm[name] = t1 - t0
            rows[name] = len(got)
            try:
                assert_matches_oracle(_Rows(got), _Rows(oracle[name]), sqls[name], name)
            except AssertionError as exc:
                self.failed += 1
                print(f"perfbench: {name} does not match its oracle: {exc}"[:2000], file=sys.stderr)
            check_s += time.perf_counter() - t1
        return warm, check_s, rows

    def one_pass(self, order: list[str], traced: bool) -> tuple[float, dict[str, float], list[dict]]:
        """One full pass; returns its wall, per-query latency and the
        invocation spans (traced passes only)."""
        lat: dict[str, float] = {}
        spans = []
        was_enabled, self.tracer.enabled = self.tracer.enabled, traced
        t_pass = time.perf_counter()
        for name in order:
            self.attempted += 1
            t0 = time.perf_counter()
            with self.tracer.span("query", query=name) as inv:
                try:
                    with self.tracer.span("queries.build", query=name):
                        df = self.fns[name](self.spark, self.data_dir)
                    with self.tracer.span("sink", query=name):
                        self.sink(name, df)
                except Exception as exc:  # counted; its time stays in the pass
                    self.failed += 1
                    print(f"perfbench: {name} raised: {exc!r}"[:2000], file=sys.stderr)
            lat[name] = time.perf_counter() - t0
            if inv is not None:
                spans.append(inv)
        wall = time.perf_counter() - t_pass
        self.tracer.enabled = was_enabled
        return wall, lat, spans

    def written(self) -> tuple[int, int, int]:
        """(files, bytes, rows) of the parquet outputs of the last pass."""
        import pyarrow.parquet as pq

        files = nbytes = rows = 0
        for name in self.w.written:
            d = self._out(name)
            if not os.path.isdir(d):  # the query failed before writing
                continue
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    path = os.path.join(d, f)
                    files += 1
                    nbytes += os.path.getsize(path)
                    rows += pq.ParquetFile(path).metadata.num_rows
        return files, nbytes, rows


E2E_METRICS = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("query_p50_s", "s"),
    ("query_tail_s", "s"),
    ("peak_rss_mb", "MB"),
    ("rows_written_per_s", "1/s"),
)

# Per-layer metrics, per traced pass unless noted; the end-to-end metric
# each should move is in perfbench/README.md.
LAYER_METRICS = (
    ("session.get_spark_s", "s"),
    ("replica.generate_s", "s"),
    ("warmup_s", "s"),
    ("queries.build_s", "s"),
    ("catalog.load_table_calls", "count"),
    ("catalog.load_table_s", "s"),
    ("driver.gap_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("exec.run_s", "s"),
    ("exec.cpu_s", "s"),
    ("exec.gc_s", "s"),
    ("exec.offcpu_s", "s"),
    ("shuffle.write_mb", "MB"),
    ("shuffle.read_mb", "MB"),
    ("spill_mb", "MB"),
    ("sources.write_s", "s"),
    ("sources.read_back_s", "s"),
    ("sources.files_written", "count"),
    ("sources.bytes_written", "bytes"),
    ("sources.bytes_written_per_input_byte", "ratio"),
    ("streaming.run_s", "s"),
    ("pipeline.build_s", "s"),
    ("failed_frac", "ratio"),
    ("trace.overhead_s", "s"),
    ("host.load1", "load"),
    ("host.other_jvms", "count"),
    ("oracle.duckdb_s", "s"),
)
PER_QUERY_METRICS = (
    ("build_s", "s"),
    ("action_s", "s"),
    ("exec_cpu_s", "s"),
    ("shuffle_write_mb", "MB"),
)


def layer_metric_units() -> list[tuple[str, str]]:
    from perfbench.workloads import HEAVY

    per_query = [(f"{q}.{m}", u) for q in HEAVY.queries for m, u in PER_QUERY_METRICS]
    return list(LAYER_METRICS) + per_query


def busy_cores(sample_s: float = 0.5) -> float:
    """Cores kept busy by other processes, from /proc/stat over a short
    window (the load average still holds the previous run's load)."""

    def read():
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
        return vals[3] + vals[4], sum(vals)

    idle0, total0 = read()
    time.sleep(sample_s)
    idle1, total1 = read()
    busy = 1.0 - (idle1 - idle0) / max(1, total1 - total0)
    return busy * (os.cpu_count() or 1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _check_layout()
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS, oracle_sqls

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    w = WORKLOADS[args.workload]
    trace = bool(args.trace)

    load1, other_jvms = contention()
    busy = busy_cores()
    contaminated = other_jvms > 0 or busy > 0.5
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)

    from perfbench import fidelity
    from perfbench.trace import SparkStatus, Tracer, attribute

    tracer = Tracer(enabled=trace)
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = start_session(trace, f"perfbench-{w.name}")
    session_s = time.perf_counter() - t0
    try:
        from celeborn_spark import registry
        from tests.oracle import duck_connection

        registry.queries()  # import every query module before patching
        if trace:
            tracer.patch_layers()

        with tracer.span("replica.generate"):
            gen_times, data_dir, base_dir, input_bytes = generate_inputs(w, args.seed)
        gen_s = statistics.median(gen_times)

        sqls = oracle_sqls()
        t_duck = time.perf_counter()
        con = duck_connection(data_dir)
        oracle = {name: con.execute(sqls[name]).fetchdf() for name in w.queries}
        con.close()
        if w.fidelity:
            con1 = duck_connection(base_dir)
            rows_1x = {name: fidelity.row_count(con1, sqls[name]) for name in w.fidelity}
            con1.close()
            fidelity.check(rows_1x, {n: len(oracle[n]) for n in w.fidelity}, w.fidelity, w.copies)
        duck_s = time.perf_counter() - t_duck

        runner = Runner(spark, w, data_dir, tracer)
        order = list(w.queries)
        random.Random(args.seed).shuffle(order)
        with tracer.span("warmup"):
            warm, check_s, out_rows = runner.warm_and_check(oracle, sqls)
            # one more untimed pass: the JVM is still compiling hot code
            # after the first, and timed passes would trend faster
            warm_s = sum(warm.values()) + runner.one_pass(order, traced=False)[0]
        duck_s += check_s
        setup_s = session_s + gen_s + warm_s
        status = SparkStatus(spark.sparkContext) if trace else None
        walls: dict[bool, list[float]] = {False: [], True: []}
        per_query: dict[str, list[float]] = {n: [] for n in w.queries}
        inv_spans: list[dict] = []
        spark_work: dict[int, dict] = {}
        written: list[tuple[int, int, int]] = []
        t_measure = time.perf_counter()
        n_pass = 0
        # The workload's pinned number of full passes, more while
        # --seconds have not passed. A traced run alternates untraced and
        # traced passes, starting and ending untraced, so the still-warming
        # JVM speeds up the passes on both sides of a traced one alike.
        while (
            n_pass < (3 if trace else w.passes)
            or time.perf_counter() - t_measure < args.seconds
            or (trace and n_pass % 2 == 0)
        ):
            traced = trace and n_pass % 2 == 1
            since = time.time()
            wall, lat, spans = runner.one_pass(order, traced)
            walls[traced].append(wall)
            n_pass += 1
            written.append(runner.written())
            if traced:
                jobs, stages = status.settled(since)
                for s in tracer.spans:
                    if s["start"] >= since and s["name"] in ("query", "queries.build", "sink"):
                        spark_work[s["id"]] = attribute(s, jobs, stages)
                inv_spans.extend(spans)
            else:
                for n, v in lat.items():
                    per_query[n].append(v)
    finally:
        rss_jvm, rss_py = peak_rss_mb()
        stop_session(spark)

    lats = [v for vs in per_query.values() for v in vs]
    # the wall of a typical pass: every query at its median latency (a
    # burst of outside load in one pass moves one sample per query, not
    # the whole figure)
    wall_s = sum(statistics.median(vs) for vs in per_query.values())
    tail_q = tail_level(len(lats))
    # rows through the sinks per pass: parquet rows as written, plus the
    # noop-sunk queries' output rows (known from the warm-up pass)
    rows_per_pass = statistics.median(r for _, _, r in written) + sum(
        n for q, n in out_rows.items() if q not in w.written
    )
    failed_frac = runner.failed / runner.attempted
    print(f"workload {w.name} seed {args.seed}: {w.why}")
    print(
        f"setup_s includes: session start {session_s:.3f} s + input generation "
        f"{gen_s:.3f} s (median of {GEN_REPS}) + warm-up passes {warm_s:.3f} s; "
        f"excludes DuckDB oracle and fidelity work {duck_s:.3f} s"
    )
    print(
        f"latency samples n={len(lats)} over {len(walls[False])} untraced passes; "
        f"query_tail_s is p{100 * tail_q:.1f}"
    )
    for name in w.queries:
        timed = ", ".join(f"{v:.3f}" for v in per_query[name])
        print(f"  {name}: warm-up {warm.get(name, 0.0):.3f} s, timed [{timed}] s, {out_rows.get(name, 0)} rows")
    print(f"peak RSS: driver JVM {rss_jvm:.1f} MB, Python driver {rss_py:.1f} MB")
    print(f"failed_frac {failed_frac:.4f} ({runner.failed} of {runner.attempted} invocations)")
    print(
        f"contention: load1 {load1:.2f}, other JVMs {other_jvms}, busy cores {busy:.2f}"
        + (" -- CONTAMINATED run" if contaminated else "")
    )

    if trace:
        values = per_layer_values(
            w, tracer, inv_spans, spark_work, walls, session_s, gen_s, warm_s,
            written, input_bytes, failed_frac, load1, other_jvms, duck_s,
        )
        units = layer_metric_units()
        path = os.path.join(WORK, f"trace-{w.name}-{args.seed}.json")
        tracer.write(path)
        print(f"spans written to {path}")
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "query_p50_s": statistics.median(lats),
            "query_tail_s": percentile(lats, tail_q),
            "peak_rss_mb": rss_jvm + rss_py,
            "rows_written_per_s": rows_per_pass / wall_s,
        }
        units = list(E2E_METRICS)
    if sorted(values) != sorted(n for n, _ in units):
        _fail(f"metric names {sorted(values)} differ from the declared {sorted(n for n, _ in units)}")
    for name, unit in units:
        print(f"{name} = {values[name]:.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": {n: {"value": values[n], "unit": u} for n, u in units},
            }
        )
    )
    return 0


def per_layer_values(
    w, tracer, inv_spans, spark_work, walls, session_s, gen_s, warm_s,
    written, input_bytes, failed_frac, load1, other_jvms, duck_s,
) -> dict[str, float]:
    """Per-layer totals per traced pass (one run of the whole query
    list), plus per-query medians for the heavy_10x queries (0 on the
    workloads that do not run them)."""
    from perfbench.trace import PIPELINE_METHODS
    from perfbench.workloads import HEAVY

    n_traced = max(1, len(walls[True]))

    def work(key, spans):
        return sum(spark_work[s["id"]][key] for s in spans if s["id"] in spark_work)

    def per_pass(name):
        return tracer.total(name, inv_spans)[1] / n_traced

    run_s = work("run_s", inv_spans) / n_traced
    cpu_s = work("cpu_s", inv_spans) / n_traced
    files, nbytes = written[-1][:2]
    m = {
        "session.get_spark_s": session_s,
        "replica.generate_s": gen_s,
        "warmup_s": warm_s,
        "queries.build_s": per_pass("queries.build"),
        "catalog.load_table_calls": tracer.total("catalog.load_table", inv_spans)[0] / n_traced,
        "catalog.load_table_s": per_pass("catalog.load_table"),
        "driver.gap_s": work("gap_s", inv_spans) / n_traced,
        "spark.jobs": work("jobs", inv_spans) / n_traced,
        "spark.stages": work("stages", inv_spans) / n_traced,
        "spark.tasks": work("tasks", inv_spans) / n_traced,
        "exec.run_s": run_s,
        "exec.cpu_s": cpu_s,
        "exec.gc_s": work("gc_s", inv_spans) / n_traced,
        "exec.offcpu_s": run_s - cpu_s,
        "shuffle.write_mb": work("shuffle_write_mb", inv_spans) / n_traced,
        "shuffle.read_mb": work("shuffle_read_mb", inv_spans) / n_traced,
        "spill_mb": work("spill_mb", inv_spans) / n_traced,
        "sources.write_s": per_pass("sources.write"),
        "sources.read_back_s": per_pass("sources.read_back"),
        "sources.files_written": files,
        "sources.bytes_written": nbytes,
        "sources.bytes_written_per_input_byte": nbytes / input_bytes,
        "streaming.run_s": per_pass("streaming.run_stream_to_table"),
        "pipeline.build_s": sum(per_pass(f"pipeline.{m}") for m in PIPELINE_METHODS),
        "failed_frac": failed_frac,
        "trace.overhead_s": statistics.median(walls[True]) - statistics.median(walls[False]),
        "host.load1": load1,
        "host.other_jvms": other_jvms,
        "oracle.duckdb_s": duck_s,
    }

    def med(values):
        return statistics.median(values) if values else 0.0

    for name in HEAVY.queries:
        invs = [s for s in inv_spans if s["query"] == name]
        kids = [c for c in tracer.spans if c["parent"] in {s["id"] for s in invs}]
        m[f"{name}.build_s"] = med([c["end"] - c["start"] for c in kids if c["name"] == "queries.build"])
        m[f"{name}.action_s"] = med([c["end"] - c["start"] for c in kids if c["name"] == "sink"])
        m[f"{name}.exec_cpu_s"] = med([spark_work[s["id"]]["cpu_s"] for s in invs if s["id"] in spark_work])
        m[f"{name}.shuffle_write_mb"] = med(
            [spark_work[s["id"]]["shuffle_write_mb"] for s in invs if s["id"] in spark_work]
        )
    return m


if __name__ == "__main__":
    sys.exit(main())
