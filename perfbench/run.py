"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload tpch_sf01 --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload stream_events --seed 1 --seconds 12 --repeat 5

Run from the root of a checkout of the repository.  The benchmark derives
its inputs for ``--seed`` from the fixture tables in ``perfbench/fixtures``
under ``.perfbench_run/`` in the checkout, starts the engine's session on
every core the process may use but one, runs the workload as a closed loop with one
client (the next op starts when the previous one has returned), checks every
result against DuckDB, and deletes its inputs again.  Nothing outside the
checkout is read or written.

The last line of standard output is one JSON object::

    {"correct": true, "attempted": 40, "failed": 0,
     "metrics": {"setup_s": {"value": 2.1, "unit": "s"}, ...}}

With ``--trace 0`` it holds the end-to-end metrics of ``BENCHMARK.json``;
with ``--trace 1`` the per-layer metrics, read from Spark's status store,
status tracker and streaming progress, and the spans of the run are written
to ``.perfbench_run/trace-<workload>-<seed>.json``.  The line before it is
the full record of the run, with ``error_rate``: failed ops and wrong results
over ops attempted.

``--repeat N`` (N >= 5) runs two sets of N untraced runs and one traced run
each, for one workload and seed, and prints each end-to-end metric's median and spread
next to its bound, and whether the deterministic counters repeated exactly.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


def _process_age_s() -> float:
    """Seconds since this process started, from ``/proc/self/stat``."""
    with open("/proc/self/stat") as f:
        started = int(f.read().rsplit(")", 1)[1].split()[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - started


T0 = time.perf_counter() - _process_age_s()  # process start on the perf_counter clock
ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_run"
sys.path.insert(0, str(Path(__file__).resolve().parent))

import harvest  # noqa: E402
import inputs  # noqa: E402
import oracle  # noqa: E402
from workloads import MOVES, WORKLOADS, QueryWorkload, StreamWorkload  # noqa: E402

# Driver heap for the engine's session; the engine's own default is sized
# for far larger hosts than the one the benchmark shares.
DRIVER_MEMORY = "2g"
FAR_FUTURE = "2031-01-01 00:00:00"
# FAR_FUTURE less the 2-hour watermark delay of streaming.ops.sessionized.
FLUSHED_WATERMARK = "2030-12-31T22:00:00"
SENTINEL_USER = -1
# Counters that must repeat exactly for one seed (checked by --repeat).
DETERMINISTIC = (
    "catalog.rows_read",
    "operators.rows_out",
    "operators.shuffle_records",
    "queries.executions",
    "queries.build_executions",
    "udf.rows_to_python",
    "streaming.batches",
)


def prepare_env(run_dir: Path) -> int:
    """Point every scratch directory of Spark, the JVM and Python at
    ``run_dir`` and size the session to the cores this process may use,
    less one."""
    # The last core is left to the threads outside the task pool: the
    # stream's execution thread, the scheduler, JIT compilation, GC, py4j
    # and the Python client.  With a task thread on every core of a 4-vCPU
    # shared host, tpch_sf01's timed passes took 26-49% longer than with
    # three in four of six paired seeds, and as long in the other two.
    cpus = max(1, len(os.sched_getaffinity(0)) - 1)
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    pythonpath = [str(ROOT)] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
            "TMPDIR": str(tmp),
            # Python workers import the engine's modules too.
            "PYTHONPATH": os.pathsep.join(pythonpath),
            "SPARK_SUBMIT_OPTS": f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} -Djava.io.tmpdir={tmp}".strip(),
        }
    )
    tempfile.tempdir = None
    return cpus


class Engine:
    """The engine's public entry points and one live session of it."""

    def __init__(self, cpus: int):
        sys.path.insert(0, str(ROOT))
        from cudf_spark.queries import REGISTRY
        from cudf_spark.session import get_spark
        from cudf_spark.streaming import ops

        self.registry, self._get_spark, self.ops = REGISTRY, get_spark, ops
        self.cpus = cpus
        self.spark = None

    def start(self) -> float:
        """Launch the JVM and start the session; returns seconds taken."""
        t0 = time.perf_counter()
        self.spark = self._get_spark("perfbench")
        took = time.perf_counter() - t0
        self.check_cores()
        return took

    def check_cores(self) -> None:
        parallelism = self.spark.sparkContext.defaultParallelism
        partitions = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        if not self.cpus == parallelism == partitions:
            raise RuntimeError(
                f"session disagrees with the host: cpus={self.cpus}, "
                f"defaultParallelism={parallelism}, spark.sql.shuffle.partitions={partitions}"
            )

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def peak_rss_mb(self) -> float:
        for line in Path(f"/proc/{self.jvm_pid()}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM in the JVM's /proc status")

    def isolate(self) -> None:
        """Drop what one op left behind so the next op does not pay for it:
        cached tables, localCheckpoint blocks and temporary views."""
        spark = self.spark
        spark.catalog.clearCache()
        rdds = spark.sparkContext._jsc.sc().getPersistentRDDs().values().iterator()
        while rdds.hasNext():
            rdds.next().unpersist(False)
        for t in spark.catalog.listTables():
            if t.isTemporary:
                spark.catalog.dropTempView(t.name)

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait until the JVM has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def tail(values: list[float]) -> dict | None:
    """The highest sample with at least ten samples above it, with its
    percentile and the sample count; ``None`` below eleven samples."""
    if len(values) < 11:
        return None
    ranked = sorted(values)
    k = len(ranked) - 11
    return {"ms": ranked[k], "percentile": 100.0 * (k + 1) / len(ranked), "n": len(ranked)}


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


class Run:
    """State shared by both kinds of workload within one run."""

    def __init__(self, args, engine: Engine, run_dir: Path):
        self.args = args
        self.engine = engine
        self.run_dir = run_dir
        self.rng = random.Random(args.seed)
        self.tracer = harvest.Tracer(bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layers: dict[str, float] = defaultdict(float)
        self.harvest_s = 0.0
        self.phases: dict[str, float] = {}
        self.store: harvest.StatusStore | None = None
        self.setup_s = 0.0

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        print(f"FAILED {what}", file=sys.stderr, flush=True)

    @contextmanager
    def phase(self, name: str):
        """Add the wall time of the block to ``phases[name]``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    def start(self) -> None:
        """Launch the JVM and start the session.  Set-up time counts from
        process start to here, plus the warm-up op of :meth:`warm_up`; the
        preparation of inputs in between is not counted."""
        self.layers["session.start_s"] = self.engine.start()
        self.setup_s = time.perf_counter() - T0
        self.phases["imports"] = self.setup_s - self.layers["session.start_s"]

    def warm_up(self, warm_op) -> None:
        with self.phase("warm_op"):
            warm_op()
        self.setup_s += self.phases["warm_op"]
        if self.args.trace:
            self.store = harvest.StatusStore(self.engine.spark)

    def add_counters(self, execs: list[harvest.Execution]) -> None:
        for k, v in harvest.layer_counters(execs).items():
            self.layers[k] = max(self.layers[k], v) if k == "operators.peak_mem_mb" else self.layers[k] + v
        self.layers["queries.executions"] += len(execs)

    def harvest_op(self, op: str, group: str, parent: int | None, t_op: float, t_built: float, t_done: float, counted: bool) -> None:
        """Read one op's executions and jobs and record its spans."""
        h0 = time.perf_counter()
        execs = self.store.new_executions()
        jobs, stages, tasks = harvest.job_counts(self.engine.spark.sparkContext, group)
        op_span = self.tracer.add("op", t_op, t_done, parent, op)
        build_span = self.tracer.add("build", t_op, t_built, op_span, op)
        action_span = self.tracer.add("action", t_built, t_done, op_span, op)
        for e in execs:
            self.tracer.add("sql", e.start, e.end, build_span if e.start < t_built else action_span, op)
        if counted:
            self.add_counters(execs)
            self.layers["queries.build_executions"] += sum(1 for e in execs if e.start < t_built)
            self.layers["queries.jobs"] += jobs
            self.layers["queries.stages"] += stages
            self.layers["queries.tasks"] += tasks
        self.harvest_s += time.perf_counter() - h0

    def self_time_layers(self, passes: float) -> None:
        """Per-pass self time of each span kind."""
        selfs = self.tracer.self_times()
        self.layers["queries.build_self_s"] = selfs.get("build", 0.0) / passes
        self.layers["queries.action_self_s"] = selfs.get("action", 0.0) / passes
        self.layers["queries.sql_s"] = selfs.get("sql", 0.0) / passes
        self.layers["trace.harvest_s"] = self.harvest_s / passes


def run_queries(run: Run, w: QueryWorkload) -> dict:
    engine, args = run.engine, run.args
    run.start()
    data_dir = run.run_dir / "data" if w.tpch else inputs.FIXTURES
    with run.phase("inputs"):
        if w.tpch:
            inputs.tpch_copy(data_dir, args.seed)
        duck = oracle.connect(data_dir, run.run_dir / "tmp")
        expected = {q: duck.execute(engine.registry[q].oracle).arrow() for q in w.queries}
        duck.close()
    sf_dir = str(data_dir)

    def warm_op() -> None:
        engine.registry[w.warm_op].build(engine.spark, sf_dir).write.format("noop").mode("overwrite").save()
        engine.isolate()

    run.warm_up(warm_op)

    # Warm pass: each query once, its result checked against DuckDB.
    with run.phase("warm"):
        for q in w.queries:
            run.attempted += 1
            try:
                got = engine.registry[q].build(engine.spark, sf_dir).toArrow()
            except Exception as exc:  # a failed query is counted, the run goes on
                run.fail(f"{q}: {type(exc).__name__}: {exc}"[:500])
                continue
            finally:
                engine.isolate()
            reason = oracle.mismatch(got, expected[q])
            if reason:
                run.fail(f"{q}: wrong result: {reason}")
    run.layers["session.warm_pass_s"] = run.phases["warm"]
    if run.store:
        run.store.skip()

    # Timed passes: as many whole passes as fit in --seconds at the
    # workload's nominal pass time, up to its cap.  A fixed count keeps every
    # query's samples at the same executions since JVM start, however fast
    # the host runs; codegen and JIT still speed up the second and third
    # executions.
    latencies: dict[str, list[float]] = defaultdict(list)
    build_s: dict[str, list[float]] = defaultdict(list)
    for n_pass in range(max(1, min(w.max_passes, round(args.seconds / w.pass_s)))):
        order = list(w.queries)
        run.rng.shuffle(order)
        p0 = time.time()
        pass_ops = []
        for q in order:
            group = f"p{n_pass}:{q}"
            engine.spark.sparkContext.setJobGroup(group, group)
            run.attempted += 1
            t_op, c0 = time.time(), time.perf_counter()
            try:
                df = engine.registry[q].build(engine.spark, sf_dir)
                t_built, c1 = time.time(), time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # a failed op is counted, the loop goes on
                run.fail(f"{group}: {type(exc).__name__}: {exc}"[:500])
                engine.isolate()
                continue
            t_done, c2 = time.time(), time.perf_counter()
            latencies[q].append((c2 - c0) * 1e3)
            build_s[q].append(c1 - c0)
            pass_ops.append((q, group, t_op, t_built, t_done))
            engine.isolate()
        if run.store:
            pass_span = run.tracer.add("pass", p0, time.time())
            for q, group, t_op, t_built, t_done in pass_ops:
                run.harvest_op(q, group, pass_span, t_op, t_built, t_done, counted=n_pass == 0)

    medians = {q: statistics.median(v) for q, v in latencies.items()}
    all_ms = [x for v in latencies.values() for x in v]
    if len(medians) != len(w.queries):
        raise RuntimeError(f"no timed sample for {sorted(set(w.queries) - set(medians))}")
    passes = len(all_ms) / len(w.queries)
    run.layers["queries.build_s"] = sum(statistics.median(v) for v in build_s.values())
    if run.store:
        run.self_time_layers(passes)
    return {
        "latencies": all_ms,
        "op_medians_ms": medians,
        "run_s": sum(medians.values()) / 1e3,
        "op_geomean_ms": geomean(list(medians.values())),
        "passes": passes,
    }


def run_stream(run: Run, w: StreamWorkload) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    engine, args = run.engine, run.args
    run.start()
    with run.phase("inputs"):
        events = inputs.events()
    n_batches = max(2, round(args.seconds * w.batches_per_second))
    # File 0 is the first batch, of set-up, and the next ``warm_batches``
    # files are the untimed warm pass.  Cut points are seeded, each within a
    # twentieth of a file of an even split: the total work is the same for
    # every seed, and file sizes, which move batch latency, barely differ.
    n_files = 1 + w.warm_batches + n_batches
    n_rows = n_files * w.rows_per_file
    if n_rows > events.num_rows:
        raise ValueError(f"{n_batches} batches need {n_rows} events, the table has {events.num_rows}")
    jitter = w.rows_per_file // 20
    cuts = [0] + [i * w.rows_per_file + run.rng.randint(-jitter, jitter) for i in range(1, n_files)] + [n_rows]
    staging = run.run_dir / "staging"
    staging.mkdir()
    files = []
    for i, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
        f = staging / f"part-{i:05d}.parquet"
        pq.write_table(events.slice(lo, hi - lo), f)
        files.append(f)
    sentinel = staging / "part-sentinel.parquet"
    far = pa.array([FAR_FUTURE], pa.string()).cast(pa.timestamp("us"))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([-1], pa.int64()),
                "ts": far,
                "user_id": pa.array([SENTINEL_USER], pa.int64()),
                "event_type": ["view"],
                "value": [0.0],
                "props": ["{}"],
            },
            schema=events.schema,
        ),
        sentinel,
    )

    src, sink, ckpt = (run.run_dir / d for d in ("src", "sink", "checkpoint"))
    src.mkdir()
    with run.phase("warm_op"):  # starting the query is set-up work too
        stream = (
            engine.spark.readStream.schema(engine.spark.read.parquet(str(files[0])).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        q = (
            engine.ops.sessionized(stream)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .start()
        )

    def feed(f: Path) -> None:
        shutil.copyfile(f, src.parent / f"{src.name}.tmp")
        os.replace(src.parent / f"{src.name}.tmp", src / f.name)
        q.processAllAvailable()

    progress: list[dict] = []
    seen_batches: set[int] = set()

    def collect_progress() -> None:
        for p in q.recentProgress:
            if p["batchId"] not in seen_batches and p["numInputRows"] > 0:
                seen_batches.add(p["batchId"])
                progress.append(p)

    try:
        # The warm-up op is the stream's first batch; the warm pass follows.
        run.attempted += 1
        run.warm_up(lambda: feed(files[0]))
        with run.phase("warm"):
            for f in files[1 : 1 + w.warm_batches]:
                run.attempted += 1
                feed(f)
        run.layers["session.warm_pass_s"] = run.phases["warm"]
        if run.store:
            run.store.skip()
        collect_progress()
        progress.clear()
        latencies = []
        for i, f in enumerate(files[1 + w.warm_batches :], start=1):
            run.attempted += 1
            t_op, c0 = time.time(), time.perf_counter()
            feed(f)
            t_done = time.time()
            latencies.append((time.perf_counter() - c0) * 1e3)
            if run.store:
                h0 = time.perf_counter()
                op_span = run.tracer.add("op", t_op, t_done, None, f"batch{i}")
                execs = run.store.new_executions()
                for e in execs:
                    run.tracer.add("sql", e.start, e.end, op_span, f"batch{i}")
                run.add_counters(execs)
                collect_progress()
                run.harvest_s += time.perf_counter() - h0
        collect_progress()
        # Flush: the sentinel moves the watermark past every session, and
        # the no-data batch that runs with that watermark emits them.
        with run.phase("flush"):
            feed(sentinel)
            deadline = time.time() + 60
            while q.lastProgress["eventTime"].get("watermark", "") < FLUSHED_WATERMARK:
                if time.time() > deadline:
                    raise RuntimeError("the stream did not advance its watermark past the sentinel")
                time.sleep(0.02)
    finally:
        q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")

    with run.phase("check"):
        duck = oracle.connect(None, run.run_dir / "tmp")
        used = ", ".join(f"'{f}'" for f in files)
        duck.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet([{used}])")
        want = duck.execute(engine.registry["stream_sessions"].oracle).arrow()
        duck.close()
        got = pq.ParquetDataset(str(sink)).read()
        got = got.filter(pa.compute.not_equal(got["user_id"], SENTINEL_USER))
        reason = oracle.mismatch(got, want)
    if reason:
        run.fail(f"stream sink: wrong result: {reason}")
    stream_layers = harvest.stream_progress(progress)
    if stream_layers["streaming.rows_dropped_by_watermark"]:
        run.fail(f"stream dropped {stream_layers['streaming.rows_dropped_by_watermark']} rows as late")
    if run.store:
        run.layers.update(stream_layers)
        run.layers.update(harvest.tree_counters(sink, ckpt))
        run.self_time_layers(1.0)
    # The stream has one distinct op, the micro-batch, so the geometric
    # mean over distinct ops' medians is the median batch latency.
    median = statistics.median(latencies)
    return {
        "latencies": latencies,
        "op_medians_ms": {"batch": median},
        "run_s": sum(latencies) / 1e3,
        "op_geomean_ms": median,
        "passes": 1.0,
    }


def load_spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def run_once(args) -> dict:
    spec = load_spec()
    w = WORKLOADS[args.workload]
    run_dir = WORK / f"{w.name}-seed{args.seed}-pid{os.getpid()}"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    cpus = prepare_env(run_dir)
    try:
        engine = Engine(cpus)
        run = Run(args, engine, run_dir)
        try:
            out = run_queries(run, w) if isinstance(w, QueryWorkload) else run_stream(run, w)
            run.layers["session.peak_rss_mb"] = engine.peak_rss_mb()
            live = {
                "nproc": len(os.sched_getaffinity(0)),
                "cpus": cpus,
                "default_parallelism": engine.spark.sparkContext.defaultParallelism,
                "shuffle_partitions": int(engine.spark.conf.get("spark.sql.shuffle.partitions")),
            }
        finally:
            with run.phase("teardown"):
                engine.shutdown()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    lat = out["latencies"]
    e2e = {
        "setup_s": run.setup_s,
        "run_s": out["run_s"],
        "op_geomean_ms": out["op_geomean_ms"],
        "op_p50_ms": statistics.median(lat),
    }
    if args.trace:
        run.layers["trace.run_s"] = out["run_s"]
        wanted = spec["per_layer"]
        values = {m["name"]: run.layers.get(m["name"], 0.0) for m in wanted}
    else:
        wanted = spec["end_to_end"]
        values = e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    record = {
        "workload": w.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        **live,
        "ops_timed": len(lat),
        "op_tail": tail(lat),
        "passes": out["passes"],
        "op_medians_ms": out.get("op_medians_ms"),
        "latencies_ms": lat,
        "end_to_end": e2e,
        "layers": dict(run.layers),
        "error_rate": run.failed / run.attempted,
        "phases_s": run.phases,
        "wall_s": time.perf_counter() - T0,
        "failures": run.failures,
    }
    if args.trace:
        WORK.mkdir(exist_ok=True)
        trace_file = WORK / f"trace-{w.name}-{args.seed}.json"
        record["moves"] = {name: MOVES[name] for name in values}
        trace_file.write_text(json.dumps({"record": record, "spans": run.tracer.to_json()}))
    return {
        "record": record,
        "result": {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        },
    }


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def repeat(args) -> int:
    """Two sets of runs of one workload and seed, compared with the bounds."""
    spec = load_spec()
    sets = []
    for s in range(2):
        runs, traced = [], None
        for trace in [0] * args.repeat + [1]:
            cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
                   "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            if out.returncode != 0:
                print(out.stderr[-4000:], file=sys.stderr)
                return 1
            record = json.loads(out.stdout.strip().splitlines()[-2])
            print(f"set {s + 1} trace={trace}: {json.dumps(record['end_to_end'])}", flush=True)
            if trace:
                traced = record
            else:
                runs.append(record)
        sets.append((runs, traced))
    ok = True
    print(f"{'metric':16} {'median1':>10} {'spread1':>8} {'median2':>10} {'spread2':>8} {'drift':>7} {'bound':>6}")
    for m in spec["end_to_end"]:
        name = m["name"]
        v1 = [r["end_to_end"][name] for r in sets[0][0]]
        v2 = [r["end_to_end"][name] for r in sets[1][0]]
        med1, med2 = statistics.median(v1), statistics.median(v2)
        s1, s2 = (spread(v) if len(v) > 1 else 0.0 for v in (v1, v2))
        drift = abs(med2 - med1) / med1
        good = drift <= m["bound"] and max(s1, s2) <= m["bound"]
        ok &= good
        print(f"{name:16} {med1:10.4f} {s1:8.3f} {med2:10.4f} {s2:8.3f} {drift:7.3f} {m['bound']:6.2f} {'ok' if good else 'OUT'}")
    for (runs, traced), s in zip(sets, (1, 2)):
        untraced = statistics.median(r["end_to_end"]["run_s"] for r in runs)
        overhead = traced["layers"]["trace.run_s"] - untraced
        print(f"set {s} tracing overhead: run_s {overhead:+.3f} s ({traced['layers']['trace.run_s']:.3f} traced, {untraced:.3f} untraced)")
    l1, l2 = sets[0][1]["layers"], sets[1][1]["layers"]
    for name in DETERMINISTIC:
        same = l1.get(name, 0) == l2.get(name, 0)
        ok &= same
        print(f"{name:32} {l1.get(name, 0):>14} {l2.get(name, 0):>14} {'same' if same else 'DIFFERS'}")
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--repeat", type=int, default=0, help="runs per set in repeat mode")
    args = p.parse_args(argv)
    if 0 < args.repeat < 5:
        p.error("--repeat needs at least 5 runs per set for quartiles to mean anything")
    if args.repeat:
        return repeat(args)
    out = run_once(args)
    print(json.dumps(out["record"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
