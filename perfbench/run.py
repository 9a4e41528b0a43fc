#!/usr/bin/env python3
"""Converter benchmark: pcap → Parquet conversion and the analysis after it.

    python3 perfbench/run.py --workload convert_mixed --seed 1 --seconds 8 --trace 0

Run from the repository root. Workloads (closed loop, one client: the next
job starts when the previous one returns; one driver on ``local[nproc]``):

- ``convert_mixed``: ``convert()`` of one legacy pcap of TCP/UDP/DNS with
  few fragments and known malformed records (decode-bound, no rewrite);
- ``convert_frag_corpus``: ``convert()`` of 16 pcapng files of fragmented
  UDP amplification responses (executor-side planning, defrag rewrite);
- ``analyze``: the ``queries.declared`` packet queries over copies of the
  Parquet one ``convert()`` of both inputs wrote during set-up; a query is
  a job.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the traced
variant and prints the per-layer metrics. The last line of standard output
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
Inputs are generated from ``--seed`` and cached under ``.perfbench_cache``;
a JSON artifact (run context, samples, spans) goes to ``.perfbench_out``.
See perfbench/README.md for every metric.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("convert_mixed", "convert_frag_corpus", "analyze")
TAIL_QUANTILE = 0.75  # job_s_tail: the p75 of each query's timed jobs
# Untimed warm-up after the cold first job(s): measured job times keep
# falling for about two more conversions, or two more rounds of the
# queries, while the JVM's JIT and Spark's code generation settle.
WARMUP_ROUNDS = 2
# The queries warm far more slowly: the JVM's JIT compiles for more than a
# minute of queries, and in the first 10 s after two rounds its compile
# time was about 60% of all the CPU the JVM spent. Analyze's cold round
# and warm-up last at least this long, so its figures sit on the flatter
# part of that curve instead of sliding down it.
ANALYZE_WARMUP_S = 15.0
# Analyze's table is this many copies of what its set-up convert() wrote:
# 1.2M rows, so the queries spend their time scanning and aggregating,
# not planning and scheduling, at the cost of one conversion.
TABLE_COPIES = 16
MiB = 2**20


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _launch_env(work: str) -> None:
    """Launch settings for the JVM and its Python workers, set before the
    session starts: the package on the workers' import path, no console
    progress bar, and scratch space inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _quantile(xs: list[float], q: float) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def _per_kind(walls: list[float], kinds: int, q: float) -> float:
    """The ``q`` quantile of each kind of job, geometric mean over the
    kinds. Jobs run in rounds of ``kinds`` (analyze: its six queries in
    turn; convert: one kind), so kind k is every ``kinds``-th job. A
    quantile of all the queries pooled would jump between the clusters
    of fast and slow queries from one run to the next."""
    return math.exp(statistics.fmean(
        math.log(_quantile(walls[k::kinds], q)) for k in range(kinds)))


def _jvm_times(spark) -> tuple[float, float]:
    """(GC seconds, JIT compile seconds) of the driver JVM so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gcs = mf.getGarbageCollectorMXBeans()
    gc = sum(gcs.get(i).getCollectionTime() for i in range(gcs.size()))
    return gc / 1e3, mf.getCompilationMXBean().getTotalCompilationTime() / 1e3


# ------------------------------------------------------------- workloads


class ConvertBench:
    """Each job converts the workload's captures into the same directory."""

    def __init__(self, spark, entry: dict, work: str):
        from workloads import ConvertJob

        self.spark = spark
        self.job = ConvertJob(entry, os.path.join(work, "out"))
        self.units = entry["packets"]
        self.setup_s = 0.0
        self.first_jobs, self.warmup, self.round = 1, WARMUP_ROUNDS, 1
        self.warmup_s = 0.0

    def prepare(self, i: int) -> None:
        self.job.prepare()

    def run(self, i: int):
        return self.job.run(self.spark)

    def verify(self, i: int, result) -> None:
        self.job.verify(result)

    def out_bytes_per_unit(self) -> float:
        from workloads import parquet_bytes

        return parquet_bytes(self.job.out) / self.units


class AnalyzeBench:
    """Set-up converts both inputs in one call; the table the queries
    read is ``TABLE_COPIES`` copies of the files that call wrote. Each job
    is one query, in turn. ``converter(job)`` stands in for ``job.run`` in
    the set-up (the traced run passes its traced conversion)."""

    def __init__(self, spark, entry: dict, work: str, converter=None):
        from workloads import QUERIES, ConvertJob, QueryTable, replicate

        self.spark, self.names, self.queries = spark, list(QUERIES), QUERIES
        self.job = ConvertJob(entry, os.path.join(work, "table"))
        t0 = time.perf_counter()
        self.job.prepare()
        self.job.verify(converter(self.job) if converter else self.job.run(spark))
        self.setup_s = time.perf_counter() - t0
        copies = replicate(self.job.out, os.path.join(work, "copies"), TABLE_COPIES - 1)
        self.table = QueryTable(spark, [self.job.out, copies])
        self.units = self.table.rows
        # the first run of each query is this workload's first job; timed
        # jobs run whole rounds, so every query weighs the same
        self.first_jobs = self.round = len(self.names)
        self.warmup = WARMUP_ROUNDS * self.round
        self.warmup_s = ANALYZE_WARMUP_S

    def prepare(self, i: int) -> None:
        pass

    def run(self, i: int):
        return self.spark.sql(self.queries[self.names[i % len(self.names)]]).collect()

    def verify(self, i: int, rows) -> None:
        self.table.verify(self.names[i % len(self.names)], rows)

    def out_bytes_per_unit(self) -> float:
        return self.table.bytes / self.table.rows


def _input(workload: str, manifest: dict) -> tuple[str, dict]:
    """The input set a workload converts: (name, manifest entry)."""
    import gen

    if workload == "analyze":
        return "mixed+frag", gen.combined(manifest)
    key = {"convert_mixed": "mixed", "convert_frag_corpus": "frag"}[workload]
    return key, manifest[key]


def _bench(spark, workload: str, entry: dict, work: str):
    if workload == "analyze":
        return AnalyzeBench(spark, entry, work)
    return ConvertBench(spark, entry, work)


class Tally:
    """Jobs attempted and failed; a failure is reported and survived."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"[perfbench] {what} failed:", file=sys.stderr)
        traceback.print_exc()

    def check(self, what: str, fn, *args) -> bool:
        self.attempted += 1
        try:
            fn(*args)
            return True
        except Exception:  # any failed check counts against the job
            self.fail(what)
            return False


def _timed_job(bench, i: int, tally: Tally, cpu_root: int | None = None):
    """prepare → timed run → untimed verify. Returns (wall s, cpu s)."""
    from host import cpu_between, tree_cpu

    bench.prepare(i)
    c0 = tree_cpu(cpu_root) if cpu_root else {}
    t0 = time.perf_counter()
    try:
        result = bench.run(i)
    except Exception:  # a job that raises is a failed job
        tally.attempted += 1
        tally.fail(f"job {i}")
        return time.perf_counter() - t0, 0.0
    wall = time.perf_counter() - t0
    cpu = cpu_between(c0, tree_cpu(cpu_root)) if cpu_root else 0.0
    tally.check(f"job {i}", bench.verify, i, result)
    return wall, cpu


def _warm_up(bench, tally: Tally, since: float) -> int:
    """Untimed jobs after the cold first job(s): at least ``bench.warmup``
    jobs, in whole rounds, until ``bench.warmup_s`` seconds have passed
    ``since`` the cold jobs began. Returns the index of the next job."""
    i = bench.first_jobs
    while (i < bench.first_jobs + bench.warmup or i % bench.round
           or time.perf_counter() - since < bench.warmup_s):
        _timed_job(bench, i, tally)
        i += 1
    return i


# ------------------------------------------------------------ untraced


def timed_run(bench, seconds: float, session_s: float) -> tuple[dict, Tally, dict]:
    from host import PeakMemory

    pid, tally = os.getpid(), Tally()
    firsts, walls, cpu = [], [], 0.0
    with PeakMemory(pid) as mem:
        cold, since = bench.first_jobs, time.perf_counter()
        for i in range(cold):
            firsts.append(_timed_job(bench, i, tally)[0])
        i, start = _warm_up(bench, tally, since), time.perf_counter()
        while time.perf_counter() - start < seconds or len(walls) % bench.round:
            wall, c = _timed_job(bench, i, tally, pid)
            walls.append(wall)
            cpu += c
            i += 1
    units = bench.units * len(walls)
    metrics = {
        "pkts_per_s": (units / sum(walls), "pkt/s"),
        "job_s_p50": (_per_kind(walls, bench.round, 0.5), "s"),
        "job_s_tail": (_per_kind(walls, bench.round, TAIL_QUANTILE), "s"),
        "setup_s": (session_s + bench.setup_s + sum(firsts), "s"),
        "cpu_s_per_mpkt": (cpu / units * 1e6, "s"),
        "worker_peak_mb": (mem.worker_mb, "MB"),
        "out_bytes_per_pkt": (bench.out_bytes_per_unit(), "B"),
        "job_ok_rate": ((tally.attempted - tally.failed) / tally.attempted, "ratio"),
    }
    samples = {"first_job_s": firsts, "job_s": walls, "tail_quantile": TAIL_QUANTILE,
               "jvm_peak_rss_mb": mem.jvm_mb}
    return metrics, tally, samples


# -------------------------------------------------------------- traced


class Traced:
    """The traced run: spans around every call into a layer, Spark SQL
    metrics on every action, JVM GC and JIT time per job."""

    def __init__(self, spark):
        from spans import SqlMetrics, Tracer

        self.spark, self.tracer, self.sql = spark, Tracer(), SqlMetrics(spark)
        self.walls = {True: [], False: []}  # traced? → job walls
        self.tally = Tally()
        self._marks: list[int] = []  # status-store marks not yet attached

    def attach(self) -> None:
        """Give every span opened under a job group since the pending
        marks the SQL metrics and stages of the executions it ran. Runs
        after a job's wall clock stops."""
        from spans import sum_metrics

        if not self._marks:
            return
        execs = self.sql.executions(min(self._marks))
        self._marks.clear()
        for s in self.tracer.spans:
            group = s.attrs.get("group")
            if group and "sql" not in s.attrs:
                jobs = set(self.sql.job_ids(group))
                s.attrs["sql"] = sum_metrics([e for e in execs if jobs & set(e["jobs"])])
                s.attrs["stages"] = self.sql.stages(sorted(jobs))

    @contextmanager
    def action(self, name: str, **attrs):
        group = f"perfbench-{len(self.tracer.spans)}"
        self._marks.append(self.sql.mark())
        self.spark.sparkContext.setJobGroup(group, name)
        try:
            with self.tracer.span(name, group=group, **attrs) as s:
                yield s
        finally:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def job(self, k: int, traced: bool):
        self.tracer.job = k
        t0 = time.perf_counter()
        yield
        self.walls[traced].append(time.perf_counter() - t0)
        self.tracer.job = None
        self.attach()

    # ---------------------------------------------------- convert layers

    def convert(self, key: str, job) -> dict:
        """One traced convert() of ``job`` (already prepared)."""
        from workloads import traced_convert

        self._marks.append(self.sql.mark())
        return traced_convert(
            self.spark, self.tracer, job.entry["paths"], job.out, input=key)

    def probe_decode(self, key: str, job) -> None:
        """The exact index, then the decode kernel and the Arrow hop of
        every chunk, serially in this process."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        from pcap_converter_spark.sources.pcap import (
            DECODE_OUTPUT_SCHEMA, index_pcap, read_pcap_chunk,
        )

        tr = self.tracer
        with tr.span("pcap.index", input=key) as s:
            chunks = [c for p in job.entry["paths"] for c in index_pcap(p)]
        s.attrs.update(chunks=len(chunks), bytes=sum(c.length for c in chunks))
        schema = to_arrow_schema(DECODE_OUTPUT_SCHEMA)
        with tr.span("decode.replay", input=key):
            for c in chunks:
                with tr.span("decode.read_pcap_chunk", input=key) as s:
                    frame = read_pcap_chunk(c)
                s.attrs.update(packets=len(frame), errors=int(frame["errors"].sum()))
                with tr.span("arrow.from_pandas", input=key):
                    pa.Table.from_pandas(frame, schema=schema, preserve_index=False)

    def probe_spark(self, key: str, job) -> None:
        """The Spark source stage alone (read_pcap → noop) and the defrag
        rewrite alone (defrag of the verified output → noop)."""
        from pcap_converter_spark.operators.defrag import defrag
        from pcap_converter_spark.sources.pcap import read_pcap

        job.refresh()
        with self.action("source.noop", input=key, packets=job.units):
            read_pcap(self.spark, job.entry["paths"])[0].write.format(
                "noop").mode("overwrite").save()
        with self.action("defrag.probe", input=key):
            stage = self.spark.read.parquet(job.out)
            defrag(stage).write.format("noop").mode("overwrite").save()

    def query(self, name: str, sql: str):
        with self.action(f"query.{name}", query=name):
            with self.tracer.span("query.plan"):
                df = self.spark.sql(sql)
                df._jdf.queryExecution().executedPlan()
            with self.tracer.span("query.collect"):
                return df.collect()


def traced_run(spark, workload: str, key: str, entry: dict, work: str,
               seconds: float, session_s: float) -> tuple[dict, Tally, Traced]:
    """Cold and warm-up jobs, serial decode probes, then traced and
    untraced jobs in turn for ``seconds``. The Spark-side probes run once:
    after the first verified traced job, or on analyze after the traced
    set-up conversion. Jobs alternate, so the tracing overhead compares
    like with like."""
    from host import PeakMemory
    from workloads import QUERIES, QueryTable

    tr = Traced(spark)
    jvm_start = _jvm_times(spark)
    with PeakMemory(os.getpid()) as mem:
        if workload == "analyze":
            def converter(job):
                with tr.job(-1, traced=True):
                    return tr.convert(key, job)

            bench = AnalyzeBench(spark, entry, work, converter)
            tr.walls[True].clear()  # the set-up conversion is not a query job
        else:
            bench = ConvertBench(spark, entry, work)
        cold, since = bench.first_jobs, time.perf_counter()
        firsts = [_timed_job(bench, i, tr.tally)[0] for i in range(cold)]
        _warm_up(bench, tr.tally, since)
        tr.probe_decode(key, bench.job)
        if workload == "analyze":
            tr.probe_spark(key, bench.job)
            tr.attach()

        start, k = time.perf_counter(), 1
        while len(tr.walls[False]) == 0 or time.perf_counter() - start < seconds:
            traced = len(tr.walls[True]) <= len(tr.walls[False])
            i = (k - 1) // 2  # a traced and an untraced job share one query
            bench.prepare(i)
            with tr.job(k, traced):
                if not traced:
                    result = bench.run(i)
                elif workload == "analyze":
                    name = bench.names[i % len(bench.names)]
                    result = tr.query(name, QUERIES[name])
                else:
                    result = tr.convert(key, bench.job)
            verified = tr.tally.check(f"job {k}", bench.verify, i, result)
            if verified and traced and not tr.tracer.named("source.noop"):
                tr.probe_spark(key, bench.job)  # once, on a verified output
                tr.attach()
            k += 1
        if workload != "analyze":
            table = QueryTable(spark, [bench.job.out])
            for name, sql in QUERIES.items():
                tr.tally.check(f"query {name}", table.verify, name, tr.query(name, sql))
            tr.attach()
    metrics = layer_metrics(tr, bench.job, session_s, mem.jvm_mb)
    metrics["session.first_job_s"] = (statistics.fmean(firsts), "s", "lower")
    # GC and JIT per checked job over the whole run, cold jobs included: a
    # warm query often runs without any collection, so a per-job median
    # would read 0
    for name, start, end in zip(("jvm.gc_s", "jvm.jit_s"), jvm_start, _jvm_times(spark)):
        metrics[name] = ((end - start) / tr.tally.attempted, "s", "lower")
    return metrics, tr.tally, tr


def _median(spans, value) -> float:
    """Median over repetitions of ``value`` of each span."""
    return statistics.median(value(s) for s in spans)


def _sql(suffix: str):
    """Span → its summed SQL metrics whose ``operator/metric`` key ends
    with ``suffix``."""
    return lambda s: sum(
        v for k, v in s.attrs.get("sql", {}).items() if k.endswith(suffix))


def layer_metrics(tr: Traced, job, session_s: float, jvm_peak_mb: float) -> dict:
    import pyarrow.parquet as pq
    from spans import self_times
    from workloads import parquet_files

    t, n = tr.tracer, len(os.sched_getaffinity(0))
    dur = lambda s: s.duration  # noqa: E731
    index = t.named("pcap.index")
    chunks = sum(s.attrs["chunks"] for s in index)
    kernel = t.named("decode.read_pcap_chunk")
    kernel_s = t.total("decode.read_pcap_chunk")
    source = t.named("source.noop")
    source_s = _median(source, dur)
    probe = t.named("defrag.probe")
    final = t.named("passthrough.rename") + t.named("defrag.write")
    files = parquet_files(job.out)
    selfs = self_times(t.spans)
    covers = [
        100.0 * (1.0 - selfs[i] / s.duration)
        for i, s in enumerate(t.spans) if s.name == "convert()"
    ]
    queries = [s for s in t.spans if s.name.startswith("query.pq")]
    last_round = list({s.attrs["query"]: s for s in queries}.values())
    walls_t, walls_u = tr.walls[True], tr.walls[False]
    m = {
        "pcap.index_s": (sum(s.duration for s in index), "s", "lower"),
        "pcap.chunks": (chunks, "count", "higher"),
        "pcap.chunk_mb": (sum(s.attrs["bytes"] for s in index) / chunks / MiB, "MB", "lower"),
        "decode.kernel_s": (kernel_s, "s", "lower"),
        "decode.kernel_pkts_per_s": (
            sum(s.attrs["packets"] for s in kernel) / kernel_s, "pkt/s", "higher"),
        "decode.errors": (sum(s.attrs["errors"] for s in kernel), "count", "lower"),
        "arrow.from_pandas_s": (t.total("arrow.from_pandas"), "s", "lower"),
        "source.wall_s": (source_s, "s", "lower"),
        "source.tasks": (_median(source, lambda s: max(
            s.attrs["stages"], key=lambda st: st["stage"])["tasks"]), "count", "higher"),
        "source.core_busy_pct": (100.0 * _median(source, lambda s: sum(
            st["run_s"] for st in s.attrs["stages"])) / (source_s * n), "%", "higher"),
        # start alone reads 0 whenever the workers are reused
        "source.py_start_init_s": (_median(source, lambda s: sum(
            _sql(m)(s) for m in ("/time to start Python workers",
                                 "/time to initialize Python workers"))), "s", "lower"),
        "source.py_run_s": (
            _median(source, _sql("/time to run Python workers")), "s", "lower"),
        "source.py_returned_b_per_pkt": (
            _median(source, _sql("/data returned from Python workers"))
            / job.units, "B", "lower"),
        "sink.stage1_write_s": (
            _median(t.named("stage1.write"), dur) - source_s, "s", "lower"),
        "sink.final_write_s": (_median(final, dur), "s", "lower"),
        "sink.files": (len(files), "count", "lower"),
        "sink.row_groups": (
            sum(pq.ParquetFile(f).metadata.num_row_groups for f in files), "count", "lower"),
        "sink.out_mb": (sum(os.path.getsize(f) for f in files) / MiB, "MB", "lower"),
        "defrag.pct_s": (_median(t.named("fragmentation_pct"), dur), "s", "lower"),
        "defrag.ff_rows": (_median(
            probe, _sql("BroadcastExchange/number of output rows")), "count", "lower"),
        "defrag.rewrite_s": (_median(probe, dur), "s", "lower"),
        "defrag.shuffle_mb": (
            _median(probe, _sql("/shuffle bytes written")) / MiB, "MB", "lower"),
        "query.plan_s": (statistics.median(map(dur, t.named("query.plan"))), "s", "lower"),
        "scan.mb_read": (
            sum(map(_sql("Scan parquet/size of files read"), last_round)) / MiB, "MB", "lower"),
        "scan.files_read": (
            sum(map(_sql("Scan parquet/number of files read"), last_round)), "count", "lower"),
        "scan.rows_out": (
            sum(map(_sql("Scan parquet/number of output rows"), last_round)), "count", "lower"),
        "exchange.mb": (
            sum(map(_sql("/shuffle bytes written"), last_round)) / MiB, "MB", "lower"),
        "session.start_s": (session_s, "s", "lower"),
        "jvm.peak_rss_mb": (jvm_peak_mb, "MB", "lower"),
        "trace.job_s": (statistics.median(walls_t), "s", "lower"),
        "trace.overhead_pct": (
            100.0 * (statistics.median(walls_t) / statistics.median(walls_u) - 1),
            "%", "lower"),
        "trace.phase_cover_pct": (statistics.median(covers), "%", "higher"),
    }
    for name in ("pq1", "pq2", "pq4", "pq5", "pq6", "pq7"):
        spans = [s for s in queries if s.attrs["query"] == name]
        m[f"query.{name}_s"] = (statistics.median(map(dur, spans)), "s", "lower")
    return m


# ----------------------------------------------------------------- main


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM and the Python
    workers below it to exit."""
    from host import wait_for_descendants
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    left = wait_for_descendants(os.getpid(), timeout=30)
    if left:
        print(f"[perfbench] processes still running: {left}", file=sys.stderr)


def _input_context(entry: dict) -> dict:
    """Files, bytes, packets and the default chunking of one input set."""
    from pcap_converter_spark.sources.pcap import index_pcap

    chunks = [c.length for p in entry["paths"] for c in index_pcap(p)]
    return {"files": len(entry["paths"]), "bytes": entry["bytes"],
            "packets": entry["packets"], "chunks": len(chunks),
            "chunk_bytes_mean": sum(chunks) / len(chunks)}


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import gen  # needs fixtures/pcapgen.py from the checkout
        import pcap_converter_spark  # noqa: F401
    except ImportError as e:
        print(f"[perfbench] run from a repository checkout: {e}", file=sys.stderr)
        return 2

    manifest = gen.inputs(os.path.join(ROOT, ".perfbench_cache"), args.seed)
    key, entry = _input(args.workload, manifest)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _launch_env(work)

    from host import context, cpu_ticks, loadavg, steal_pct
    from pcap_converter_spark.session import get_spark

    load_start, ticks, nproc = loadavg(), cpu_ticks(), len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{nproc}]")
    spark.range(1).collect()  # the session is ready once it runs a job
    session_s = time.perf_counter() - t0
    try:
        ctx = context(spark)
        if args.trace:
            metrics, tally, tr = traced_run(
                spark, args.workload, key, entry, work, args.seconds, session_s)
        else:
            bench = _bench(spark, args.workload, entry, work)
            metrics, tally, samples = timed_run(bench, args.seconds, session_s)
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    ctx.update(
        nproc=nproc, loadavg_start=load_start, loadavg_end=loadavg(),
        steal_pct=steal_pct(ticks, cpu_ticks()),
        inputs={key: _input_context(entry)},
    )
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    artifact = {"workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "context": ctx,
                "metrics": {k: v[0] for k, v in metrics.items()}}
    if args.trace:
        tr.tracer.write(stem + "-spans.json")
    else:
        artifact["samples"] = samples
    with open(stem + ".json", "w") as f:
        json.dump(artifact, f, indent=1)

    for name, v in metrics.items():
        print(f"{name:32s} {v[0]:14.6g} {v[1]}", file=sys.stderr)
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
