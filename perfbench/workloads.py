"""The benchmark's jobs and their verification.

A job is one ``convert()`` call on a workload's captures, or one analyst
query over the Parquet that ``convert()`` wrote. Every job is checked after
its timer stops: convert jobs against the generator's ground truth (packet
and error counts, the fragment decision, the row digest), queries against
DuckDB on the same Parquet.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import time

import duckdb
import pyarrow.parquet as pq

from digest import DIGEST_COLUMNS, digest_table
from pcap_converter_spark.operators.convert import convert
from pcap_converter_spark.operators.defrag import defrag, fragmentation_pct
from pcap_converter_spark.queries.declared import _PQ4_BODY, DECLARED_QUERIES
from pcap_converter_spark.sources.pcap import read_pcap

# The analyst queries of queries.declared: pq3 (the defrag rewrite) is
# left out, convert_frag_corpus covers it.
QUERIES = {
    "pq1": DECLARED_QUERIES["pq1_frag_pct"].spark_sql,
    "pq2": DECLARED_QUERIES["pq2_first_fragments"].spark_sql,
    "pq4": _PQ4_BODY,
    "pq5": DECLARED_QUERIES["pq5_tcp_flags"].spark_sql,
    "pq6": DECLARED_QUERIES["pq6_top_talkers"].spark_sql,
    "pq7": DECLARED_QUERIES["pq7_dns_shape"].spark_sql,
}


DEFRAG_THRESHOLD_PCT = 1.0  # convert()'s default


class VerifyError(AssertionError):
    pass


def parquet_files(out: str) -> list[str]:
    return sorted(glob.glob(os.path.join(out, "*.parquet")))


def parquet_bytes(out: str) -> int:
    return sum(os.path.getsize(p) for p in parquet_files(out))


def replicate(out: str, dest: str, copies: int) -> str:
    """``copies`` byte copies of every Parquet file in ``out``, in ``dest``:
    more rows to read, in the files, row groups and encodings the sink
    wrote. Returns ``dest``."""
    os.makedirs(dest, exist_ok=True)
    for c in range(copies):
        for f in parquet_files(out):
            shutil.copyfile(f, os.path.join(dest, f"copy{c:02d}-{os.path.basename(f)}"))
    return dest


# ----------------------------------------------------------------- convert


class ConvertJob:
    """``convert()`` of one input set into ``out``, with ground truth."""

    def __init__(self, entry: dict, out: str):
        self.entry, self.out = entry, out
        self.units = entry["packets"]

    def prepare(self) -> None:
        """What a user pays on a new capture: fresh file identities and no
        output or stage-1 directory left from an earlier job."""
        self.refresh()
        for d in (self.out, self.out.rstrip("/") + ".stage1.tmp"):
            shutil.rmtree(d, ignore_errors=True)

    def refresh(self) -> None:
        """New mtimes, so the source's chunk-descriptor cache (keyed by
        path, size and mtime) does not hide the index walk."""
        now = time.time_ns()
        for p in self.entry["paths"]:
            os.utime(p, ns=(now, now))

    def run(self, spark) -> dict:
        return convert(spark, self.entry["paths"], self.out)

    def verify(self, result: dict) -> None:
        e = self.entry
        got = (result["packets"], result["errors"], result["defragged"])
        want = (e["packets"], e["errors"], e["defragged"])
        if got != want:
            raise VerifyError(f"(packets, errors, defragged) {got} != {want}")
        table = pq.read_table(parquet_files(self.out), columns=DIGEST_COLUMNS)
        if table.num_rows != e["packets"]:
            raise VerifyError(f"{table.num_rows} rows written, want {e['packets']}")
        digest = digest_table(table)
        if digest != e["digest"]:
            raise VerifyError(f"row digest {digest} != {e['digest']}")


def traced_convert(spark, tracer, paths: list[str], out: str, **attrs) -> dict:
    """``convert()``'s own phases, called through the same public
    functions in the same order, each under a span and a Spark job group
    (so the SQL executions of each phase can be attributed afterwards);
    ``attrs`` go on every span. Keep in step with ``operators/convert.py``."""
    sc = spark.sparkContext
    tmp = out.rstrip("/") + ".stage1.tmp"

    def phase(name: str):
        group = f"perfbench-{len(tracer.spans)}"
        sc.setJobGroup(group, name)
        return tracer.span(name, group=group, **attrs)

    with tracer.span("convert()", **attrs):
        with phase("read_pcap"):
            decoded, stats = read_pcap(spark, paths)
        with phase("stage1.write"):
            decoded.write.mode("overwrite").parquet(tmp)
        with phase("stage1.open"):
            stage1 = spark.read.parquet(tmp)
            n_packets = int(stats.get["packets"])
            n_errors = int(stats.get["errors"])
        defragged = False
        try:
            with phase("fragmentation_pct"):
                pct = fragmentation_pct(stage1)
            if pct < DEFRAG_THRESHOLD_PCT:
                with phase("passthrough.rename"):
                    shutil.rmtree(out, ignore_errors=True)
                    shutil.move(tmp, out)
            else:
                with phase("defrag.write"):
                    defrag(stage1).write.mode("overwrite").parquet(out)
                defragged = True
        finally:
            with phase("stage1.cleanup"):
                shutil.rmtree(tmp, ignore_errors=True)
    sc.setLocalProperty("spark.jobGroup.id", None)
    return {"packets": n_packets, "errors": n_errors,
            "fragment_pct": pct, "defragged": defragged}


# ----------------------------------------------------------------- analyze


def canonical_hash(rows) -> str:
    """Order-insensitive hash of a query result; numbers compare as
    doubles rounded to 6 places, so BIGINT and DOUBLE agree across
    engines."""

    def cell(v) -> str:
        if v is None:
            return "\x00"
        if isinstance(v, bool):
            return str(v)
        if isinstance(v, (int, float)):
            return repr(round(float(v), 6))
        return str(v)

    canon = sorted(repr(tuple(cell(v) for v in row)) for row in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


class QueryTable:
    """The ``packets`` view over converted Parquet, and DuckDB's answer
    to every query on the same files."""

    def __init__(self, spark, outs: list[str]):
        self.files = [f for out in outs for f in parquet_files(out)]
        self.rows = sum(pq.ParquetFile(f).metadata.num_rows for f in self.files)
        self.bytes = sum(os.path.getsize(f) for f in self.files)
        spark.read.parquet(*outs).createOrReplaceTempView("packets")
        con = duckdb.connect()
        try:
            files = ", ".join("'" + f.replace("'", "''") + "'" for f in self.files)
            con.execute(f"CREATE VIEW packets AS SELECT * FROM read_parquet([{files}])")
            self.expected = {
                name: canonical_hash(con.execute(sql).fetchall())
                for name, sql in QUERIES.items()
            }
        finally:
            con.close()

    def verify(self, name: str, rows) -> None:
        got = canonical_hash(rows)
        if got != self.expected[name]:
            raise VerifyError(f"{name}: result hash differs from DuckDB")
