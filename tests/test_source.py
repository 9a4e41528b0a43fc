"""pcap/pcapng source tests: indexing, chunking, timestamp scaling (S1-S3,
E15), and the multi-chunk pcapng interface-snapshot regression."""

from __future__ import annotations

import pandas as pd
import pytest

from fixtures import pcapgen as g
from pcap_converter_spark.sources.pcap import (
    _epb_time_us,
    index_pcap,
    read_pcap_chunk,
)

M1, M2 = g.mac(1), g.mac(2)


def _udp_pkt(i: int = 0) -> bytes:
    return g.ethernet(
        M1, M2, 0x0800,
        g.ipv4(f"10.0.0.{1 + i % 250}", "10.0.0.254", 17, g.udp(1000 + i, 9, b"abcd")),
    )


def _decode_path(path: str) -> pd.DataFrame:
    chunks = index_pcap(path)
    assert chunks
    return pd.concat([read_pcap_chunk(c) for c in chunks], ignore_index=True)


def test_legacy_roundtrip(tmp_path):
    path = str(tmp_path / "t.pcap")
    g.write_pcap(path, [(1_000_000 + i, _udp_pkt(i)) for i in range(100)])
    pdf = _decode_path(path)
    assert len(pdf) == 100
    assert pdf["udp_dstport"].eq(9).all()
    assert pdf["pcap_file"].eq("t.pcap").all()
    # legacy µs timestamps: frame_time is µs epoch
    assert pdf["frame_time"].iloc[0] == pd.Timestamp(1_000_000, unit="us")


def test_legacy_truncated_tail_tolerated(tmp_path):
    path = str(tmp_path / "t.pcap")
    g.write_pcap(path, [(1_000_000, _udp_pkt()), (2_000_000, _udp_pkt())])
    data = open(path, "rb").read()
    open(path, "wb").write(data[:-10])  # cut into the last record
    pdf = _decode_path(path)
    assert len(pdf) == 1  # resilient loop: truncated tail dropped, no raise


def test_pcapng_roundtrip_and_multichunk_interfaces(tmp_path):
    """Regression for the IDB misalignment: with a tiny chunk target, chunks
    past the first must still carry the correct interface linktype/tsresol
    snapshot (previously read from the wrong offset → all-NULL rows)."""
    path = str(tmp_path / "t.pcapng")
    g.write_pcapng(
        path,
        interfaces=[(1, 6)],  # ethernet, µs resolution
        packets=[(0, 1_000_000 + i, _udp_pkt(i)) for i in range(200)],
    )
    chunks = index_pcap(path, target_chunk_bytes=4096)
    assert len(chunks) > 1, "test needs multiple chunks"
    pdf = pd.concat([read_pcap_chunk(c) for c in chunks], ignore_index=True)
    assert len(pdf) == 200
    # every chunk decodes real rows — no silent all-NULL chunks
    assert pdf["udp_dstport"].eq(9).all()
    assert int(pdf["errors"].sum()) == 0


def test_pcapng_simple_packet_blocks(tmp_path):
    """SPB: frame_time epoch 0, caplen from block length, linktype from the
    first interface (main.rs:201-213)."""
    path = str(tmp_path / "spb.pcapng")
    g.write_pcapng(
        path,
        interfaces=[(1, 6)],
        packets=[],
        simple_packets=[_udp_pkt(i) for i in range(20)],
    )
    pdf = _decode_path(path)
    assert len(pdf) == 20
    assert pdf["udp_dstport"].eq(9).all()
    assert (pdf["frame_time"] == pd.Timestamp(0, unit="us")).all()


def test_epb_time_us_pow10_and_pow2():
    # tsresol 6 (µs): identity
    assert _epb_time_us(0, 1_000_000, 6) == 1_000_000
    # tsresol 9 (ns): divide by 1000
    assert _epb_time_us(0, 1_000_000_000, 9) == 1_000_000
    # tsresol 3 (ms): multiply by 1000
    assert _epb_time_us(0, 1_500, 3) == 1_500_000
    # MSB set: power-of-2 resolution (2^-x per tick)
    code = 0x80 | 20  # 2^-20 s per tick
    ticks = 1 << 20  # exactly one second
    assert _epb_time_us(0, ticks, code) == 1_000_000


def test_chunk_boundaries_cover_all_records(tmp_path):
    path = str(tmp_path / "t.pcap")
    n = 500
    g.write_pcap(path, [(i, _udp_pkt(i)) for i in range(n)])
    for target in (2_000, 8_000, 1 << 26):
        chunks = index_pcap(path, target_chunk_bytes=target)
        total = sum(c.n_records for c in chunks)
        assert total == n, f"target={target}: {total} != {n}"


def test_index_cache_serves_and_invalidates(tmp_path):
    """The chunk-descriptor cache serves repeat reads of an unchanged file
    and invalidates when the file changes (size/mtime identity)."""
    from pcap_converter_spark.sources.pcap import _index_or_split

    path = str(tmp_path / "cached.pcap")
    g.write_pcap(path, [(1_000_000 + i, _udp_pkt(i)) for i in range(10)])
    first = _index_or_split(path, 1 << 20, "auto")
    assert _index_or_split(path, 1 << 20, "auto") is first  # cache hit
    # different split params miss the cache
    assert _index_or_split(path, 1 << 10, "auto") is not first
    # rewriting the file (new size) invalidates
    g.write_pcap(path, [(1_000_000 + i, _udp_pkt(i)) for i in range(20)])
    fresh = _index_or_split(path, 1 << 20, "auto")
    assert fresh is not first
    assert sum(c.n_records for c in fresh) == 20


def test_corpus_chunk_frame_never_collects_descriptors(spark, tmp_path,
                                                        monkeypatch):
    """Multi-file corpora (> the few-files threshold) must plan their
    chunk descriptors EXECUTOR-side end to end (VERDICT r10 #6: the old
    index-then-collect path materialized O(|chunks|) dicts on the driver
    — hundreds of MB at 100 TB). Pinned by forbidding RDD.collect during
    planning AND by decode parity with per-file driver-path reads."""
    import pyspark.rdd

    from pcap_converter_spark.sources.pcap import read_pcap

    paths = []
    for i in range(6):  # > _DRIVER_INDEX_MAX_FILES -> distributed path
        p = str(tmp_path / f"c{i}.pcap")
        g.write_pcap(
            p, [(1_000_000 + j, _udp_pkt(j)) for j in range(10 + i)]
        )
        paths.append(p)

    orig_collect = pyspark.rdd.RDD.collect

    def _no_collect(self, *a, **k):
        raise AssertionError(
            "chunk planning collected descriptors to the driver"
        )

    monkeypatch.setattr(pyspark.rdd.RDD, "collect", _no_collect)
    try:
        df, _ = read_pcap(spark, paths, target_chunk_bytes=1 << 10)
    finally:
        monkeypatch.setattr(pyspark.rdd.RDD, "collect", orig_collect)
    got = df.groupBy("pcap_file").count().collect()
    assert {r["pcap_file"]: r["count"] for r in got} == {
        f"c{i}.pcap": 10 + i for i in range(6)
    }


def test_few_files_decode_plan_has_no_exchange(spark, tmp_path):
    """A few files plan one partition per chunk straight from the JVM: no
    Python planning stage and no shuffle in front of the decode."""
    from pcap_converter_spark.sources.pcap import read_pcap

    path = str(tmp_path / "multi.pcap")
    g.write_pcap(path, [(1_000_000 + i, _udp_pkt(i)) for i in range(200)])
    n_chunks = len(index_pcap(path, target_chunk_bytes=1 << 10))
    assert n_chunks > 1, "test needs multiple chunks"
    decoded, _ = read_pcap(spark, path, target_chunk_bytes=1 << 10)
    plan = decoded._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert decoded.rdd.getNumPartitions() == n_chunks
    assert decoded.count() == 200


def test_passthrough_convert_is_one_spark_job(spark, tmp_path):
    """Decode, the packet/error/fragment counts and the stage-1 write are
    one action; a passthrough then only renames the directory."""
    from pcap_converter_spark.operators.convert import convert

    path = str(tmp_path / "plain.pcap")
    g.write_pcap(path, [(1_000_000 + i, _udp_pkt(i)) for i in range(50)])
    sc = spark.sparkContext
    group = "test-passthrough-one-job"
    sc.setJobGroup(group, group)
    try:
        stats = convert(spark, path, str(tmp_path / "out"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert stats == {"packets": 50, "errors": 0, "fragment_pct": 0.0, "defragged": False}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
