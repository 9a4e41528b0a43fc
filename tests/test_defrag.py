"""Defrag operator property tests (R2-R6): idempotence, row-count
preservation, non-fragmented rows untouched, missing-first-fragment NULLs,
and the convert pipeline branches."""

from __future__ import annotations

import glob
import os
import threading

import pytest
from pyspark.sql import functions as F

from fixtures import pcapgen as g
from pcap_converter_spark.operators.convert import convert
from pcap_converter_spark.operators.defrag import (
    defrag,
    defrag_if_needed,
    first_fragments,
    fragmentation_pct,
    pct_from_counts,
)

FIXTURE_PARQUET = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "fixtures", "data", "packets.parquet",
)
FIXTURE_PCAP = FIXTURE_PARQUET.replace("packets.parquet", "packets_fixture.pcap")


@pytest.fixture(scope="module")
def packets(spark):
    return spark.read.parquet(FIXTURE_PARQUET).cache()


def test_fragmentation_pct_matches_manual(spark, packets):
    pct = fragmentation_pct(packets)
    total = packets.count()
    frags = packets.filter(
        ((F.col("ip_frag_offset") == 0) & F.col("ip_mf")) | (F.col("ip_frag_offset") > 0)
    ).count()
    assert pct == round(100.0 * frags / total)


def test_defrag_preserves_rowcount_and_schema(spark, packets):
    out = defrag(packets)
    assert out.count() == packets.count()
    assert out.columns == packets.columns


def test_defrag_fills_continuation_fragments(spark, packets):
    out = defrag(packets)
    # continuation fragments of the DNS groups now carry the first
    # fragment's app-layer fields
    cont = out.filter((F.col("ip_frag_offset") > 0) & (F.col("ip_id") == 1000))
    rows = cont.collect()
    assert rows, "fixture has fragments for ip_id=1000"
    for r in rows:
        assert r["udp_dstport"] == 53
        assert r["dns_qry_name"] is not None
        # col_protocol is NOT overwritten: continuation fragments carry a
        # non-NULL 'IPv4' and coalesce keeps the left side (reference parity)
        assert r["col_protocol"] == "IPv4"


def test_defrag_missing_first_fragment_keeps_nulls(spark, packets):
    out = defrag(packets)
    orphan = out.filter(F.col("ip_id") == 4242).collect()
    assert orphan, "fixture has the orphan group 4242"
    for r in orphan:
        assert r["udp_srcport"] is None  # no first fragment to propagate


def test_defrag_leaves_nonfragmented_untouched(spark, packets):
    plain = packets.filter((F.col("ip_frag_offset") == 0) & (~F.col("ip_mf")))
    joined = defrag(packets).alias("d").join(
        plain.alias("p"), on=["frame_time"], how="inner"
    )
    diffs = joined.filter(
        ~(
            F.col("d.col_protocol").eqNullSafe(F.col("p.col_protocol"))
            & F.col("d.udp_srcport").eqNullSafe(F.col("p.udp_srcport"))
            & F.col("d.dns_qry_name").eqNullSafe(F.col("p.dns_qry_name"))
        )
    ).count()
    assert diffs == 0


def test_defrag_idempotent(spark, packets):
    once = defrag(packets)
    twice = defrag(once)
    assert once.exceptAll(twice).count() == 0
    assert twice.exceptAll(once).count() == 0


def test_defrag_if_needed_short_circuits(spark, packets):
    nonfrag = packets.filter((F.col("ip_frag_offset") == 0) & (~F.col("ip_mf")))
    result, pct = defrag_if_needed(nonfrag)
    assert pct < 1.0
    assert result is nonfrag  # passthrough, not a rewritten plan


def test_convert_pipeline_end_to_end(spark, tmp_path):
    out = str(tmp_path / "out.parquet")
    stats = convert(spark, FIXTURE_PCAP, out)
    assert stats["packets"] == 2500
    assert stats["errors"] == 0
    assert stats["defragged"]  # fixture is >1% fragmented
    produced = spark.read.parquet(out)
    assert produced.count() == 2500
    # defragged continuation rows carry DNS fields
    got = produced.filter((F.col("ip_id") == 1000) & (F.col("ip_frag_offset") > 0))
    assert got.filter(F.col("dns_qry_name").isNotNull()).count() == got.count()


def test_convert_nodefrag_passthrough(spark, tmp_path):
    out = str(tmp_path / "raw.parquet")
    stats = convert(spark, FIXTURE_PCAP, out, nodefrag=True)
    assert not stats["defragged"]
    produced = spark.read.parquet(out)
    cont = produced.filter((F.col("ip_id") == 1000) & (F.col("ip_frag_offset") > 0))
    assert cont.filter(F.col("dns_qry_name").isNull()).count() == cont.count()


# ------------------------------------------------ R2 decision from counts

M1, M2 = g.mac(1), g.mac(2)


def _plain_udp(i: int) -> bytes:
    return g.ethernet(M1, M2, 0x0800, g.ipv4(
        "10.0.0.1", "10.0.0.2", 17, g.udp(1000 + i % 5000, 9, b"abcd"), ident=i))


def _fragment(i: int) -> bytes:
    # a continuation fragment: offset > 0 counts under fragment_predicate
    return g.ethernet(M1, M2, 0x0800, g.ipv4(
        "10.0.9.1", "10.0.9.2", 17, b"x" * 16, ident=50_000 + i, frag_offset=3))


def _capture(path: str, n_packets: int, n_fragments: int) -> str:
    pkts = [_fragment(i) for i in range(n_fragments)]
    pkts += [_plain_udp(i) for i in range(n_packets - n_fragments)]
    g.write_pcap(path, [(1_000_000 + i, p) for i, p in enumerate(pkts)])
    return path


def _convert_within(spark, *args, timeout_s: float = 120, **kwargs) -> dict:
    """convert() on a daemon thread: a hang (e.g. in Observation.get)
    fails the test instead of stalling the suite."""
    box: dict = {}

    def run():
        try:
            box["stats"] = convert(spark, *args, **kwargs)
        except Exception as e:  # re-raised on the test thread
            box["error"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout_s)
    assert not t.is_alive(), f"convert() still running after {timeout_s} s"
    if "error" in box:
        raise box["error"]
    return box["stats"]


def _old_aggregate_pct(df) -> float:
    """R2 as the single rounded aggregate it used to be."""
    frag = F.count(F.when(
        ((F.col("ip_frag_offset") == 0) & F.col("ip_mf")) | (F.col("ip_frag_offset") > 0),
        F.lit(1),
    ))
    return float(df.agg(F.round(100.0 * frag / F.count(F.lit(1))).alias("p")).first()["p"])


@pytest.mark.parametrize(
    "n_packets,n_fragments,want_pct",
    [(200, 0, 0.0), (250, 1, 0.0), (200, 1, 1.0), (100, 90, 90.0)],
    ids=["0pct", "0.4pct", "0.5pct", "90pct"],
)
def test_convert_decision_matches_rounded_aggregate(spark, tmp_path, n_packets,
                                                    n_fragments, want_pct):
    """The decision from the observed counts equals the old
    round(100*count(when)/count) aggregate; 0.5% rounds HALF_UP to 1 and
    is defragged at the default 1.0 threshold."""
    path = _capture(str(tmp_path / "c.pcap"), n_packets, n_fragments)
    out = str(tmp_path / "out")
    stats = _convert_within(spark, path, out)
    produced = spark.read.parquet(out)
    assert stats["packets"] == produced.count() == n_packets
    assert stats["fragment_pct"] == _old_aggregate_pct(produced) == want_pct
    assert stats["defragged"] == (want_pct >= 1.0)


def test_pct_from_counts_matches_spark_round(spark):
    """Driver-side rounding agrees with Spark's round() on the same
    double quotient, including the exact .5 ties."""
    pairs = [(f, p) for p in (1, 2, 3, 7, 8, 40, 199, 200, 1000, 60_000)
             for f in range(0, min(p, 41))] + [(1, 200), (5, 1000), (3, 8)]
    df = spark.createDataFrame(pairs, "f long, p long")
    got = df.select("f", "p", F.round(100.0 * F.col("f") / F.col("p")).alias("r")).collect()
    for r in got:
        assert pct_from_counts(r["f"], r["p"]) == r["r"], (r["f"], r["p"])
    assert pct_from_counts(0, 0) == 0.0


def _header_only_pcap(tmp_path) -> str:
    path = str(tmp_path / "empty.pcap")
    g.write_pcap(path, [])
    return path


def _interfaces_only_pcapng(tmp_path) -> str:
    path = str(tmp_path / "empty.pcapng")
    g.write_pcapng(path, interfaces=[(1, 6)], packets=[])
    return path


@pytest.mark.parametrize("make", [_header_only_pcap, _interfaces_only_pcapng],
                         ids=["pcap_header_only", "pcapng_shb_idb_only"])
def test_convert_zero_packets(spark, tmp_path, make):
    """A capture with no packets converts to an empty table: 0% fragments,
    passthrough, no divide-by-zero and no hang."""
    out = str(tmp_path / "out")
    stats = _convert_within(spark, make(tmp_path), out)
    assert stats == {"packets": 0, "errors": 0, "fragment_pct": 0.0, "defragged": False}
    assert spark.read.parquet(out).count() == 0


def test_zero_packet_fragmentation_pct_and_defrag_if_needed(spark, packets):
    empty = packets.limit(0)
    assert fragmentation_pct(empty) == 0.0
    result, pct = defrag_if_needed(empty)
    assert result is empty and pct == 0.0


@pytest.mark.parametrize("nodefrag", [False, True], ids=["passthrough", "nodefrag"])
def test_convert_single_file_passthrough_writes_one_part(spark, tmp_path, nodefrag):
    """single_file=True still coalesces the stage-1 Parquet to one part
    file on both non-defrag branches."""
    path = str(tmp_path / "multi.pcap")
    g.write_pcap(path, [(1_000_000 + i, _plain_udp(i)) for i in range(300)])
    out = str(tmp_path / "out")
    stats = convert(spark, path, out, nodefrag=nodefrag, single_file=True,
                    target_chunk_bytes=1 << 10)
    assert not stats["defragged"]
    assert len(glob.glob(os.path.join(out, "part-*.parquet"))) == 1
    assert spark.read.parquet(out).count() == 300
