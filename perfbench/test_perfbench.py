"""Tests of the benchmark's own pieces: seeded inputs, the verifier, span
arithmetic and metric parsing. No Spark session is started.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
from spans import Span, Tracer, parse_metric, self_times  # noqa: E402
from workloads import ConvertJob, VerifyError, canonical_hash  # noqa: E402


def _small_inputs(monkeypatch, root, seed):
    monkeypatch.setattr(gen, "MIXED_PACKETS", 3_000)
    monkeypatch.setattr(gen, "FRAG_FILES", 5)
    monkeypatch.setattr(gen, "FRAG_PACKETS_PER_FILE", 150)
    return gen.inputs(str(root), seed)


def _bytes(entry):
    out = []
    for p in entry["paths"]:
        with open(p, "rb") as f:
            out.append(f.read())
    return out


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, monkeypatch):
    a = _small_inputs(monkeypatch, tmp_path / "a", 7)
    b = _small_inputs(monkeypatch, tmp_path / "b", 7)
    c = _small_inputs(monkeypatch, tmp_path / "c", 8)
    for key in ("mixed", "frag"):
        assert _bytes(a[key]) == _bytes(b[key])
        assert a[key]["digest"] == b[key]["digest"]
        assert _bytes(a[key]) != _bytes(c[key])
        assert a[key]["digest"] != c[key]["digest"]
    assert a["mixed"]["errors"] > 0 and a["frag"]["errors"] == 0


def test_inputs_are_cached_by_seed(tmp_path, monkeypatch):
    first = _small_inputs(monkeypatch, tmp_path, 3)
    mtime = os.path.getmtime(first["mixed"]["paths"][0])
    assert _small_inputs(monkeypatch, tmp_path, 3) == first
    assert os.path.getmtime(first["mixed"]["paths"][0]) == mtime


def test_cache_keeps_a_bounded_number_of_seeds(tmp_path, monkeypatch):
    for seed in range(gen.MAX_CACHED_SEEDS + 2):
        _small_inputs(monkeypatch, tmp_path, seed)
    assert len(os.listdir(tmp_path)) == gen.MAX_CACHED_SEEDS


def _decoded_output(entry, out):
    """The converter's stage-1 rows for ``entry``, decoded serially."""
    from pcap_converter_spark.sources.pcap import index_pcap, read_pcap_chunk

    frames = [read_pcap_chunk(c) for p in entry["paths"] for c in index_pcap(p)]
    os.makedirs(out)
    errors = 0
    for i, frame in enumerate(frames):
        errors += int(frame["errors"].sum())
        table = pa.Table.from_pandas(frame.drop(columns="errors"), preserve_index=False)
        pq.write_table(table, os.path.join(out, f"part-{i:05d}.parquet"))
    return {"packets": sum(map(len, frames)), "errors": errors, "defragged": False}


def test_verifier_accepts_the_decoded_mixed_capture(tmp_path, monkeypatch):
    entry = _small_inputs(monkeypatch, tmp_path / "in", 11)["mixed"]
    job = ConvertJob(entry, str(tmp_path / "out"))
    job.verify(_decoded_output(entry, job.out))


def _rewrite(out, fn):
    path = os.path.join(out, "part-00000.parquet")
    pq.write_table(fn(pq.read_table(path)), path)


@pytest.mark.parametrize("corrupt", ["value", "row", "count"])
def test_verifier_rejects_a_corrupted_output(tmp_path, monkeypatch, corrupt):
    entry = _small_inputs(monkeypatch, tmp_path / "in", 11)["mixed"]
    job = ConvertJob(entry, str(tmp_path / "out"))
    result = _decoded_output(entry, job.out)
    if corrupt == "value":
        def bump_ttl(t):
            ttl = t.column("ip_ttl").to_pylist()
            ttl[5] = (ttl[5] or 0) + 1
            i = t.schema.get_field_index("ip_ttl")
            return t.set_column(i, "ip_ttl", pa.array(ttl, type=t.schema.field(i).type))
        _rewrite(job.out, bump_ttl)
    elif corrupt == "row":
        _rewrite(job.out, lambda t: t.slice(1))
    else:
        result["errors"] += 1
    with pytest.raises(VerifyError):
        job.verify(result)


def test_verifier_expects_defrag_filled_fragments(tmp_path, monkeypatch):
    """The fragment corpus digest covers the six defrag-filled columns:
    stage-1 rows, before the rewrite, do not pass."""
    entry = _small_inputs(monkeypatch, tmp_path / "in", 11)["frag"]
    job = ConvertJob(entry, str(tmp_path / "out"))
    result = dict(_decoded_output(entry, job.out), defragged=True)
    with pytest.raises(VerifyError, match="digest"):
        job.verify(result)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("job", 0.0, 10.0, None, 1),
        Span("a", 1.0, 4.0, 0, 1),
        Span("b", 3.0, 5.0, 0, 1),  # overlaps a: union 1..5
        Span("c", 9.0, 12.0, 0, 1),  # runs past the parent: clipped to 9..10
        Span("a.1", 1.5, 2.0, 1, 1),
    ]
    assert self_times(spans) == pytest.approx([5.0, 2.5, 2.0, 3.0, 0.5])


def test_tracer_nests_spans_and_records_the_job():
    tr = Tracer()
    tr.job = 4
    with tr.span("outer"):
        with tr.span("inner", input="mixed"):
            pass
    outer, inner = tr.spans
    assert (outer.parent, inner.parent, inner.job) == (None, 0, 4)
    assert inner.attrs == {"input": "mixed"}
    assert outer.start <= inner.start <= inner.end <= outer.end


@pytest.mark.parametrize("text, value", [
    ("80,000", 80_000.0),
    ("16.3 MiB", 16.3 * 2**20),
    ("866 ms", 0.866),
    ("total (min, med, max (stageId: taskId))\n"
     "1.2 s (176 ms, 203 ms, 271 ms (stage 0.0: task 2))", 1.2),
    ("(min, med, max (stageId: taskId)):\n(1, 1, 1 (stage 65.0: task 66))", None),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == (pytest.approx(value) if value is not None else None)


def test_cpu_between_ignores_processes_that_exited():
    """A worker that exits between two snapshots takes its CPU total with
    it; the interval counts only the processes alive at its end."""
    from host import cpu_between

    start = {(10, 1): 5.0, (11, 2): 40.0}  # 11: an idle worker, ended later
    end = {(10, 1): 7.5, (12, 3): 1.0, (11, 9): 0.5}  # 12: new; 11: reused pid
    assert cpu_between(start, end) == pytest.approx(2.5 + 1.0 + 0.5)


def test_canonical_hash_ignores_row_order_and_number_type():
    assert canonical_hash([(1, "a"), (2.0, None)]) == canonical_hash([(2, None), (1.0, "a")])
    assert canonical_hash([(1, "a")]) != canonical_hash([(1, "b")])


def test_streaming_writers_match_the_fixture_writers(tmp_path):
    """The streaming writers produce the bytes of fixtures/pcapgen.py."""
    from fixtures import pcapgen

    rng = random.Random(1)
    packets = [(1_600_000_000_000_000 + i, rng.randbytes(60)) for i in range(20)]
    w = gen.PcapWriter(str(tmp_path / "s.pcap"))
    for ts, data in packets:
        w.write(ts, data)
    w.close()
    pcapgen.write_pcap(str(tmp_path / "f.pcap"), packets)
    assert (tmp_path / "s.pcap").read_bytes() == (tmp_path / "f.pcap").read_bytes()

    w = gen.PcapngWriter(str(tmp_path / "s.pcapng"), tsresol=9)
    for ts, data in packets:
        w.write(ts, data)
    w.close()
    pcapgen.write_pcapng(str(tmp_path / "f.pcapng"), [(1, 9)],
                         [(0, ts * 1000, data) for ts, data in packets])
    assert (tmp_path / "s.pcapng").read_bytes() == (tmp_path / "f.pcapng").read_bytes()


def test_digest_of_a_union_is_the_sum_of_digests(tmp_path, monkeypatch):
    """``gen.combined`` relies on this to expect both inputs in one output."""
    from digest import DIGEST_COLUMNS, digest_table

    m = _small_inputs(monkeypatch, tmp_path / "in", 5)
    out = str(tmp_path / "out")
    _decoded_output(m["mixed"], out)
    table = pq.read_table(out, columns=DIGEST_COLUMNS)
    halves = [table.slice(0, 1000), table.slice(1000)]
    total = sum(int(digest_table(t), 16) for t in halves) % 2**64
    assert int(digest_table(table), 16) == total

    c = gen.combined(m)
    assert c["packets"] == m["mixed"]["packets"] + m["frag"]["packets"]
    assert c["errors"] == m["mixed"]["errors"]
    assert c["defragged"] and c["paths"] == m["mixed"]["paths"] + m["frag"]["paths"]
