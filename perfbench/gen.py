"""Seeded capture generator for the converter benchmark.

Two inputs are drawn from one seed:

- ``mixed.pcap``: one legacy pcap of TCP / UDP / DNS traffic with a few IP
  fragments and a known number of malformed records;
- ``frag/frag-NN.pcapng``: rotated pcapng files of UDP amplification
  responses (DNS ANY, NTP monlist), most of them IP fragments.

Packets are built with the builders of ``fixtures/pcapgen.py`` and written
record by record, so memory stays flat at any size. Addresses, ports, IP ids,
payloads and DNS names come from a seeded RNG, so the captures do not
compress better than real traffic does.

While writing, the generator records the rows the converter must produce for
every packet (``DIGEST_COLUMNS``), and keeps an order-independent digest of
them. For the fragment corpus the expected rows are the post-defrag rows: the
continuation fragments carry their first fragment's six defrag-filled
columns. Inputs and their ground truth are cached on disk keyed by seed.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import struct
import sys

import pyarrow as pa

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from fixtures import pcapgen as G  # noqa: E402

from digest import DIGEST_COLUMNS, DIGEST_TYPES, digest_table  # noqa: E402

# Input sizes (packets). The mixed capture stays below one default chunk
# (64 MB), the fragment corpus spreads over more files than the driver
# indexes itself (4), so planning runs on the executors.
MIXED_PACKETS = 60_000
FRAG_FILES = 16
FRAG_PACKETS_PER_FILE = 800
MAX_CACHED_SEEDS = 3

_MIXED_FRAG_SHARE = 0.003  # fragment packets: round(pct) stays 0 → no defrag
_MIXED_BAD_SHARE = 0.005  # malformed records, one decode error each
_FRAG_UNFRAGMENTED_SHARE = 0.23  # of datagrams: ~10% of packets
_IP_MTU_PAYLOAD = 1480  # fragment payload bytes (multiple of 8)
_EPH_PORTS = (1024, 65535)
_RESERVED_PORTS = {53, 123, 37810}  # ports the decoder treats as app layers
_DNS_TYPES = (1, 28, 15, 16, 255)


# ----------------------------------------------------------------- writers


class PcapWriter:
    """Streaming legacy pcap writer (µs timestamps, Ethernet)."""

    def __init__(self, path: str):
        self._f = open(path, "wb", buffering=1 << 20)
        self._f.write(struct.pack("<IHHiIII", 0xA1B2C3D4, 2, 4, 0, 0, 65535, 1))

    def write(self, ts_us: int, data: bytes) -> None:
        sec, us = divmod(ts_us, 1_000_000)
        self._f.write(struct.pack("<IIII", sec, us, len(data), len(data)))
        self._f.write(data)

    def close(self) -> None:
        self._f.close()


class PcapngWriter:
    """Streaming pcapng writer: SHB + one Ethernet IDB, then EPBs.
    ``tsresol`` is the interface's if_tsresol exponent (6 = µs, 9 = ns)."""

    def __init__(self, path: str, tsresol: int):
        self._f = open(path, "wb", buffering=1 << 20)
        self._scale = 10 ** (tsresol - 6)
        self._block(0x0A0D0D0A, struct.pack("<IHHq", 0x1A2B3C4D, 1, 0, -1))
        idb = struct.pack("<HHI", 1, 0, 65535)
        idb += struct.pack("<HH", 9, 1) + bytes([tsresol]) + bytes(3)
        idb += struct.pack("<HH", 0, 0)
        self._block(0x00000001, idb)

    def _block(self, btype: int, body: bytes) -> None:
        pad = (-len(body)) % 4
        total = 12 + len(body) + pad
        self._f.write(struct.pack("<II", btype, total))
        self._f.write(body)
        self._f.write(bytes(pad) + struct.pack("<I", total))

    def write(self, ts_us: int, data: bytes) -> None:
        ts = ts_us * self._scale
        head = struct.pack(
            "<IIIII", 0, ts >> 32, ts & 0xFFFFFFFF, len(data), len(data)
        )
        self._block(0x00000006, head + data)

    def close(self) -> None:
        self._f.close()


# ----------------------------------------------------------- ground truth


class Truth:
    """Expected converter rows, column by column. ``fills`` holds, per
    continuation fragment, the columns a defrag rewrite fills in."""

    def __init__(self):
        self.cols: dict[str, list] = {c: [] for c in DIGEST_COLUMNS}
        self.fills: list[tuple[int, dict]] = []
        self.packets = 0
        self.errors = 0

    def add(self, fill: dict | None = None, **row) -> None:
        if fill:
            self.fills.append((self.packets, fill))
        for c, vals in self.cols.items():
            vals.append(row.get(c))
        self.packets += 1

    def digest(self, defragged: bool) -> str:
        cols = {c: list(v) for c, v in self.cols.items()} if defragged else self.cols
        if defragged:
            for i, fill in self.fills:
                for c, v in fill.items():
                    cols[c][i] = v
        table = pa.table(
            {c: pa.array(v, type=DIGEST_TYPES[c]) for c, v in cols.items()}
        )
        return digest_table(table)


# ---------------------------------------------------------------- traffic


class Traffic:
    """Seeded address, port, id and name draws of one input. Server
    addresses start with an octet from ``server_octets``; the inputs use
    disjoint ranges, so no datagram of one shares a defrag key with the
    other when both are converted together."""

    def __init__(self, rng: random.Random, server_octets: tuple[int, int]):
        self.rng = rng
        r = rng.randrange
        self.clients = [f"10.{r(256)}.{r(256)}.{r(1, 255)}" for _ in range(20_000)]
        self.servers = [
            f"{r(*server_octets)}.{r(256)}.{r(256)}.{r(1, 255)}" for _ in range(2_000)
        ]
        words = ["".join(chr(97 + r(26)) for _ in range(r(3, 10))) for _ in range(3_000)]
        zones = [f"{w}.{rng.choice(('com', 'net', 'org', 'io'))}" for w in words[:300]]
        self.names = [f"{rng.choice(words)}.{rng.choice(zones)}" for _ in range(30_000)]
        self._ids: dict[tuple[str, str], tuple[int, int]] = {}
        self.ts = 1_600_000_000_000_000 + r(10**12)

    def skewed(self, pool: list) -> object:
        """Heavy-headed draw: a few hosts / names carry most packets."""
        return pool[int(len(pool) * self.rng.random() ** 3)]

    def port(self) -> int:
        while True:
            p = self.rng.randrange(*_EPH_PORTS)
            if p not in _RESERVED_PORTS:
                return p

    def ip_id(self, src: str, dst: str) -> int:
        """IP ids unique per (src, dst) pair, so every datagram has its own
        defrag key and no unrelated packet joins a first fragment."""
        key = (src, dst)
        start, used = self._ids.get(key) or (self.rng.randrange(65536), 0)
        if used == 65536:
            raise ValueError(f"more than 65536 datagrams for {key}")
        self._ids[key] = (start, used + 1)
        return (start + used) & 0xFFFF

    def tick(self) -> int:
        self.ts += self.rng.randrange(1, 400)
        return self.ts


def _frame(ip_packet: bytes) -> bytes:
    return G.ethernet(G.mac(1), G.mac(2), 0x0800, ip_packet)


def _tcp(t: Traffic, w, truth: Truth, name: str) -> None:
    rng = t.rng
    src, dst = t.skewed(t.clients), t.skewed(t.servers)
    sport, dport = t.port(), rng.choice((80, 443, 22, 8080, t.port()))
    if rng.random() < 0.5:
        src, dst, sport, dport = dst, src, dport, sport
    flags = rng.choice((0x02, 0x12, 0x10, 0x18, 0x11, 0x04))
    ttl, ident = rng.randrange(32, 255), rng.randrange(65536)
    payload = rng.randbytes(rng.randrange(0, 65))
    seg = G.tcp(sport, dport, flags, rng.getrandbits(32), rng.getrandbits(32))
    ts = t.tick()
    w.write(ts, _frame(G.ipv4(src, dst, 6, seg + payload, ttl=ttl, ident=ident)))
    truth.add(
        frame_time=ts, frame_len=40 + len(payload), ip_src=src, ip_dst=dst,
        ip_proto=6, ip_ttl=ttl, ip_frag_offset=0, ip_id=ident, ip_mf=False,
        tcp_flags=_flags(flags), tcp_srcport=sport, tcp_dstport=dport,
        col_protocol="TCP", pcap_file=name,
    )


def _flags(bits: int) -> str:
    """The decoder's fixed-width "CEUAPRSF" rendering, written out here so
    the ground truth does not come from the code under test."""
    return "".join(
        ch if bits & mask else "."
        for mask, ch in zip((0x80, 0x40, 0x20, 0x10, 8, 4, 2, 1), "CEUAPRSF")
    )


def _udp(t: Traffic, w, truth: Truth, name: str, dns: bool) -> None:
    rng = t.rng
    src, dst = t.skewed(t.clients), t.skewed(t.servers)
    sport, dport = t.port(), (53 if dns else t.port())
    response = rng.random() < 0.5
    if response:
        src, dst, sport, dport = dst, src, dport, sport
    extra = {}
    if dns:
        qname, qtype = t.skewed(t.names), rng.choice(_DNS_TYPES)
        payload = G.dns_query(qname, qtype, rng.randrange(65536), response)
        if response:
            payload += rng.randbytes(rng.randrange(16, 120))
        extra = dict(col_protocol="DNS", dns_qry_name=qname, dns_qry_type=qtype)
    else:
        payload = rng.randbytes(rng.randrange(8, 121))
        extra = dict(col_protocol="UDP")
    ttl, ident = rng.randrange(32, 255), t.ip_id(src, dst)
    ts = t.tick()
    datagram = G.udp(sport, dport, payload)
    w.write(ts, _frame(G.ipv4(src, dst, 17, datagram, ttl=ttl, ident=ident)))
    truth.add(
        frame_time=ts, frame_len=20 + len(datagram), ip_src=src, ip_dst=dst,
        ip_proto=17, ip_ttl=ttl, ip_frag_offset=0, ip_id=ident, ip_mf=False,
        udp_length=len(datagram), udp_srcport=sport, udp_dstport=dport,
        pcap_file=name, **extra,
    )


def _amplified(t: Traffic, w, truth: Truth, name: str, size: int) -> int:
    """One reflected UDP response (DNS ANY or NTP monlist) of ``size``
    payload bytes, fragmented when it exceeds one IP payload. Returns the
    number of packets written."""
    rng = t.rng
    src, dst = t.skewed(t.servers), t.skewed(t.clients)
    dport = t.port()
    if rng.random() < 0.6:
        sport, qname, qtype = 53, t.skewed(t.names), 255
        head = G.dns_query(qname, qtype, rng.randrange(65536), response=True)
        app = dict(col_protocol="DNS", dns_qry_name=qname, dns_qry_type=qtype)
    else:
        sport, reqcode = 123, 42
        head = G.ntp_v2_mode7(reqcode)
        app = dict(col_protocol="NTP", ntp_priv_reqcode=reqcode)
    datagram = G.udp(sport, dport, head + rng.randbytes(max(0, size - len(head))))
    ttl, ident = rng.randrange(32, 255), t.ip_id(src, dst)
    fill = dict(udp_srcport=sport, udp_dstport=dport, **app)
    pieces = [
        datagram[o : o + _IP_MTU_PAYLOAD]
        for o in range(0, len(datagram), _IP_MTU_PAYLOAD)
    ]
    for k, piece in enumerate(pieces):
        mf = k < len(pieces) - 1
        offset = k * _IP_MTU_PAYLOAD // 8
        ts = t.tick()
        w.write(ts, _frame(G.ipv4(src, dst, 17, piece, ttl=ttl, ident=ident,
                                  frag_offset=offset, mf=mf)))
        row = dict(
            frame_time=ts, frame_len=20 + len(piece), ip_src=src, ip_dst=dst,
            ip_proto=17, ip_ttl=ttl, ip_frag_offset=offset, ip_id=ident,
            ip_mf=mf, pcap_file=name,
        )
        if k == 0:
            row.update(udp_length=len(datagram), **fill)
        else:
            # continuation fragments stop at L3; a defrag rewrite fills the
            # propagated columns, col_protocol keeps its "IPv4" label
            row.update(col_protocol="IPv4", fill={
                c: v for c, v in fill.items() if c != "col_protocol"})
        truth.add(**row)
    return len(pieces)


def _malformed(t: Traffic, w, truth: Truth, name: str) -> None:
    """A record with exactly one decode error: an IPv4 header whose version
    nibble is 5, or a TCP segment cut to 10 bytes."""
    rng = t.rng
    src, dst = t.skewed(t.clients), t.skewed(t.servers)
    ttl, ident = rng.randrange(32, 255), rng.randrange(65536)
    seg = G.tcp(t.port(), 443, 0x10)[:10]
    ip = G.ipv4(src, dst, 6, seg, ttl=ttl, ident=ident)
    ts = t.tick()
    if rng.random() < 0.5:
        frame = _frame(b"\x55" + ip[1:])
        w.write(ts, frame)
        truth.add(frame_time=ts, frame_len=len(frame), ip_proto=0,
                  ip_frag_offset=0, ip_id=0, ip_mf=False, pcap_file=name)
    else:
        w.write(ts, _frame(ip))
        truth.add(
            frame_time=ts, frame_len=len(ip), ip_src=src, ip_dst=dst,
            ip_proto=6, ip_ttl=ttl, ip_frag_offset=0, ip_id=ident,
            ip_mf=False, col_protocol="IPv4", pcap_file=name,
        )
    truth.errors += 1


# ----------------------------------------------------------------- inputs


def write_mixed(path: str, n_packets: int, rng: random.Random) -> Truth:
    t, truth, name = Traffic(rng, (11, 112)), Truth(), os.path.basename(path)
    w = PcapWriter(path)
    try:
        while truth.packets < n_packets:
            u = rng.random()
            if u < _MIXED_FRAG_SHARE / 2:
                _amplified(t, w, truth, name, rng.randrange(1500, 2900))
            elif u < _MIXED_FRAG_SHARE / 2 + _MIXED_BAD_SHARE:
                _malformed(t, w, truth, name)
            elif u < 0.50:
                _tcp(t, w, truth, name)
            elif u < 0.75:
                _udp(t, w, truth, name, dns=False)
            else:
                _udp(t, w, truth, name, dns=True)
    finally:
        w.close()
    return truth


def write_frag_corpus(directory: str, n_files: int, per_file: int,
                      rng: random.Random) -> Truth:
    t, truth = Traffic(rng, (112, 224)), Truth()
    os.makedirs(directory, exist_ok=True)
    for i in range(n_files):
        name = f"frag-{i:02d}.pcapng"
        w = PcapngWriter(os.path.join(directory, name), tsresol=6 if i % 2 else 9)
        start = truth.packets
        try:
            while truth.packets - start < per_file:
                if rng.random() < _FRAG_UNFRAGMENTED_SHARE:
                    _amplified(t, w, truth, name, rng.randrange(60, 900))
                else:
                    _amplified(t, w, truth, name, rng.randrange(1500, 4400))
        finally:
            w.close()
    return truth


def inputs(cache_root: str, seed: int) -> dict:
    """Generate (or reuse) the inputs of ``seed`` → manifest dict with the
    paths and the expected packets, errors, fragment decision and digest."""
    seed_dir = os.path.join(cache_root, f"seed-{seed}")
    manifest_path = os.path.join(seed_dir, "manifest.json")
    if os.path.exists(manifest_path):
        os.utime(seed_dir)
        with open(manifest_path) as f:
            return json.load(f)
    shutil.rmtree(seed_dir, ignore_errors=True)
    os.makedirs(seed_dir)
    _evict(cache_root, keep=seed_dir)

    mixed_path = os.path.join(seed_dir, "mixed.pcap")
    frag_dir = os.path.join(seed_dir, "frag")
    mixed = write_mixed(mixed_path, MIXED_PACKETS, random.Random(seed * 2 + 1))
    frag = write_frag_corpus(
        frag_dir, FRAG_FILES, FRAG_PACKETS_PER_FILE, random.Random(seed * 2 + 2)
    )
    manifest = {
        "seed": seed,
        "mixed": _entry([mixed_path], mixed, defragged=False),
        "frag": _entry(
            sorted(os.path.join(frag_dir, n) for n in os.listdir(frag_dir)),
            frag, defragged=True,
        ),
    }
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, manifest_path)  # the manifest marks a complete seed
    return manifest


def _entry(paths: list[str], truth: Truth, defragged: bool) -> dict:
    return {
        "paths": paths,
        "bytes": sum(os.path.getsize(p) for p in paths),
        "packets": truth.packets,
        "errors": truth.errors,
        "defragged": defragged,
        "digest": truth.digest(defragged),
        "digest_defragged": truth.digest(True),
    }


def combined(manifest: dict) -> dict:
    """Both inputs converted in one call. The fragment corpus pushes the
    fragment share over the threshold, so every row is defragged; digests
    are sums of row hashes, so the expected digest is the sum of the
    inputs' defragged digests."""
    parts = [manifest["mixed"], manifest["frag"]]
    digest = sum(int(p["digest_defragged"], 16) for p in parts) % 2**64
    return {
        "paths": [path for p in parts for path in p["paths"]],
        "bytes": sum(p["bytes"] for p in parts),
        "packets": sum(p["packets"] for p in parts),
        "errors": sum(p["errors"] for p in parts),
        "defragged": True,
        "digest": f"{digest:016x}",
    }


def _evict(cache_root: str, keep: str) -> None:
    """Keep the disk cache bounded: drop the least recently used seeds."""
    dirs = [
        os.path.join(cache_root, d) for d in os.listdir(cache_root)
        if d.startswith("seed-") and os.path.join(cache_root, d) != keep
    ]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[MAX_CACHED_SEEDS - 1:]:
        shutil.rmtree(d, ignore_errors=True)
