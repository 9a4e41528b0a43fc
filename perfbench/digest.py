"""Order-independent digest of packet rows.

Each row hashes to one 64-bit value that depends on every digest column and
its position; the digest is the wrapping sum of the row hashes. Row order
and file layout do not change it, any changed, missing or extra row does.
The generator digests the rows it expects, the verifier the rows the
converter wrote, through the same function.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

# Columns the generator sets; the last six of the defrag-fill set are the
# ones continuation fragments receive from their first fragment.
DIGEST_TYPES: dict[str, pa.DataType] = {
    "frame_time": pa.int64(),  # µs since the epoch
    "frame_len": pa.int64(),
    "ip_src": pa.string(),
    "ip_dst": pa.string(),
    "ip_proto": pa.int64(),
    "ip_ttl": pa.int64(),
    "ip_frag_offset": pa.int64(),
    "ip_id": pa.int64(),
    "ip_mf": pa.bool_(),
    "udp_length": pa.int64(),
    "tcp_flags": pa.string(),
    "tcp_srcport": pa.int64(),
    "tcp_dstport": pa.int64(),
    "pcap_file": pa.string(),
    "udp_srcport": pa.int64(),
    "udp_dstport": pa.int64(),
    "ntp_priv_reqcode": pa.int64(),
    "dns_qry_type": pa.int64(),
    "dns_qry_name": pa.string(),
    "col_protocol": pa.string(),
}
DIGEST_COLUMNS = list(DIGEST_TYPES)

_NULL_INT = -(2**62)
_NULL_STR = "\x00null"


def _column_hash(col: pa.ChunkedArray | pa.Array) -> np.ndarray:
    if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
        values = pc.fill_null(col, _NULL_STR).to_numpy(zero_copy_only=False)
        return pd.util.hash_array(values, categorize=True)
    if pa.types.is_timestamp(col.type):
        col = col.cast(pa.timestamp("us")).cast(pa.int64())
    ints = pc.fill_null(col.cast(pa.int64()), _NULL_INT).to_numpy()
    return pd.util.hash_array(ints.astype(np.int64))


def digest_table(table: pa.Table) -> str:
    """Digest of ``table``'s DIGEST_COLUMNS → 16 hex digits."""
    row = np.zeros(table.num_rows, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for k, name in enumerate(DIGEST_COLUMNS):
            h = _column_hash(table.column(name))
            row = pd.util.hash_array(row ^ h) + np.uint64(k)
        total = int(pd.util.hash_array(row).sum(dtype=np.uint64))
    return f"{total:016x}"
