"""UDP fragment repair — the reference's entire query layer, Spark-first.

Mirrors /root/reference/src/main.rs:268-301 (R2-R6 in SURVEY.md §2.3):

- R2 ``fragmentation_pct``: the reference runs a filtered COUNT with a scalar
  subquery (main.rs:274). Here the plan only counts — ``fragment_count()``
  and the row count, as one conditional aggregate or as observations on a
  write — and ``pct_from_counts`` divides on the driver with Spark's HALF_UP
  ``round``, so a capture with no packets reads 0% instead of dividing by
  zero. ``convert`` observes the count on its stage-1 write: no extra scan.
- R3 branch: <1% fragmented → skip the rewrite entirely (main.rs:277-284).
- R4 ``first_fragments``: one row per fragmented UDP datagram carrying its
  first fragment's app-layer fields. The reference uses DuckDB ``first()``
  whose result is scan-order-dependent; we pin deterministic semantics with
  ``min_by(col, frame_time)`` (SURVEY.md §2.3 note).
- R5 ``defrag``: left join packets→ff on the 4-key datagram identity and
  coalesce the six propagated columns (main.rs:296). ``ff`` is one row per
  fragmented datagram — tiny relative to packets — so it is explicitly
  ``broadcast()``: at 100 TB the join stays shuffle-free on the big side.
- R6: the caller writes the result (``convert`` below / io sinks).

Scale notes: the only wide operation is the groupBy in R4, keyed by datagram
identity — high-cardinality, evenly distributed keys (src/dst/id), so no
skew salting is needed; AQE handles stragglers. The R5 join is broadcast, so
the 100 TB side is never shuffled.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pcap_converter_spark.schema import (
    DEFRAG_FILL_COLUMNS,
    DEFRAG_JOIN_KEYS,
    PACKET_COLUMNS,
)

def fragment_predicate() -> "F.Column":
    """Matches main.rs:274: first fragments (offset=0 AND mf) plus
    continuations (offset>0). Depends on ip_frag_offset/ip_mf being non-null
    (schema.py). Built lazily — Columns need an active session."""
    return (
        (F.col("ip_frag_offset") == 0) & (F.col("ip_mf") == True)  # noqa: E712
    ) | (F.col("ip_frag_offset") > 0)


def fragment_count() -> "F.Column":
    """Aggregate: number of fragment rows (``fragment_predicate``)."""
    return F.count(F.when(fragment_predicate(), F.lit(1))).alias("fragments")


def pct_from_counts(fragments: int, packets: int) -> float:
    """R2's percentage from exact counts: ``round(100.0 * fragments /
    packets)`` as Spark evaluates it (double arithmetic, then HALF_UP on
    the double's decimal form), and 0.0 for no packets."""
    if packets == 0:
        return 0.0
    pct = Decimal(repr(100.0 * fragments / packets))
    return float(pct.quantize(Decimal(1), rounding=ROUND_HALF_UP))


def fragmentation_pct(packets: DataFrame) -> float:
    """R2: % of rows that are fragments, from one conditional aggregate."""
    row = packets.agg(fragment_count(), F.count(F.lit(1)).alias("packets")).collect()[0]
    return pct_from_counts(row["fragments"], row["packets"])


def first_fragments(packets: DataFrame) -> DataFrame:
    """R4: grouped-first over fragmented UDP datagrams (main.rs:292),
    deterministic via min_by(·, frame_time)."""
    return (
        packets.filter(
            (F.col("ip_proto") == 17)
            & (F.col("ip_mf") == True)  # noqa: E712
            & (F.col("ip_frag_offset") == 0)
        )
        .groupBy(*DEFRAG_JOIN_KEYS)
        .agg(
            *[
                F.min_by(F.col(c), F.col("frame_time")).alias(c)
                for c in DEFRAG_FILL_COLUMNS
            ]
        )
    )


def defrag(packets: DataFrame, broadcast: bool = True) -> DataFrame:
    """R5: propagate first-fragment fields to continuation fragments.

    Left join on the 4-key datagram identity + coalesce×6, projecting the
    31 normative columns. ``ff`` (one row per fragmented datagram) is
    broadcast by default — the packets side is never shuffled, which is
    what makes this viable at 100 TB. For pathological captures where the
    fragmented-datagram count itself is huge (ff too big to broadcast),
    pass ``broadcast=False``: the join shuffles both sides on the 4 keys
    and AQE still converts back to broadcast at runtime if ff turns out
    small.
    """
    ff = first_fragments(packets)
    p = packets.alias("p")
    f = (F.broadcast(ff) if broadcast else ff).alias("ff")
    projection = [
        F.coalesce(F.col(f"p.{c}"), F.col(f"ff.{c}")).alias(c)
        if c in DEFRAG_FILL_COLUMNS
        else F.col(f"p.{c}").alias(c)
        for c in PACKET_COLUMNS
    ]
    return p.join(f, on=DEFRAG_JOIN_KEYS, how="left").select(*projection)


def defrag_if_needed(
    packets: DataFrame, threshold_pct: float = 1.0
) -> tuple[DataFrame, float]:
    """R2+R3: the reference's conditional plan branch (main.rs:274-284).

    Returns (result_df, measured_pct); below the threshold the input passes
    through untouched (the cheap aggregate guards the expensive rewrite).
    """
    pct = fragmentation_pct(packets)
    if pct < threshold_pct:
        return packets, pct
    return defrag(packets), pct
