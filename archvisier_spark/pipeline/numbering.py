"""Scalable dense sequence numbering — the counter semantics (A2).

The reference bumps an in-memory counter per work-mode over a sorted file
list (gui/processing_worker.py:320-322); with sorted input that is exactly
``row_number() OVER (PARTITION BY mode ORDER BY url)``.  A naive global
window collapses everything onto one task, which dies at 100 TB, so this
module implements the classic two-phase dense-rank:

  1. range-repartition a NARROW slice (keys only) by the order column —
     partition *i* holds a contiguous key range below partition *i+1*;
  2. ``row_number`` within each partition (parallel, no global shuffle);
  3. count rows per (partition, group) — one tiny row each — and turn the
     counts into offsets with a running-sum window over the partition ids;
     broadcast that table and add.  Nothing is collected to the driver and
     no Python runs: the offsets are a JVM plan with real size statistics,
     so the planner can size the key side of the re-attach join below.

The full-width payload never moves through the numbering shuffle; numbers
re-attach with an equi-join on the unique key, the offsets with a second
(broadcast) join on the partition id.  While the key slice is small the
planner broadcasts it and the payload streams through; beyond the
broadcast threshold the re-attach join is the one place the payload
crosses a shuffle (hash by key on both sides) — at 10^12 rows it is a
single well-partitioned co-shuffle, the standard price of attaching a
global rank; an Iceberg table with a url sort order would eliminate it
(ranks become a metadata-only merge on sorted scans).
AQE partition coalescing is safe here: merged range partitions stay
contiguous, so offsets remain correct.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F


def with_sequence(
    df: DataFrame,
    order_col: str = "url",
    partition_cols: Sequence[str] = (),
    out_col: str = "lp",
    num_range_partitions: int | None = None,
    keys_df: DataFrame | None = None,
) -> DataFrame:
    """Append a dense 1-based sequence in ``order_col`` order, restarting
    per ``partition_cols`` group, without a single-task global sort.

    ``keys_df``: optional cheap source of the SAME key set (must be 1:1
    with ``df`` on ``key_cols``).  When ``df`` is the output of an
    expensive transform (e.g. the extraction mapInArrow), deriving the
    counting slice from ``df`` would recompute that transform twice — pass
    the raw input keys instead (a column-pruned parquet scan of ``url``
    costs almost nothing)."""
    spark = df.sparkSession
    n = num_range_partitions or spark.sparkContext.defaultParallelism
    key_cols = [order_col, *partition_cols]

    source = keys_df if keys_df is not None else df
    slim = source.select(*key_cols).repartitionByRange(n, F.col(order_col))
    # CRITICAL: RangePartitioning samples split points PER EXECUTION — two
    # jobs over the same lazy plan can land rows in different partitions.
    # The offsets (counted below) and the __pid/__rn the join reads must
    # come from ONE materialisation, so pin the slim slice here.  Cost is
    # bounded: this is the pruned key slice, never the payload.
    # Cluster note: localCheckpoint stores blocks on executors — an
    # executor loss makes them unrecoverable (lineage is truncated).  On a
    # real cluster the same pin is a written table (the Iceberg index-
    # table analog, exactly like q_minhash_lsh_dedup's shingle table);
    # local mode has no executor loss, so the in-memory form is safe here.
    slim = slim.localCheckpoint(eager=True).withColumn(
        "__pid", F.spark_partition_id()
    )

    # one row per (physical partition, group): tiny.  Offset of a
    # partition = rows of the same group in all lower partitions.
    before = (
        Window.partitionBy(*partition_cols)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        slim.groupBy("__pid", *partition_cols)
        .agg(F.count("*").alias("__cnt"))
        .select(
            *partition_cols,
            "__pid",
            F.coalesce(F.sum("__cnt").over(before), F.lit(0)).alias("__offset"),
        )
    )

    w = Window.partitionBy("__pid", *partition_cols).orderBy(order_col)
    ranked = slim.withColumn("__rn", F.row_number().over(w))
    # Re-attach (key → pid, rn) to the payload BEFORE the offsets: the
    # planner sizes a join as the product of its inputs, so a ranked⋈
    # offsets subtree would look far larger than the payload and AQE
    # would broadcast the payload instead of the key slice.
    out_cols = [*key_cols, *(c for c in df.columns if c not in key_cols), out_col]
    return (
        df.join(ranked, key_cols)
        .join(F.broadcast(offsets), [*partition_cols, "__pid"])
        .withColumn(out_col, (F.col("__offset") + F.col("__rn")).cast("long"))
        .select(*out_cols)
    )


_MID_IDX_MASK = (1 << 33) - 1  # monotonically_increasing_id: low 33 bits
#                                are the record index within the partition


def with_sequence_sorted(
    df: DataFrame,
    order_col: str = "url",
    out_col: str = "lp",
    keys_df: DataFrame | None = None,
) -> DataFrame:
    """Zero-payload-shuffle numbering for PRE-SORTED input — the Iceberg
    sort-order fast path (round-3 verdict #5).

    When the table is stored sorted by ``order_col`` (an Iceberg table
    with a url sort order; each scan partition internally sorted, the
    partitions' key ranges non-overlapping), the two-phase dense rank and
    its payload re-attach join are pure overhead.  Instead:

    1. one cheap pass over a NARROW key slice collects, per scan
       partition: row count, min/max key, and an is-sorted flag
       (one output row per partition — tiny);
    2. the driver VALIDATES the sorted contract — every partition
       internally sorted, ranges non-overlapping — and raises
       ``ValueError`` otherwise (callers fall back to
       :func:`with_sequence`); partitions are ordered by range-min (NOT
       partition id: Spark's file-split planning orders splits by size
       for bin-packing, so read order ≠ key order) and prefix-summed
       into per-partition offsets;
    3. ``out_col = offset[pid] + within-partition record index + 1``,
       entirely JVM-side: ``spark_partition_id`` +
       ``monotonically_increasing_id``'s low 33 bits + a broadcast join
       of the tiny offset table.  The payload never crosses an Exchange
       and never enters Python (plan-pinned by tests/test_plan_shapes).

    ``keys_df``: same contract as :func:`with_sequence` — a cheap 1:1 key
    source sharing ``df``'s scan lineage (the raw table under a map-only
    transform).  BOTH passes must see the same partitioning: split
    planning is deterministic for the same files and config, and a
    narrow (map-only) transform preserves scan partitions, which is
    exactly the extraction pipeline's shape.  That contract is ENFORCED
    per row, not assumed: the offsets broadcast carries each partition's
    recorded ``(count, min-key, max-key)``, and every output row must
    land inside its partition's key range (ranges are non-overlapping,
    so membership pins the pid uniquely) with a record index below the
    recorded count.  Divergences that move keys across partition
    boundaries — partition reassignment, AQE coalescing/merges of scan
    partitions, a different scan plan, per-partition count growth,
    out-of-range keys — raise at evaluation time instead of emitting
    NULL or silently wrong numbers.  Residual assumption the per-row
    guard CANNOT detect: the transform between ``keys_df`` and ``df``
    must be order- and cardinality-preserving WITHIN each partition —
    intra-partition reordering or row drops still yield in-range keys
    with in-count indices and would number silently wrong (a map-only
    transform over the same scan satisfies this by construction, which
    is the documented precondition above).  A grouped restart
    (``partition_cols``) is not offered here: a constant group (the
    flagship's ``work_mode``) doesn't need one, and a genuinely varying
    group interleaved with the sort order has no JVM-side
    within-partition-per-group index — use :func:`with_sequence`.
    """
    import pandas as pd

    spark = df.sparkSession
    slim = (keys_df if keys_df is not None else df).select(order_col)
    slim = slim.withColumn("__pid", F.spark_partition_id())

    def part_stats(batches):
        pid, cnt, mn, mx, ok, last = None, 0, None, None, True, None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["__pid"].iloc[0])
            vals = pdf[order_col]
            if ok and not (
                vals.is_monotonic_increasing
                and (last is None or last <= vals.iloc[0])
            ):
                ok = False
            last = vals.iloc[-1]
            bmn, bmx = vals.min(), vals.max()
            mn = bmn if mn is None or bmn < mn else mn
            mx = bmx if mx is None or bmx > mx else mx
            cnt += len(pdf)
        if cnt:
            yield pd.DataFrame(
                {"pid": [pid], "cnt": [cnt], "mn": [mn], "mx": [mx], "ok": [ok]}
            )

    dtype = df.schema[order_col].dataType.simpleString()
    stats = slim.mapInPandas(
        part_stats, f"pid int, cnt long, mn {dtype}, mx {dtype}, ok boolean"
    ).collect()
    if not stats:
        return df.withColumn(out_col, F.lit(None).cast("long"))

    bad = [r["pid"] for r in stats if not r["ok"]]
    if bad:
        raise ValueError(
            f"with_sequence_sorted: partitions {sorted(bad)[:5]} are not "
            f"internally sorted by {order_col!r} — input lacks the sort "
            "order; use with_sequence()"
        )
    ordered = sorted(stats, key=lambda r: r["mn"])
    for prev, cur in zip(ordered, ordered[1:]):
        if prev["mx"] > cur["mn"]:
            raise ValueError(
                f"with_sequence_sorted: partition key ranges overlap "
                f"({prev['mx']!r} > {cur['mn']!r}) — input is not "
                f"range-partitioned by {order_col!r}; use with_sequence()"
            )
    offset_rows, running = [], 0
    for r in ordered:
        offset_rows.append((r["pid"], running, r["cnt"], r["mn"], r["mx"]))
        running += r["cnt"]
    # from a pandas frame, so the table is built through Arrow on the
    # driver; a Python list would go through a PythonRDD and start a
    # Python worker pool just to read five columns back
    offsets = spark.createDataFrame(
        pd.DataFrame(offset_rows, columns=["__pid", "__offset", "__cnt", "__mn", "__mx"]),
        f"__pid int, __offset long, __cnt long, __mn {dtype}, __mx {dtype}",
    )

    # Partition-contract enforcement (round-4 ADVICE): sortedness is
    # validated on the STATS pass, but df's partition assignment could
    # diverge from it (keys_df with a different scan plan, AQE/coalesce
    # upstream, files changed between the two jobs).  Every output row
    # must therefore PROVE its placement: its key lies inside its
    # partition's recorded [mn, mx] range (ranges are validated
    # non-overlapping above, so range membership pins the pid uniquely),
    # its record index is below the recorded count (count conservation),
    # and its pid exists in the offset table at all.  Any breach raises
    # at evaluation time — never a NULL or silently wrong sequence
    # number.  Cost: three comparisons per row against broadcast
    # literals; zero extra jobs over the payload.
    idx = F.monotonically_increasing_id().bitwiseAND(F.lit(_MID_IDX_MASK))
    breach = (
        F.col("__offset").isNull()
        | (F.col("__idx") >= F.col("__cnt"))
        | (F.col(order_col) < F.col("__mn"))
        | (F.col(order_col) > F.col("__mx"))
    )
    err = F.raise_error(
        F.format_string(
            "with_sequence_sorted: partition contract breach (pid=%s, "
            f"idx=%s, {order_col}=%s) — df's partitioning diverged from "
            "the keys_df stats pass; use with_sequence()",
            F.col("__pid"), F.col("__idx"), F.col(order_col),
        )
    )
    seq = (F.col("__offset") + F.col("__idx") + 1).cast("long")
    return (
        df.withColumn("__pid", F.spark_partition_id())
        .withColumn("__idx", idx)
        .join(F.broadcast(offsets), "__pid", "left")
        .withColumn(out_col, F.when(breach, err.cast("long")).otherwise(seq))
        .drop("__pid", "__idx", "__offset", "__cnt", "__mn", "__mx")
    )
