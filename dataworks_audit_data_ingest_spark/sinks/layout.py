"""Data-layout optimization: Z-order (Morton) clustering for multi-column
file pruning.

Parquet pruning works on per-file (and per-row-group) min/max statistics: a
filter can skip a file only when the file's value range excludes the
predicate. Sorting by one column clusters that column but scatters others;
interleaving the bits of several columns' ranks (the Z-order curve) gives
every listed column locality, so selective filters on ANY of them touch a
fraction of the files.

Implementation is pure JVM expressions: each column is quantized to
``bits``-bit cell indices against its own min/max (one tiny agg), the cell
bits are interleaved arithmetically, and the write is range-partitioned by
the Z-value. No UDFs, no driver-side data path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _interleave_expr(cols: list[str], bits: int) -> F.Column:
    """Morton code: bit j of column i lands at position j*len(cols)+i."""
    z = F.lit(0).cast("long")
    n = len(cols)
    for j in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(F.col(c), j).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit.cast("long"), j * n + i)
    return z


def zorder_write(
    df: DataFrame,
    path: str,
    cols: tuple[str, ...],
    n_files: int = 8,
    bits: int = 8,
    mode: str = "overwrite",
    bloom_cols: tuple[str, ...] = (),
    bloom_ndv: int | None = None,
) -> None:
    """Write ``df`` as parquet clustered on the Z-order curve of ``cols``.

    Each column is min/max-normalized to a ``bits``-bit integer cell (one
    broadcast-sized agg supplies the bounds), cells are bit-interleaved
    into a Morton code, and the output is range-partitioned by it into
    ``n_files`` files — every listed column gets min/max locality in every
    file, so selective scans on any of them prune files.

    ``bloom_cols`` writes parquet BLOOM FILTERS for the named columns —
    the pruning lever for point lookups on HIGH-CARDINALITY ids that the
    Z-order does NOT cluster (an event_id or content hash stays scattered
    across every file, so min/max and page indexes cannot skip anything;
    PERF.md records 1.4×/1.9× present/absent probe wins
    at production row-group sizes for +1.8 % disk). ``bloom_ndv`` sizes
    the filters (expected distinct values PER FILE); when omitted it is
    estimated as ``count/n_files`` from the SAME single aggregation
    pass that supplies the Z-order bounds (no extra scan of the input
    lineage) — without any sizing parquet falls back to
    ``parquet.bloom.filter.max.bytes`` and writes maximal 1 MB blooms.
    At fixture-scale row groups blooms COST more than they skip (the
    round-10 honest-negative) — turn them on for production-sized row
    groups and genuinely random point probes, not reflexively.
    """
    # ONE pass over the input computes every column's bounds AND the
    # row count (which only the bloom sizing needs); the bounds reach
    # the cell expressions as literals, so the write job itself is the
    # only other evaluation of df's lineage
    aggs = [F.count(F.lit(1)).alias("_cnt")]
    for c in cols:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"_min_{c}"),
            F.max(F.col(c).cast("double")).alias(f"_max_{c}"),
        ]
    stats = df.agg(*aggs).collect()[0]

    cells = df
    max_cell = (1 << bits) - 1
    cell_cols = []
    for c in cols:
        lo = stats[f"_min_{c}"]
        hi = stats[f"_max_{c}"]
        span = (hi - lo) if (lo is not None and hi is not None) else 0.0
        if span > 0:
            frac = (F.col(c).cast("double") - F.lit(lo)) / F.lit(span)
        else:
            frac = F.lit(0.0)
        cells = cells.withColumn(
            f"_cell_{c}",
            F.least(F.floor(frac * (max_cell + 1)).cast("long"), F.lit(max_cell)),
        )
        cell_cols.append(f"_cell_{c}")

    z = cells.withColumn("_z", _interleave_expr(cell_cols, bits))
    writer = (
        z.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z", *cell_cols)
        .write.mode(mode)
    )
    if bloom_cols:
        missing = [c for c in bloom_cols if c not in df.columns]
        if missing:
            raise ValueError(f"bloom_cols not in the frame: {missing}")
        ndv = bloom_ndv
        if ndv is None:
            # sizes only — false-positive rate degrades gracefully if
            # the per-file estimate is low; no extra job (see above)
            ndv = max(1, stats["_cnt"] // max(1, n_files))
        for c in bloom_cols:
            writer = writer.option(
                f"parquet.bloom.filter.enabled#{c}", "true"
            ).option(f"parquet.bloom.filter.expected.ndv#{c}", str(ndv))
    writer.parquet(path)


def files_touched(df_filtered: DataFrame) -> int:
    """How many distinct files hold rows matching the filter — the match
    locality a clustered layout creates. Fewer match-bearing files is
    precisely what lets min/max statistics skip the rest (file- and
    row-group-level pruning)."""
    return (
        df_filtered.select(F.input_file_name().alias("f")).distinct().count()
    )
