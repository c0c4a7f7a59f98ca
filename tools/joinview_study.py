"""Measured study: incremental join-view maintenance vs per-refresh full
re-join as both sides grow — the evidence behind
`incremental/joinview.py`'s O(Δ) update claim, plus the bucket-pruning
ratio of the old-side reads.

    python tools/joinview_study.py [n_batches] [n_buckets]

Slices sf0.1 orders (left) and customer (right) into hash batches; at
every step times (a) `update_join_view` + the view read against (b) a
full re-join over the UNION of all rows so far. View equality with the
full join is asserted at every step (count + order-insensitive row-hash
sum). Also reports the rows each approach actually joins: the
incremental side joins |Δ|-sized probes against bucket-pruned store
scans, the recompute re-joins everything.
"""

from __future__ import annotations

import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from dataworks_audit_data_ingest_spark.incremental.joinview import (  # noqa: E402
    JoinViewSpec,
    _old_side,
    side_path,
    read_join_view,
    update_join_view,
)
from dataworks_audit_data_ingest_spark.session import tune  # noqa: E402
from dataworks_audit_data_ingest_spark.tables import table  # noqa: E402

SF = "/root/testdata/sf0.1"


def _checksum(df):
    """(rows, order-insensitive content hash) — cheap multiset identity."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64(
                *[F.col(c).cast("string") for c in sorted(df.columns)]
            ).cast("decimal(38,0)")  # exact, overflow-proof under ANSI
        ).alias("h"),
    ).collect()[0]
    return row.n, row.h


def main() -> int:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    n_buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .appName("joinview-study")
        .getOrCreate()
    )
    tune(spark)
    orders = table(spark, SF, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("c_custkey"),
        "o_totalprice",
    )
    cust = table(spark, SF, "customer").select("c_custkey", "c_mktsegment")
    print(f"orders: {orders.count()}  customer: {cust.count()}  at {SF}")
    spec = JoinViewSpec(
        key="c_custkey",
        left_id="o_orderkey",
        right_id="c_custkey",
        n_buckets=n_buckets,
    )
    root = tempfile.mkdtemp(prefix="joinview_study_") + "/view"
    lu = ru = None
    print(
        "| batch | Δleft | Δright | union L/R | pruned old-side rows "
        "| stored rows | update+read s | full re-join s |"
    )
    print("|---|---|---|---|---|---|---|---|")
    for b in range(n_batches):
        ld = orders.filter(
            F.pmod(F.xxhash64("o_orderkey"), F.lit(n_batches)) == b
        ).localCheckpoint(eager=True)
        rd = cust.filter(
            F.pmod(F.xxhash64("c_custkey"), F.lit(n_batches)) == b
        ).localCheckpoint(eager=True)
        lu = ld if lu is None else lu.unionByName(ld)
        ru = rd if ru is None else ru.unionByName(rd)
        lu = lu.localCheckpoint(eager=True)
        ru = ru.localCheckpoint(eager=True)

        t0 = time.monotonic()
        update_join_view(
            spark, root, str(b), spec, left_delta=ld, right_delta=rd
        )
        inc = _checksum(read_join_view(spark, root))
        t_inc = time.monotonic() - t0

        t0 = time.monotonic()
        full_df = lu.join(ru, on="c_custkey")
        full = _checksum(full_df)
        t_full = time.monotonic() - t0

        if inc != full:
            raise SystemExit(
                f"batch {b}: view {inc} != full join {full}"
            )
        # what the NEXT batch's old-side reads would scan, pruned by a
        # delta-sized probe vs the whole store
        a_pruned = _old_side(
            spark, side_path(root, "left"), "__probe__", spec, rd
        )
        b_pruned = _old_side(
            spark, side_path(root, "right"), "__probe__", spec, ld
        )
        a_all = _old_side(
            spark, side_path(root, "left"), "__probe__", spec, None
        )
        b_all = _old_side(
            spark, side_path(root, "right"), "__probe__", spec, None
        )
        pruned = (a_pruned.count() if a_pruned is not None else 0) + (
            b_pruned.count() if b_pruned is not None else 0
        )
        stored = (a_all.count() if a_all is not None else 0) + (
            b_all.count() if b_all is not None else 0
        )
        print(
            f"| {b} | {ld.count()} | {rd.count()} "
            f"| {lu.count()}/{ru.count()} | {pruned} | {stored} "
            f"| {t_inc:.2f} | {t_full:.2f} |"
        )
    print(
        "\nview == full join at every step; pruned old-side rows track "
        "the delta's key buckets, stored rows track history"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
