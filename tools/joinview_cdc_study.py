"""Measured study: CDC join-view maintenance vs per-refresh full re-join
under a MIXED change workload (inserts + value updates + deletes) as
history grows — the evidence behind `incremental/joinview_cdc.py`'s
O(Δ) claim, plus the bucket-pruning ratio of the resolved old-side
reads and the z-set's net-vs-raw growth across a semantic compaction.

    python tools/joinview_cdc_study.py [n_batches] [n_buckets]

Slices sf0.1 orders (left) and customer (right) into hash classes; each
batch inserts class b on both sides, UPDATES a slice of class b-1
orders (totalprice bumped), and DELETES a slice of class b-2 orders. At
every step times (a) `update_join_view_cdc` + the net view read against
(b) a full re-join over the maintained current states, asserts multiset
equality, and reports the rows the pruned resolved old-side reads
actually scan vs the whole resolved store.
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
    side_path,
)
from dataworks_audit_data_ingest_spark.incremental.joinview_cdc import (  # noqa: E402
    _ops_current,
    compact_join_view_cdc,
    read_join_view_cdc,
    update_join_view_cdc,
)
from dataworks_audit_data_ingest_spark.session import tune  # noqa: E402
from dataworks_audit_data_ingest_spark.tables import table  # noqa: E402

SF = "/root/testdata/sf0.1"


def _checksum(df):
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64(
                *[F.col(c).cast("string") for c in sorted(df.columns)]
            ).cast("decimal(38,0)")
        ).alias("h"),
    ).collect()[0]
    return row.n, row.h


def clustered(spark, orders, cust) -> None:
    """The bucket-pruning leg the mixed workload cannot show: a hash
    class of ~25k orders sprays across every key bucket, so the mixed
    study honestly reads the whole resolved store. Real CDC update
    batches are usually NARROW — a few entities change — so this leg
    seeds the full store once (n_buckets=256), then applies small
    update batches touching 8 customers each and reports the resolved
    rows the pruned read scans vs the whole store."""
    from pyspark.sql import functions as F

    spec = JoinViewSpec(
        key="c_custkey",
        left_id="o_orderkey",
        right_id="c_custkey",
        n_buckets=256,
    )
    root = tempfile.mkdtemp(prefix="joinview_cdc_clustered_") + "/view"
    update_join_view_cdc(
        spark, root, "0000", spec,
        left_upserts=orders, right_upserts=cust,
    )
    print("\nclustered-delta leg (store seeded with everything; "
          "8-customer update batches; n_buckets=256):")
    print("| batch | Δ keys | Δ rows | pruned resolved rows "
          "| whole resolved store | prune ratio | cdc s |")
    print("|---|---|---|---|---|---|---|")
    for b in range(1, 4):
        keys = cust.select("c_custkey").filter(
            F.expr(f"c_custkey % 1877 = {b}")
        ).limit(8)
        ups = (
            orders.join(F.broadcast(keys), "c_custkey", "left_semi")
            .withColumn("o_totalprice", F.expr("o_totalprice + 1.0"))
            .localCheckpoint(eager=True)
        )
        t0 = time.monotonic()
        update_join_view_cdc(
            spark, root, f"{b:04d}", spec, left_upserts=ups
        )
        t_cdc = time.monotonic() - t0
        probe = ups.select("c_custkey")
        a_p = _ops_current(
            spark, side_path(root, "left"), "never/a", spec,
            spec.left_id, probe,
        )
        a_all = _ops_current(
            spark, side_path(root, "left"), "never/a", spec,
            spec.left_id, None,
        )
        pruned = a_p.count() if a_p is not None else 0
        whole = a_all.count() if a_all is not None else 0
        print(
            f"| {b} | {keys.count()} | {ups.count()} | {pruned} "
            f"| {whole} | {pruned / max(1, whole):.3f} | {t_cdc:.2f} |"
        )


def main() -> int:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    n_buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .appName("joinview-cdc-study")
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
    root = tempfile.mkdtemp(prefix="joinview_cdc_study_") + "/view"

    def ocls(b: int):
        return orders.filter(
            F.pmod(F.xxhash64("o_orderkey"), F.lit(n_batches)) == b
        )

    def ccls(b: int):
        return cust.filter(
            F.pmod(F.xxhash64("c_custkey"), F.lit(n_batches)) == b
        )

    cur_l = cur_r = None  # maintained ground-truth current states
    print(
        "| batch | ins L/R | upd | del | Δ total | pruned resolved rows "
        "| whole resolved store | raw view rows | cdc update+read s "
        "| full re-join s |"
    )
    print("|---|---|---|---|---|---|---|---|---|---|")
    for b in range(n_batches):
        ins_l = ocls(b)
        ins_r = ccls(b)
        upd = (
            ocls(b - 1)
            .filter(F.expr("o_orderkey % 5 = 0"))
            .withColumn("o_totalprice", F.expr("o_totalprice + 1.0"))
            if b >= 1
            else None
        )
        dels = (
            ocls(b - 2)
            .filter(F.expr("o_orderkey % 7 = 0"))
            .select("c_custkey", "o_orderkey")
            if b >= 2
            else None
        )
        ups = ins_l if upd is None else ins_l.unionByName(upd)
        ups = ups.localCheckpoint(eager=True)
        ins_r = ins_r.localCheckpoint(eager=True)
        if dels is not None:
            dels = dels.localCheckpoint(eager=True)

        t0 = time.monotonic()
        counts = update_join_view_cdc(
            spark,
            root,
            f"{b:04d}",
            spec,
            left_upserts=ups,
            left_deletes=dels,
            right_upserts=ins_r,
        )
        inc = _checksum(read_join_view_cdc(spark, root))
        t_cdc = time.monotonic() - t0

        # ground truth: maintain current states and re-join from scratch
        touched = ups.select("o_orderkey")
        if dels is not None:
            touched = touched.unionByName(dels.select("o_orderkey"))
        cur_l = (
            ups
            if cur_l is None
            else cur_l.join(touched, "o_orderkey", "left_anti").unionByName(
                ups
            )
        ).localCheckpoint(eager=True)
        cur_r = (
            ins_r if cur_r is None else cur_r.unionByName(ins_r)
        ).localCheckpoint(eager=True)
        t0 = time.monotonic()
        full = _checksum(cur_l.join(cur_r, on="c_custkey"))
        t_full = time.monotonic() - t0
        if inc != full:
            raise SystemExit(f"batch {b}: view {inc} != full join {full}")

        # what the NEXT batch's pruned resolved reads would scan
        probe = ocls((b + 1) % n_batches).select("c_custkey")
        a_p = _ops_current(
            spark, side_path(root, "left"), "never/a", spec,
            spec.left_id, probe,
        )
        a_all = _ops_current(
            spark, side_path(root, "left"), "never/a", spec,
            spec.left_id, None,
        )
        pruned = a_p.count() if a_p is not None else 0
        whole = a_all.count() if a_all is not None else 0
        raw_view = spark.read.parquet(side_path(root, "view")).count()
        print(
            f"| {b} | {ins_l.count()}/{ins_r.count()} "
            f"| {0 if upd is None else upd.count()} "
            f"| {0 if dels is None else dels.count()} "
            f"| {counts['view_inserts']}+{counts['view_retractions']}Δ "
            f"| {pruned} | {whole} | {raw_view} "
            f"| {t_cdc:.2f} | {t_full:.2f} |"
        )
        if b == n_batches // 2:
            folded = compact_join_view_cdc(
                spark, root, spec, exclude=(f"{b:04d}",)
            )
            net = read_join_view_cdc(spark, root).count()
            raw = spark.read.parquet(side_path(root, "view")).count()
            print(
                f"|   | semantic compaction after batch {b}: folded "
                f"{folded}; raw view rows -> {raw} (net {net}) | | | | "
                "| | | | |"
            )
    print(
        "\nnet view == full re-join at every step; CDC join inputs are "
        "Δ-sized against bucket-pruned resolved reads; compaction folds "
        "the z-set to its net"
    )
    clustered(spark, orders, cust)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
