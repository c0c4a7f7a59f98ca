"""Dump .explain("formatted") for a set of queries into plans/<round>/.

    python tools/dump_plans.py r14 before [names...]
    python tools/dump_plans.py r14 after  [names...]

Default name set = the bench headline queries. Plans are captured at sf0.1
(the bench scale) so AQE-visible shapes match what the bench executes.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from dataworks_audit_data_ingest_spark.plans import formatted_plan  # noqa: E402
from dataworks_audit_data_ingest_spark.queries import all_queries  # noqa: E402
from dataworks_audit_data_ingest_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.1"


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        raise SystemExit(__doc__)
    rnd, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    if not names:
        import bench

        names = list(bench.BENCH_QUERIES)
    out = Path(__file__).resolve().parent.parent / "plans" / rnd
    spark = get_spark(f"dump-plans-{rnd}")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    out.mkdir(parents=True, exist_ok=True)
    for name in names:
        df = registry[name].fn(spark, SF)
        (out / f"{name}_{tag}.txt").write_text(formatted_plan(df))
        print(name, "ok")
    spark.stop()


if __name__ == "__main__":
    main()
