"""SCD2 incremental sink under sustained churn (VERDICT r8 #7).

``scd2_sink_incremental`` claims O(dimension)-per-batch cost with O(1)
directories under periodic ``compact_scd2_closed`` — round 8 measured it
only at single-batch sf1 scale. This bench drives a LONG feed through
the sink: ``--batches`` micro-batches of ``--churn`` updated keys each
over an sf1-sized dimension (150k customers from testdata_local/sf1cdc,
or synthesized), compacting every ``--compact-every`` batches, and
records per-batch wall latency plus the closed-family directory count
and byte footprint — the numbers that would grow without bound if
either the O(dim)/batch or the O(1)-dirs claim were wrong.

Appends one ``scd2_churn`` record to bench_history.jsonl:

    python tools/scd2_churn_bench.py                  # 50 batches
    python tools/scd2_churn_bench.py --batches 20 --compact-every 5
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="testdata_local/sf1cdc")
    ap.add_argument("--batches", type=int, default=50)
    ap.add_argument("--churn", type=int, default=5000,
                    help="updated keys per batch")
    ap.add_argument("--compact-every", type=int, default=10)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from big_data_project_spark import streaming as st
    from big_data_project_spark.session import get_spark

    spark = get_spark(app_name="scd2-churn")
    cust = spark.read.parquet(
        os.path.join(REPO, args.sf_dir, "customer.parquet")
    )
    n_keys = cust.count()
    work = tempfile.mkdtemp(prefix="scd2churn_")
    src = os.path.join(work, "src")
    tgt = os.path.join(work, "tgt")
    ck = os.path.join(work, "ck")

    def feed(batch_no: int):
        """batch 0 seeds the FULL dimension (so every later apply runs
        against a dimension-sized open snapshot — the O(dim)/batch cost
        under test); each later batch re-updates the same churn-sized
        hot set with a new segment value, closing churn versions per
        batch — worst-case pressure on the closed family."""
        keys = cust.select(F.col("c_custkey").alias("cust"))
        if batch_no > 0:
            keys = keys.where(F.col("cust") % n_keys < args.churn)
        return keys.withColumn(
            "seg", F.concat(F.lit(f"S{batch_no}-"), F.col("cust"))
        ).withColumn(
            "u_ts",
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.expr(f"INTERVAL {int(batch_no)} MINUTE"),
        )

    schema = feed(0).schema
    feed(0).write.mode("overwrite").parquet(src)
    q = st.scd2_sink_incremental(
        spark.readStream.schema(schema).parquet(src),
        tgt, ck, "cust", "u_ts", ["seg"],
    )
    lat, dirs_series, bytes_series = [], [], []
    compactions = 0
    closed_root = os.path.join(tgt, "closed")

    def closed_stats():
        n_dirs, n_bytes = 0, 0
        if os.path.isdir(closed_root):
            for d in os.listdir(closed_root):
                p = os.path.join(closed_root, d)
                if not os.path.isdir(p) or d.startswith("."):
                    continue
                n_dirs += 1
                for root, _, files in os.walk(p):
                    n_bytes += sum(
                        os.path.getsize(os.path.join(root, f)) for f in files
                    )
        return n_dirs, n_bytes

    t0 = time.monotonic()
    q.processAllAvailable()
    lat.append(round(time.monotonic() - t0, 3))
    for b in range(1, args.batches):
        feed(b).write.mode("append").parquet(src)
        t0 = time.monotonic()
        q.processAllAvailable()
        lat.append(round(time.monotonic() - t0, 3))
        if b % args.compact_every == 0:
            st.compact_scd2_closed(spark, tgt)
            compactions += 1
        d, byts = closed_stats()
        dirs_series.append(d)
        bytes_series.append(byts)
    q.stop()

    hist_rows = st.scd2_history(spark, tgt).count()
    open_rows = spark.read.parquet(os.path.join(tgt, "open")).count()
    rec = {
        "metric": "scd2_churn",
        "sf_dir": args.sf_dir,
        "n_keys": int(n_keys),
        "batches": args.batches,
        "churn_per_batch": args.churn,
        "compact_every": args.compact_every,
        "compactions": compactions,
        "batch_sec_first": lat[0],
        "batch_sec_mid": lat[len(lat) // 2],
        "batch_sec_last": lat[-1],
        "batch_sec_mean": round(sum(lat) / len(lat), 3),
        "batch_sec_max": max(lat),
        "closed_dirs_max": max(dirs_series),
        "closed_dirs_final": dirs_series[-1],
        "closed_gb_final": round(bytes_series[-1] / 1e9, 3),
        "history_rows": int(hist_rows),
        "open_rows": int(open_rows),
        "loadavg": list(os.getloadavg()),
    }
    print(json.dumps(rec))
    with open(os.path.join(REPO, "bench_history.jsonl"), "a") as fh:
        fh.write(json.dumps(rec) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
