"""Price the lineage-cut strategies (VERDICT r8 #5).

SCALE.md's 100 TB recipe says "set ``spark.bdps.lineageCut=reliable``"
— correctness is oracle-verified, but the recommendation shipped with
no cost number. This bench runs the top cut-heavy headliners at sf1
under each strategy in ISOLATED mode (fresh JVM per (query, mode), own
warmup, median of 3) so a deployer can choose with numbers:

- ``local``     — localCheckpoint: executor blocks, lineage truncated
                  (fails the job on executor loss on a real cluster)
- ``reliable``  — persist + checkpoint to a durable dir: survives
                  executor loss; pays one extra write of the cut subtree

Appends one ``lineage_cut_cost`` record to bench_history.jsonl:

    python tools/lineage_cut_bench.py
    python tools/lineage_cut_bench.py --sf-dir testdata_local/sf1 \
        --queries dd_near_dedup_lsh,dd_span_dedup,gr_pagerank
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

MODES = ("local", "reliable")
DEFAULT_QUERIES = "dd_near_dedup_lsh,dd_span_dedup,gr_pagerank"


def run_one(name: str, mode: str, sf_dir: str, n_runs: int) -> int:
    """Child: fresh JVM, one (query, mode); prints one JSON line."""
    from big_data_project_spark.registry import REGISTRY
    from big_data_project_spark.session import get_spark

    spark = get_spark(app_name=f"lineage-{mode}-{name}")
    spark.conf.set("spark.bdps.lineageCut", mode)
    ckdir = tempfile.mkdtemp(prefix="bdps_ck_")
    spark.conf.set("spark.bdps.checkpointDir", ckdir)
    REGISTRY[name].build(spark, sf_dir).collect()  # warmup this plan
    times = []
    for _ in range(n_runs):
        spark.catalog.clearCache()  # a reliable-mode cache left over would bias
        t0 = time.monotonic()
        REGISTRY[name].build(spark, sf_dir).collect()
        times.append(time.monotonic() - t0)
    times.sort()
    print(
        json.dumps(
            {
                "median": round(times[len(times) // 2], 3),
                "min": round(times[0], 3),
            }
        )
    )
    spark.stop()
    import shutil

    shutil.rmtree(ckdir, ignore_errors=True)
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="testdata_local/sf1")
    ap.add_argument("--queries", default=DEFAULT_QUERIES)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--one", nargs=2, metavar=("QUERY", "MODE"))
    args = ap.parse_args()
    sf_dir = (
        args.sf_dir
        if os.path.isabs(args.sf_dir)
        else os.path.join(REPO, args.sf_dir)
    )
    if args.one:
        return run_one(args.one[0], args.one[1], sf_dir, args.runs)

    out: dict[str, dict[str, float]] = {}
    for name in args.queries.split(","):
        out[name] = {}
        for mode in MODES:
            child = subprocess.run(
                [
                    sys.executable,
                    os.path.abspath(__file__),
                    "--sf-dir",
                    sf_dir,
                    "--runs",
                    str(args.runs),
                    "--one",
                    name,
                    mode,
                ],
                capture_output=True,
                text=True,
            )
            if child.returncode != 0:
                sys.exit(
                    f"{name}/{mode} failed:\n{child.stderr[-3000:]}"
                )
            res = json.loads(child.stdout.strip().splitlines()[-1])
            out[name][mode] = res["median"]
            out[name][f"{mode}_min"] = res["min"]
            print(f"{name} {mode}: {res['median']}s", file=sys.stderr)
    rec = {
        "metric": "lineage_cut_cost",
        "sf_dir": args.sf_dir,
        "runs": args.runs,
        "queries": out,
        "loadavg": list(os.getloadavg()),
    }
    print(json.dumps(rec))
    with open(os.path.join(REPO, "bench_history.jsonl"), "a") as fh:
        fh.write(json.dumps(rec) + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
