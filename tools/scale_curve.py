"""Scale-curve probe: time the most expensive registry queries at
sf0.001 / sf0.01 / sf0.1 and fit the per-decade scaling exponent
alpha = log10(t_hi / t_lo) between consecutive scale factors.

Interpretation: each sf step is 10x the data. alpha ~ 1 means linear
in data size, alpha < 1 means fixed overhead still dominates (Spark
job/stage setup at these tiny inputs), alpha > 1 is super-linear and
needs a plan explanation (or a fix). The 0.01->0.1 column is the
signal — at sf0.001 nearly every query is pure overhead.

Usage: python tools/scale_curve.py [--top N] [--names a,b,c]
                                   [--sfs dir1,dir2,...]
Writes a markdown table to stdout (protocol: SCALE.md §11).

``--sfs`` overrides the probed scale dirs — e.g. append the
synthesized sf1 fixture (tools/gen_sf1.py) to measure one more decade.
Column headers derive from the dir basenames.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry  # noqa: E402
from text_sentiment_classification_hadoop_spark_spark.session import get_spark  # noqa: E402

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--top", type=int, default=10)
    ap.add_argument("--names", default=None)
    ap.add_argument("--sfs", default=None,
                    help="comma list of scale dirs (default: the three "
                         "committed testdata scales)")
    args = ap.parse_args()
    sfs = args.sfs.split(",") if args.sfs else SFS

    if args.names:
        names = args.names.split(",")
    else:
        with open(os.path.join(REPO, "bench_result.json")) as fh:
            q = json.load(fh)["queries"]
        names = [n for n, _ in sorted(q.items(), key=lambda kv: -kv[1])[:args.top]]

    spark = get_spark(app_name="scale_curve")
    qs = entry.queries()
    # JVM/codegen warmup
    from pyspark.sql import functions as F
    for sf in sfs:
        (spark.read.parquet(f"{sf}/region.parquet")
         .groupBy(F.lower(F.col("r_name")).alias("k")).count().count())

    labels = [sf.rstrip("/").rsplit("/", 1)[1] for sf in sfs]
    rows = []
    for name in names:
        ts = []
        for sf in sfs:
            t0 = time.perf_counter()
            qs[name](spark, sf).count()
            ts.append(time.perf_counter() - t0)
            print(f"# {name} @ {sf.rsplit('/',1)[1]}: {ts[-1]:.2f}s",
                  file=sys.stderr)
        alphas = [math.log10(ts[i + 1] / ts[i]) for i in range(len(ts) - 1)]
        rows.append((name, ts, alphas))

    hdr_t = " | ".join(f"t({lb})" for lb in labels)
    hdr_a = " | ".join(f"α {labels[i]}→{labels[i + 1]}"
                       for i in range(len(labels) - 1))
    print(f"| query | {hdr_t} | {hdr_a} |")
    print("|---" * (1 + len(labels) + len(labels) - 1) + "|")
    for name, ts, alphas in rows:
        tcells = " | ".join(f"{t:.2f}s" for t in ts)
        acells = " | ".join(f"{a:+.2f}" for a in alphas)
        print(f"| {name} | {tcells} | {acells} |")
    bad = [r[0] for r in rows if r[2][-1] > 1.15]
    print()
    print(f"Super-linear (α > 1.15) on the last decade: "
          f"{', '.join(bad) if bad else 'none'}.")
    spark.stop()


if __name__ == "__main__":
    main()
