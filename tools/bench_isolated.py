"""Isolated per-query benchmark: fresh-JVM medians for the expensive tail.

SCALE.md §16 measured ±20% ambient spread on identical-code HEADLINE
totals, so per-query regress/win claims need a better signal: each
named query timed in its OWN fresh Spark session (new subprocess →
new JVM, no relation cache, no memoized per-session relations, no heap
pressure inherited from 270 earlier queries), repeated ``--repeat``
times, reported as the median (VERDICT r8 ask #3).

Default query list: the top ``--top`` (20) most expensive registry
entries by the committed ``bench_result.json`` per-query medians.
``--headline`` instead covers EVERY ``bench.HEADLINE_QUERIES`` entry.

Usage:
    python tools/bench_isolated.py --headline --json isolated.json
    python tools/bench_isolated.py --json isolated.json   # top-20
    python tools/bench_isolated.py --names jaccard_prefix_pairs --repeat 3
    python tools/bench_isolated.py --worker jaccard_prefix_pairs   # internal

The output maps name -> {median, samples, rows}.

* ``--roundrobin`` collects trials in PASSES over the whole query list
  (one fresh-JVM sample per query per pass) instead of back-to-back
  repeats per query.  Two properties the back-to-back order lacks:
  a truncated run has ONE sample for every query (full coverage)
  rather than three samples for a prefix; and a transient ambient
  burst (another process, GC storm) contaminates at most one of each
  query's samples — which the median then rejects — instead of
  landing all three trials of the queries unlucky enough to run
  inside it.
* ``--resume`` seeds SAMPLES from an existing ``--json`` file and
  intersects the carried-over keys with the current run's name
  selection, so a narrower ``--names``/``--top`` rerun cannot silently
  mix medians from a different query set into the rewritten file
  (ADVICE r14). Queries resume until they hold ``--repeat`` samples.

Known measurement asymmetry (ADVICE r15, documented rather than
"fixed"): the worker warms the Arrow local-relation class-load out of
the timed region, but NOT the Python-worker-daemon startup, so the
queries that carry designed Python stages (multimodal ``mm_*``, the
refmodel readback) pay daemon startup inside their timed query.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

def run_worker(name: str, sf_dir: str) -> None:
    """Time ONE query in THIS (fresh) process and print a JSON line."""
    from text_sentiment_classification_hadoop_spark_spark.session import get_spark

    spark = get_spark(app_name=f"bench_isolated:{name}")
    import __spark_entry__ as entry

    from pyspark.sql import functions as F
    # same one-time warmup as bench.py: touch parquet reader, shuffle,
    # codegen, and the Arrow local-relation path — so the measurement
    # is the query, not JVM startup
    (spark.read.parquet(f"{sf_dir}/region.parquet")
     .groupBy(F.lower(F.col("r_name")).alias("k")).count().count())
    from text_sentiment_classification_hadoop_spark_spark.session import local_frame
    local_frame(spark, [(0, "w")], "i int, s string").count()

    fn = entry.queries()[name]
    t0 = time.perf_counter()
    rows = fn(spark, sf_dir).count()
    dt = time.perf_counter() - t0
    print("BENCH_ISOLATED " + json.dumps(
        {"name": name, "sec": round(dt, 3), "rows": rows}))
    spark.stop()


def _write(path: str, args, results: dict) -> None:
    with open(path, "w") as f:
        json.dump({"sf": args.sf, "repeat": args.repeat,
                   "isolation": "fresh JVM per trial (subprocess)",
                   "coverage": ("headline" if args.headline else
                                "names" if args.names else
                                f"top{args.top}"),
                   "queries": results}, f, indent=1, sort_keys=True)


def default_names(top: int) -> list[str]:
    with open(os.path.join(REPO, "bench_result.json")) as f:
        per_query = json.load(f)["queries"]
    ranked = sorted(per_query.items(), key=lambda kv: -kv[1])
    return [k for k, _ in ranked[:top]]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--worker", default=None, help=argparse.SUPPRESS)
    ap.add_argument("--names", default=None,
                    help="comma list; default = --top by bench_result.json")
    ap.add_argument("--headline", action="store_true",
                    help="cover every bench.HEADLINE_QUERIES entry")
    ap.add_argument("--top", type=int, default=20)
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--json", default=None, metavar="PATH")
    ap.add_argument("--resume", action="store_true",
                    help="seed samples from an existing --json artifact "
                         "(keys intersected with the current name "
                         "selection) and top queries up to --repeat "
                         "samples — lets a multi-hour headline run be "
                         "restarted (or chunked) without clobbering "
                         "completed samples")
    ap.add_argument("--roundrobin", action="store_true",
                    help="collect trials in full passes over the query "
                         "list (1 sample/query/pass) instead of "
                         "back-to-back repeats per query — truncation "
                         "leaves full 1-sample coverage and ambient "
                         "bursts touch at most one sample per query")
    args = ap.parse_args()

    if args.worker:
        run_worker(args.worker, args.sf)
        return 0

    if args.names:
        names = args.names.split(",")
    elif args.headline:
        import bench
        names = list(bench.HEADLINE_QUERIES)
    else:
        names = default_names(args.top)
    results: dict[str, dict] = {}
    if args.resume and args.json and os.path.exists(args.json):
        with open(args.json) as f:
            prior = json.load(f)["queries"]
        # ADVICE r14: intersect with the CURRENT selection — a narrower
        # --names/--top rerun must not carry medians from a different
        # query set into the rewritten artifact
        carried = {k: v for k, v in prior.items()
                   if k in names and v.get("samples")}
        dropped = sorted(set(prior) - set(names))
        if dropped:
            print(f"resume: NOT carrying {len(dropped)} prior entries "
                  f"outside the current selection: {dropped[:8]}"
                  f"{'...' if len(dropped) > 8 else ''}", flush=True)
        results.update(carried)
        names = [n for n in names
                 if len(results.get(n, {}).get("samples", [])) < args.repeat]
        full = sum(1 for v in carried.values()
                   if len(v["samples"]) >= args.repeat)
        print(f"resume: {len(carried)} entries carried "
              f"({full} already at {args.repeat} samples), "
              f"{len(names)} to run/top-up", flush=True)

    def one_trial(name: str, trial: int) -> tuple[float, int] | None:
        # a hung worker must cost one trial, not the whole run —
        # catch TimeoutExpired so every already-collected median
        # still reaches the artifact (ADVICE r9)
        try:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--worker", name, "--sf", args.sf],
                capture_output=True, text=True, cwd=REPO, timeout=900)
        except subprocess.TimeoutExpired:
            sys.stderr.write(f"[{name} trial {trial}] worker timed out"
                             " after 900s; recording failed trial\n")
            return None
        line = next((ln for ln in proc.stdout.splitlines()
                     if ln.startswith("BENCH_ISOLATED ")), None)
        if proc.returncode != 0 or line is None:
            sys.stderr.write(f"[{name} trial {trial}] worker failed:\n"
                             + proc.stderr[-2000:] + "\n")
            return None
        rec = json.loads(line[len("BENCH_ISOLATED "):])
        return rec["sec"], rec["rows"]

    def record(name: str, out: tuple[float, int] | None) -> None:
        ent = results.setdefault(name, {"median": None, "samples": [],
                                        "rows": None})
        if out is not None:
            ent["samples"].append(out[0])
            ent["rows"] = out[1]
        if ent["samples"]:
            ent["median"] = round(statistics.median(ent["samples"]), 3)
        if args.json:  # incremental: a multi-hour headline run that
            _write(args.json, args, results)  # dies keeps its medians

    if args.roundrobin:
        for pass_no in range(args.repeat):
            for name in names:
                have = len(results.get(name, {}).get("samples", []))
                if have > pass_no:  # resumed partial pass
                    continue
                record(name, one_trial(name, pass_no))
                ent = results[name]
                print(f"[pass {pass_no + 1}/{args.repeat}] {name}: "
                      f"median {ent['median']}s over {ent['samples']} "
                      f"({ent['rows']} rows)", flush=True)
    else:
        for name in names:
            have = len(results.get(name, {}).get("samples", []))
            for trial in range(have, args.repeat):
                record(name, one_trial(name, trial))
            ent = results.get(name, {"median": None, "samples": [],
                                     "rows": None})
            results.setdefault(name, ent)
            print(f"{name}: median {ent['median']}s over {ent['samples']} "
                  f"({ent['rows']} rows)", flush=True)

    if args.json:
        _write(args.json, args, results)
        print(f"wrote {args.json}")
    return 0 if all(r["median"] is not None for r in results.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
