"""Local replica of the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then
compares row count, column names/types, and order-insensitive values.

Usage:
    python tools/check_correctness.py [--sf DIR] [--only name1,name2] [-v]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
from datetime import date, datetime
from decimal import Decimal

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from text_sentiment_classification_hadoop_spark_spark.session import get_spark  # noqa: E402
from text_sentiment_classification_hadoop_spark_spark.sources.tables import TABLE_NAMES  # noqa: E402


def norm_value(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # normalize -0.0 and squash sub-1e-9 noise
        return round(v, 9) + 0.0
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    try:
        import numpy as np
        if isinstance(v, np.integer):
            return int(v)
        if isinstance(v, np.floating):
            return norm_value(float(v))
        if isinstance(v, np.datetime64):
            return str(v.astype("datetime64[us]")).replace("T", " ")
    except ImportError:
        pass
    return v


def df_to_rows(cols, records):
    # sort key must totally order mixed None/str/num/datetime values
    # (None < str comparisons raise); any deterministic key works since
    # both sides get the same transformation before equality compare
    return sorted(
        (tuple(norm_value(r[c]) for c in cols) for r in records),
        key=lambda row: tuple((v is None, type(v).__name__, str(v)) for v in row),
    )


def compare(name, spark_df, duck_rel, verbose=False):
    sdf = spark_df
    scols = sorted(sdf.columns)
    srows = [r.asDict() for r in sdf.collect()]

    dcols_raw = duck_rel.columns
    dcols = sorted(dcols_raw)
    drecords = [dict(zip(dcols_raw, row)) for row in duck_rel.fetchall()]

    problems = []
    if scols != dcols:
        problems.append(f"columns differ: spark={scols} duck={dcols}")
    if len(srows) != len(drecords):
        problems.append(f"rowcount differ: spark={len(srows)} duck={len(drecords)}")
    if not problems:
        common = scols
        sv = df_to_rows(common, srows)
        dv = df_to_rows(common, drecords)
        if sv != dv:
            diffs = [(a, b) for a, b in zip(sv, dv) if a != b]
            problems.append(f"values differ in {len(diffs)}/{len(sv)} rows; first: "
                            f"spark={diffs[0][0]} duck={diffs[0][1]}" if diffs
                            else "values differ (row multiset mismatch)")
            if verbose and diffs:
                for a, b in diffs[:5]:
                    print(f"    spark: {a}\n    duck : {b}")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("-v", "--verbose", action="store_true")
    ap.add_argument("--json", default=None, metavar="PATH",
                    help="write a per-query result record as JSON")
    args = ap.parse_args()

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')")

    spark = get_spark(app_name="check_correctness")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(args.only.split(",")) if args.only else None

    # literal-VALUES goldens are derived PER scale factor (the fit
    # differs because the corpus differs, not because the query
    # drifted). `oracle_sql()` ships the driver's sf0.01 pin; for any
    # other sf with a derived golden we substitute the matching
    # per-sf oracle so both selfcheck scales compare for real.
    # Only an sf with NO derived golden skips.
    sf_tag = args.sf.rstrip("/").rsplit("/", 1)[-1]
    sf_pinned = {"mllib_nb_confusion": "nb", "mllib_svm_confusion": "svm"}
    oracle_override = {}
    for qname, alg in sf_pinned.items():
        if sf_tag != "sf0.01" and sf_tag in entrymod._MLLIB_GOLDENS:
            oracle_override[qname] = entrymod._mllib_confusion_oracle(
                alg, sf_tag)

    n_pass = n_fail = n_noracle = n_skip = 0
    record = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if (name in sf_pinned and sf_tag != "sf0.01"
                and name not in oracle_override):
            print(f"[SKIP] {name}: no derived golden for {sf_tag}")
            record[name] = {"status": "sf-pinned-skip"}
            n_skip += 1
            continue
        try:
            sdf = fn(spark, args.sf)
        except Exception as exc:
            print(f"[FAIL] {name}: spark error: {exc}")
            record[name] = {"status": "fail", "err": f"spark: {exc}"[:500]}
            n_fail += 1
            continue
        if name not in oracles:
            cnt = sdf.count()
            print(f"[NO-ORACLE] {name}: rows={cnt}")
            record[name] = {"status": "rows-only", "spark_rows": cnt}
            n_noracle += 1
            continue
        try:
            rel = con.sql(oracle_override.get(name, oracles[name]))
        except Exception as exc:
            print(f"[FAIL] {name}: duckdb error: {exc}")
            record[name] = {"status": "fail", "err": f"duckdb: {exc}"[:500]}
            n_fail += 1
            continue
        problems = compare(name, sdf, rel, args.verbose)
        if problems:
            print(f"[FAIL] {name}: " + "; ".join(problems))
            record[name] = {"status": "fail",
                            "err": "; ".join(problems)[:500]}
            n_fail += 1
        else:
            print(f"[PASS] {name}")
            record[name] = {"status": "pass"}
            n_pass += 1
    skip_note = f", {n_skip} sf-pinned-skip" if n_skip else ""
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} no-oracle{skip_note}")
    # pin the record to the registry: a full (non --only) run MUST
    # have covered every queries() entry, so a record generated before
    # a trailing commit added queries can't silently strand them
    n_covered = n_pass + n_fail + n_noracle + n_skip
    if not only:
        assert n_covered == len(qs), (
            f"selfcheck covered {n_covered} queries but the registry "
            f"has {len(qs)} — regenerate at HEAD")
    if args.json:
        import json
        with open(args.json, "w") as f:
            json.dump({"sf": args.sf, "n_pass": n_pass, "n_fail": n_fail,
                       "n_rows_only": n_noracle, "n_sf_pinned_skip": n_skip,
                       "n_registry": len(qs), "covered_full_registry":
                       (not only) and n_covered == len(qs),
                       "queries": record}, f, indent=1, sort_keys=True)
        print(f"wrote {args.json}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
