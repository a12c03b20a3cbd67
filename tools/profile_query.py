"""Per-stage profile of one registry query (optimization-round
instrument, guide §1/§7): run the named query in THIS process with the
Spark event log enabled, then parse the log into a stage table —
wall-clock per stage, summed task time, input/shuffle-read/shuffle-write
bytes and records, and the first line of the stage's callsite — so the
"where does the time go" question is answered from Spark's own metrics
(the UI is disabled in this sandbox; the event log carries the same
numbers). Around the query runs it also reads the JVM's per-thread CPU
from ``/proc/<jvm pid>/task/*/stat`` and prints it per thread group —
C2 and C1 JIT compilers, GC, executor task threads, other — next to the
codegen line, so JIT cost shows without a re-run. A ``reuse:`` line
gives the query's hits and misses per artifact kind in the session's
reuse context (``reuse.py``): whether it built a trained artifact or
reused one.

Usage:
    python tools/profile_query.py <query> [--sf DIR] [--noop] [--repeat N]

``--noop`` times ``df.write.format("noop")`` instead of ``.count()``
(guide §1.4) — use it to check how much the bench's count() action
under-measures a query (count can prune columns/subtrees).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CLK_TCK = os.sysconf("SC_CLK_TCK")
# JVM thread groups by thread-name prefix (/proc keeps 15 characters)
THREAD_GROUPS = (("C2", ("C2 CompilerThre",)), ("C1", ("C1 CompilerThre",)),
                 ("GC", ("GC Thread", "G1 ")), ("task", ("Executor task l",)))


def _cpu_ticks(stat_path: str) -> tuple[str, int]:
    """(name, user + system ticks) from a /proc stat file."""
    with open(stat_path) as f:
        raw = f.read()
    rest = raw.rsplit(")", 1)[1].split()
    return raw[raw.index("(") + 1:raw.rindex(")")], int(rest[11]) + int(rest[12])


def jvm_thread_ticks(pid: int) -> tuple[int, dict[int, tuple[str, int]]]:
    """(process CPU ticks, {tid: (thread name, CPU ticks)}) of the JVM."""
    threads = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            threads[int(tid)] = _cpu_ticks(f"/proc/{pid}/task/{tid}/stat")
        except OSError:
            pass  # the thread ended while we looked
    return _cpu_ticks(f"/proc/{pid}/stat")[1], threads


def thread_group_cpu_s(before, after) -> dict[str, float]:
    """CPU seconds per thread group between two :func:`jvm_thread_ticks`
    snapshots. ``other`` is the process's CPU minus the named groups, so
    it also holds the CPU of threads that ended in between."""
    groups = {g: 0 for g, _ in THREAD_GROUPS}
    for tid, (name, ticks) in after[1].items():
        for g, prefixes in THREAD_GROUPS:
            if name.startswith(prefixes):
                groups[g] += ticks - before[1].get(tid, ("", 0))[1]
                break
    groups["other"] = after[0] - before[0] - sum(groups.values())
    return {g: t / CLK_TCK for g, t in groups.items()}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--top", type=int, default=25)
    args = ap.parse_args()

    evdir = tempfile.mkdtemp(prefix="sparkgraft_ev_")
    from text_sentiment_classification_hadoop_spark_spark.session import get_spark
    spark = get_spark(app_name=f"profile:{args.query}", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": evdir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    # same warmup as bench.py so stage times are the query's
    (spark.read.parquet(f"{args.sf}/region.parquet")
     .groupBy(F.lower(F.col("r_name")).alias("k")).count().count())
    from text_sentiment_classification_hadoop_spark_spark.session import local_frame
    local_frame(spark, [(0, "w")], "i int, s string").count()

    fn = entry.queries()[args.query]
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    ticks0 = jvm_thread_ticks(jvm_pid)
    walls = []
    for i in range(args.repeat):
        spark.sparkContext.setJobDescription(f"{args.query} run{i}")
        t0 = time.perf_counter()
        df = fn(spark, args.sf)
        if args.noop:
            df.write.format("noop").mode("overwrite").save()
            rows = -1
        else:
            rows = df.count()
        walls.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
    cpu = thread_group_cpu_s(ticks0, jvm_thread_ticks(jvm_pid))
    # the session is this process's own, so its counts are the query's
    from text_sentiment_classification_hadoop_spark_spark.reuse import reuse_context
    reuse = "reuse: " + (", ".join(
        f"{kind} {hits} hit/{misses} miss"
        for kind, (hits, misses) in reuse_context(spark).counts().items())
        or "none")
    jvm_cpu = ("jvm cpu over the query runs: "
               + ", ".join(f"{g} {s:.2f}s" for g, s in cpu.items())
               + f" (total {sum(cpu.values()):.2f}s)")
    app_id = spark.sparkContext.applicationId
    # janino compile cost for the whole app (warmup + query): if this
    # rivals the query wall, fresh-JVM medians are codegen-bound, not
    # data-bound
    try:
        cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        comp = cm.METRIC_COMPILATION_TIME()
        # snapshot-mean × count is an ESTIMATE: the
        # Dropwizard histogram is a sampled reservoir, so for many
        # compilations the product can be materially off; exact when
        # count ≤ reservoir size (1028), so sum the raw values then
        snap = comp.getSnapshot()
        vals = list(snap.getValues())
        if comp.getCount() <= len(vals):
            tot = f"{sum(vals) / 1000.0:.2f}s total"
        else:
            tot = (f"~{snap.getMean() * comp.getCount() / 1000.0:.2f}s "
                   "total (reservoir estimate)")
        codegen = (f"codegen: {comp.getCount()} compiles, {tot}, "
                   f"max {snap.getMax() / 1000.0:.2f}s, "
                   f"src {cm.METRIC_SOURCE_CODE_SIZE().getCount()} units")
    except Exception as ex:
        codegen = f"codegen: unavailable ({ex})"
    spark.stop()

    # ---- parse the event log ----
    # Spark 4 defaults to rolling logs: eventlog_v2_<appId>/events_N_*
    import glob as _glob
    cands = ([os.path.join(evdir, app_id)]
             + sorted(_glob.glob(os.path.join(
                 evdir, f"eventlog_v2_{app_id}", "events_*")))
             + sorted(_glob.glob(os.path.join(evdir, f"{app_id}*"))))
    paths = [p for p in cands if os.path.isfile(p)]
    stages = {}   # (stageId, attempt) -> dict
    jobs = {}     # jobId -> description
    stage_job = {}
    lines = (ln for path in paths for ln in open(path))
    for ln in lines:
            ev = json.loads(ln)
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get(
                    "spark.job.description", "")
                jobs[ev["Job ID"]] = desc
                for si in ev.get("Stage IDs", []):
                    stage_job[si] = ev["Job ID"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                key = (si["Stage ID"], si["Stage Attempt ID"])
                sub = si["Submission Time"] if "Submission Time" in si else 0
                com = si.get("Completion Time", sub)
                # TaskEnd events precede StageCompleted: UPDATE the
                # accumulated dict, never replace it
                d = stages.setdefault(key, {
                    "stage": si["Stage ID"], "name": "?", "tasks": 0,
                    "wall_s": 0.0, "task_s": 0.0, "in_mb": 0.0,
                    "sr_mb": 0.0, "sw_mb": 0.0, "sr_rec": 0, "sw_rec": 0,
                    "gc_s": 0.0, "fetch_s": 0.0,
                    "job": stage_job.get(si["Stage ID"], -1)})
                d["name"] = si["Stage Name"].split("\n")[0][:80]
                d["tasks"] = si["Number of Tasks"]
                d["wall_s"] = (com - sub) / 1000.0
            elif e == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                m = ev.get("Task Metrics") or {}
                if not m:
                    continue
                d = stages.setdefault(key, {
                    "stage": ev["Stage ID"], "name": "?", "tasks": 0,
                    "wall_s": 0.0, "task_s": 0.0, "in_mb": 0.0,
                    "sr_mb": 0.0, "sw_mb": 0.0, "sr_rec": 0, "sw_rec": 0,
                    "gc_s": 0.0, "fetch_s": 0.0,
                    "job": stage_job.get(ev["Stage ID"], -1)})
                d["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                d["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                d["in_mb"] += m.get("Input Metrics", {}).get(
                    "Bytes Read", 0) / 2**20
                sr = m.get("Shuffle Read Metrics", {})
                d["sr_mb"] += (sr.get("Local Bytes Read", 0)
                               + sr.get("Remote Bytes Read", 0)) / 2**20
                d["sr_rec"] += sr.get("Total Records Read", 0)
                d["fetch_s"] += sr.get("Fetch Wait Time", 0) / 1000.0
                sw = m.get("Shuffle Write Metrics", {})
                d["sw_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                d["sw_rec"] += sw.get("Shuffle Records Written", 0)

    rows_sorted = sorted(stages.values(), key=lambda d: -d["wall_s"])
    total_wall = sum(d["wall_s"] for d in stages.values())
    total_task = sum(d["task_s"] for d in stages.values())
    print(f"\nquery={args.query} action={'noop' if args.noop else 'count'} "
          f"rows={rows} walls={[round(w, 2) for w in walls]}")
    print(f"stages={len(stages)} sum(stage wall)={total_wall:.2f}s "
          f"sum(task time)={total_task:.2f}s")
    print(codegen)
    print(jvm_cpu)
    print(reuse)
    hdr = (f"{'stg':>4} {'job':>4} {'wall_s':>7} {'task_s':>7} {'tasks':>5} "
           f"{'in_mb':>8} {'sr_mb':>8} {'sw_mb':>8} {'sw_rec':>9} "
           f"{'gc_s':>5} name")
    print(hdr)
    for d in rows_sorted[:args.top]:
        print(f"{d['stage']:>4} {d['job']:>4} {d['wall_s']:>7.2f} "
              f"{d['task_s']:>7.2f} {d['tasks']:>5} {d['in_mb']:>8.1f} "
              f"{d['sr_mb']:>8.1f} {d['sw_mb']:>8.1f} {d['sw_rec']:>9} "
              f"{d['gc_s']:>5.1f} {d['name']}")
    import shutil
    shutil.rmtree(evdir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
