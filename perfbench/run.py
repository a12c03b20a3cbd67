"""Benchmark of the sentiment engine: one workload per invocation.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (NOTES.md says why each exists):

- ``tweets-zipf-vocab``: the paper's job (``nb-compat`` then
  ``svm-strict``) on Zipf-vocabulary tweets, which forces SVM's
  distributed fallback;
- ``tweets-small-vocab`` (by hand, not in BENCHMARK.json): the same job on
  tweets whose cleaned vocabulary is far below SVM's literal-map limit;
- ``registry``: a fixed list of registry queries over generated
  TPC-H-shaped tables, run cold and then warm in one session.

Each run generates its inputs from ``--seed``, starts a fresh worker process
with its own temporary directories inside the checkout, checks every
output against an independent computation outside the timed region, and
prints one JSON line last: ``correct``, ``attempted``, ``failed`` and the
metrics (end-to-end CPU seconds with ``--trace 0``, per-layer with
``--trace 1``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "text_sentiment_classification_hadoop_spark_spark"
WORK = os.path.join(ROOT, ".perfbench_work")

sys.path.insert(0, HERE)

import procs  # noqa: E402
from workloads import (  # noqa: E402
    GOLDEN_PINNED,
    PASSES,
    REGISTRY_MODULES,
    REGISTRY_QUERIES,
    TWEETS_ROWS,
    TWEETS_SPANS,
)

WORKLOADS = {
    "tweets-small-vocab": ("tweets", "small"),
    "tweets-zipf-vocab": ("tweets", "zipf"),
    "registry": ("registry", None),
}

# Registry queries whose summed time is the registry's job.nb_s / job.svm_s.
NB_QUERIES = ("nb_predictions", "nb_stats", "nb_confusion", "mllib_nb_confusion")
SVM_QUERIES = ("svm_declared_weights",)

# End-to-end figures are CPU seconds of the worker's process tree (Python
# driver, JVM, Python workers): on a shared host, wall times moved by up to
# 40% between runs of the same code with other guests' CPU steal, CPU
# times by about 3%. Wall times are in every run's record line.
E2E_UNITS = {"setup_s": "s", "run_cpu_s": "s", "cold_pass_cpu_s": "s",
             "warm_pass_cpu_s": "s"}


def layer_units() -> dict[str, str]:
    from layers import SPAN_FIELDS
    unit = {"s": "s", "jobs": "count", "task_s": "s",
            "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
            "gc_s": "s", "no_stage_s": "s"}
    out = {f"{span}.{f}": unit[f] for span in TWEETS_SPANS for f in SPAN_FIELDS}
    out.update({"parse.rows": "count", "tokenize.tokens": "count",
                "nb.vocab": "count", "svm.vocab": "count",
                "svm.distributed_path": "count"})
    for p in ("cold", "warm"):
        out.update({f"registry.{p}.build_s": "s",
                    f"registry.{p}.eager_jobs": "count",
                    f"registry.{p}.action_s": "s"})
    out.update({f"registry.{m}.s": "s" for m in REGISTRY_MODULES})
    out.update({"plan.analysis_s": "s", "plan.optimization_s": "s",
                "plan.planning_s": "s", "codegen.compiles": "count",
                "codegen.s": "s", "job.nb_s": "s", "job.svm_s": "s",
                "setup.wall_s": "s", "trace.run_s": "s", "trace.overhead_s": "s",
                "peak_rss_mb": "MB"})
    return out


# ------------------------------------------------------------ processes

def become_subreaper() -> None:
    """Make processes orphaned below this one (the worker's JVM and Python
    daemons outlive the worker by a moment) this process's children, so
    ``reap_descendants`` can wait for them."""
    import ctypes
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_descendants(grace: float) -> None:
    """Wait until no process below this one is left; after ``grace``
    seconds kill the ones still running."""
    deadline = time.monotonic() + grace
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        left = procs.descendants(os.getpid(), procs.table())
        if not left:
            return
        if time.monotonic() >= deadline:
            for pid in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


class RssSampler(threading.Thread):
    """Peak summed RSS of a process and all its descendants, from /proc."""

    def __init__(self, pid: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.period = pid, period
        self.peak = 0
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.is_set():
            self.peak = max(self.peak, procs.tree_rss_bytes(self.pid))
            self.done.wait(self.period)


def spawn(spec: dict, work: str, env: dict) -> tuple[dict, float]:
    """Run the worker process to completion; return its output and peak RSS.
    Every process it started has ended when this returns."""
    spec = dict(spec, out=os.path.join(work, "worker.out.json"))
    spec_path = os.path.join(work, "worker.spec.json")
    log_path = os.path.join(work, "worker.log")
    with open(log_path, "w") as log:
        spec["t_spawn"] = time.time()
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
            cwd=env["PERFBENCH_CWD"], env=env, stdout=log, stderr=log,
            start_new_session=True)
        sampler = RssSampler(proc.pid)
        sampler.start()
        grace = 0.0
        try:
            rc = proc.wait(timeout=150)
            grace = 15.0  # a JVM that is shutting down gets time to finish
        finally:
            if proc.poll() is None:  # timeout or interrupt: stop the whole tree
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            reap_descendants(grace)
            sampler.done.set()
            sampler.join()
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"worker exited with {rc}:\n{tail}")
    with open(spec["out"]) as f:
        return json.load(f), sampler.peak / 2**20


def worker_env(work: str, cpus: str) -> dict:
    tmp = os.path.join(work, "tmp")
    cwd = os.path.join(work, "cwd")
    for d in (tmp, cwd, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PERFBENCH_CWD": cwd,
    })
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    env.pop("SPARK_GRAFT_SF_DIR", None)
    return env


# --------------------------------------------------------------- checks

def checked_passes(out: dict) -> list[dict]:
    """Every pass whose outputs are checked, the traced run's untraced one too."""
    return out["passes"] + ([out["untraced_pass"]] if "untraced_pass" in out else [])


def check_tweets(out: dict, work: str) -> tuple[int, int, list[str]]:
    from reference import nb_confusion, svm_confusion
    passes = checked_passes(out)
    attempted = failed = 0
    problems = []
    for k, p in enumerate(passes):
        with open(os.path.join(work, "inputs", f"tweets_{k}.csv")) as f:
            lines = f.read().splitlines()
        for job, ref in (("nb", nb_confusion), ("svm", svm_confusion)):
            attempted += 1
            want = ref(lines)
            if p.get(f"{job}_confusion") != want:
                failed += 1
                problems.append(f"pass {k} {job}: got {p.get(f'{job}_confusion')} "
                                f"want {want} {p.get(f'{job}_error', '')}")
    return attempted, failed, problems


def check_registry(out: dict, tables: str) -> tuple[int, int, list[str]]:
    import duckdb

    sys.path.insert(0, ROOT)
    sys.path.append(os.path.join(ROOT, "tools"))
    import __spark_entry__ as entry  # before check_correctness, which edits sys.path
    from check_correctness import df_to_rows

    from text_sentiment_classification_hadoop_spark_spark.sources.tables import TABLE_NAMES

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables}/{t}.parquet')")
    passes = checked_passes(out)
    attempted = failed = 0
    problems = []
    for name, _module in REGISTRY_QUERIES:
        rel = con.sql(oracles[name])
        dcols = sorted(rel.columns)
        want = None
        if name not in GOLDEN_PINNED:
            recs = [dict(zip(rel.columns, r)) for r in rel.fetchall()]
            want = json.loads(json.dumps(df_to_rows(dcols, recs)))
        first = passes[0]["queries"][name].get("rows")
        for k, p in enumerate(passes):
            attempted += 1
            q = p["queries"][name]
            bad = None
            if "error" in q:
                bad = q["error"]
            elif q["columns"] != dcols:
                bad = f"columns {q['columns']} vs oracle {dcols}"
            elif want is not None and q["rows"] != want:
                bad = f"{len(q['rows'])} rows differ from the oracle's {len(want)}"
            elif want is None and (not q["rows"] or q["rows"] != first):
                bad = "empty, or differs between passes"
            if bad:
                failed += 1
                problems.append(f"pass {k} {name}: {bad}")
    con.close()
    return attempted, failed, problems


# -------------------------------------------------------------- metrics

def query_s(p: dict, names) -> float:
    return sum(p["queries"][n].get("build_s", 0.0) + p["queries"][n].get("action_s", 0.0)
               for n in names)


def pass_s(kind: str, p: dict) -> float:
    """A tweets pass is its two jobs; a registry pass is the sum of its
    query times (builder call plus collect)."""
    if kind == "tweets":
        return p["pass_s"]
    return query_s(p, [n for n, _ in REGISTRY_QUERIES])


def job_s(kind: str, p: dict) -> tuple[float, float]:
    """The NB and the SVM share of one pass."""
    if kind == "tweets":
        return p["nb_job_s"], p["svm_job_s"]
    return query_s(p, NB_QUERIES), query_s(p, SVM_QUERIES)


def wall_s(kind: str, out: dict) -> dict:
    passes = out["passes"]
    return {"setup_s": out["setup_wall_s"], "run_s": out["run_s"],
            "cold_pass_s": pass_s(kind, passes[0]),
            "warm_pass_s": statistics.median(pass_s(kind, p) for p in passes[1:])}


def end_to_end(out: dict) -> dict:
    cpu = [p["cpu_s"] for p in out["passes"]]
    vals = {"setup_s": out["setup_cpu_s"], "run_cpu_s": sum(cpu),
            "cold_pass_cpu_s": cpu[0],
            "warm_pass_cpu_s": statistics.median(cpu[1:])}
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in vals.items()}


def per_layer(kind: str, out: dict, rss_mb: float) -> dict:
    units = layer_units()
    vals = dict.fromkeys(units, 0.0)
    vals["peak_rss_mb"] = rss_mb
    passes = out["passes"]
    warm = passes[1:]
    if kind == "tweets":
        for p in warm:
            for k, v in p["layers"].items():
                vals[k] += v / len(warm)
    else:
        cold = passes[0]["layers"]
        for k in ("plan.analysis_s", "plan.optimization_s", "plan.planning_s",
                  "codegen.compiles", "codegen.s"):
            vals[k] = cold.get(k, 0.0)
        for label, group in (("cold", passes[:1]), ("warm", warm)):
            for p in group:
                lay = p["layers"]
                vals[f"registry.{label}.build_s"] += lay["registry.build.s"] / len(group)
                vals[f"registry.{label}.eager_jobs"] += lay["registry.build.jobs"] / len(group)
                vals[f"registry.{label}.action_s"] += lay["registry.action.s"] / len(group)
        for name, module in REGISTRY_QUERIES:
            vals[f"registry.{module}.s"] += query_s(passes[0], (name,))
    vals["job.nb_s"], vals["job.svm_s"] = job_s(kind, out["untraced_pass"])
    traced = statistics.median(pass_s(kind, p) for p in warm)
    vals["setup.wall_s"] = out["setup_wall_s"]
    vals["trace.run_s"] = out["run_s"]
    vals["trace.overhead_s"] = traced - pass_s(kind, out["untraced_pass"])
    return {k: {"value": v, "unit": units[k]} for k, v in vals.items()}


def versions(cpus: str) -> dict:
    java = subprocess.run(["java", "-version"], capture_output=True, text=True)
    import pyspark
    return {"SPARK_GRAFT_CPUS": cpus, "nproc": os.cpu_count(),
            "spark": pyspark.__version__,
            "java": (java.stderr.splitlines() or ["?"])[0],
            "python": platform.python_version()}


# ----------------------------------------------------------------- main

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="minimum measured time; each workload also has a "
                         "fixed minimum number of passes")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # turn SIGTERM into an exception so the cleanup below still runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()

    if not (os.path.isdir(os.path.join(ROOT, PKG))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: {ROOT} holds no {PKG} package to measure",
              file=sys.stderr)
        return 2

    kind, profile = WORKLOADS[args.workload]
    # Two task threads leave the other cores to the Python driver and the
    # JVM's GC and JIT threads, which makes runs on a shared host steadier.
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(min(2, os.cpu_count() or 1))
    os.makedirs(WORK, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK)
    try:
        env = worker_env(work, cpus)
        inputs = os.path.join(work, "inputs")
        os.makedirs(inputs)
        spec = {"kind": kind, "seed": args.seed, "seconds": args.seconds,
                "passes": PASSES[args.workload],
                "trace": bool(args.trace), "dir": inputs}
        record = {"workload": args.workload, "seed": args.seed,
                  **versions(cpus)}
        if kind == "tweets":
            spec.update(profile=profile, rows=TWEETS_ROWS)
        else:
            from gen import registry_tables
            record["tables"] = registry_tables(inputs, args.seed)
            record["queries"] = [n for n, _ in REGISTRY_QUERIES]

        out, rss_mb = spawn(spec, work, env)

        if kind == "tweets":
            record["inputs"] = out["corpora"]
            record["pass_s"] = [[round(p[f"{j}_job_s"], 3) for j in ("nb", "svm")]
                                for p in out["passes"]]
            attempted, failed, problems = check_tweets(out, work)
        else:
            attempted, failed, problems = check_registry(out, inputs)
            record["query_s"] = {n: [round(query_s(p, (n,)), 3) for p in out["passes"]]
                                 for n, _ in REGISTRY_QUERIES}
        for p in problems:
            print(f"MISMATCH {p}", file=sys.stderr)
        metrics = per_layer(kind, out, rss_mb) if args.trace else end_to_end(out)
        record["peak_rss_mb"] = rss_mb
        record["wall_s"] = wall_s(kind, out)
        record["pass_cpu_s"] = [round(p["cpu_s"], 3) for p in out["passes"]]
        print(json.dumps(record, sort_keys=True))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # still in use by another run
            os.rmdir(WORK)


if __name__ == "__main__":
    sys.exit(main())
