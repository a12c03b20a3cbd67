"""Post-invocation state hygiene for the persistent-store drive
queries: the three store drives run streaming jobs
*inside* ``queries()``, and bench invokes each query 3x in one session
— so a leaked query handle or a replay onto stale store contents would
silently corrupt every invocation after the first. Pin the contract:

1. after an invocation returns (and its result is collected),
   ``spark.streams.active`` is empty — the drive stopped every
   streaming query it started;
2. the scratch dir is wiped and rebuilt on entry — a marker file
   planted after invocation #1 is gone after invocation #2;
3. invocation #2 produces bit-identical results to invocation #1
   (no replay onto stale state, no checkpoint reuse across wipes).
"""

import os
import subprocess
import sys

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"

STORE_DRIVES = {
    "count_store_contents": "counts",
    "dedup_store_contents": "dedup",
    "training_shards_readback": "shards",
    "packed_shards_readback": "packedshards",
}


def _scratch_base(tag: str) -> str:
    # the REAL path derivation (a hand-copied mirror of
    # the string format drifts silently; pytest runs in-process, so the
    # default pid matches the drive's)
    return entry._store_scratch_path(SF, tag)


@pytest.mark.parametrize("name,tag", sorted(STORE_DRIVES.items()))
def test_store_drive_state_hygiene(spark, name, tag):
    fn = entry.queries()[name]

    first = [tuple(r) for r in fn(spark, SF).collect()]
    assert spark.streams.active == [], (
        f"{name} invocation 1 leaked streaming queries: "
        f"{[q.name for q in spark.streams.active]}")
    base = _scratch_base(tag)
    assert os.path.isdir(base), f"{name} scratch base missing: {base}"
    marker = os.path.join(base, "_stale_marker_from_prev_invocation")
    with open(marker, "w") as f:
        f.write("must be wiped on next entry")

    second = [tuple(r) for r in fn(spark, SF).collect()]
    assert spark.streams.active == [], (
        f"{name} invocation 2 leaked streaming queries")
    assert not os.path.exists(marker), (
        f"{name} did not wipe-and-rebuild its scratch dir on re-entry")
    assert first == second, (
        f"{name} re-invocation diverged: replayed onto stale state?")
    assert len(first) > 0


def test_store_scratch_prunes_dead_pid_siblings():
    """Dirs keyed to a driver pid that has exited must
    be reaped on the next _store_scratch entry (any tag), while dirs
    belonging to a LIVE process are left alone."""
    # a pid guaranteed dead: a subprocess that has already been waited
    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait()
    dead_pid = proc.pid  # reaped — os.kill(pid, 0) now raises
    root = os.path.dirname(entry._store_scratch_path(SF, "counts"))
    os.makedirs(root, exist_ok=True)
    dead_dir = entry._store_scratch_path(SF, "counts", pid=dead_pid)
    live_dir = entry._store_scratch_path(SF, "othertag")  # our own pid
    os.makedirs(dead_dir, exist_ok=True)
    os.makedirs(live_dir, exist_ok=True)
    try:
        base = entry._store_scratch(SF, "counts")
        assert os.path.isdir(base)
        assert not os.path.exists(dead_dir), (
            "dead-pid sibling survived the prune")
        assert os.path.isdir(live_dir), (
            "live-pid sibling was wrongly reaped")
    finally:
        for d in (dead_dir, live_dir):
            if os.path.isdir(d):
                os.rmdir(d)
