#!/usr/bin/env python3
"""Check the event-log reducer against Spark's own StatusTracker, at sf0.001.

Run from the root of a checkout:

    python3 perfbench/selfcheck.py

Every benchmark key runs once, alone, under its own job group with the event
log on. Per key the reducer's job count must equal
``StatusTracker.getJobIdsForGroup``, and the driver gap plus the busy time of
all the group's jobs must equal the key's wall time within 5%, which fails if
the reducer books a job outside the window of the call that caused it. Prints
one line per key and exits 1 on any mismatch.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import eventlog
from run import ROOT, prepare, session_conf, shutdown
from workloads import WORKLOADS

SF = "sf0.001"
TOLERANCE = 0.05


def main() -> int:
    fixtures = os.path.expanduser(os.environ.get("PERFBENCH_FIXTURES", "~/testdata"))
    work = os.path.join(ROOT, ".perfbench_work", f"selfcheck-{os.getpid()}")
    prepare(work)
    try:
        return check(os.path.join(fixtures, SF), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def check(sf_dir: str, work: str) -> int:
    sys.path.insert(0, ROOT)
    from go_batch_processor_spark.registry import REGISTRY, _ensure_loaded
    from go_batch_processor_spark.session import get_spark

    spark = get_spark(app_name="perfbench-selfcheck", extra_conf=session_conf(work, True))
    sc = spark.sparkContext
    _ensure_loaded()
    keys = list(dict.fromkeys(k for w in WORKLOADS.values() for k in w.keys))
    windows, tracked = {}, {}
    try:
        for key in keys:
            sc.setJobGroup(key, key)
            t0 = time.time()
            REGISTRY[key].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            windows[key] = (t0, time.time())
            tracked[key] = len(sc.statusTracker().getJobIdsForGroup(key))
    finally:
        shutdown(spark)

    (log,) = os.listdir(os.path.join(work, "events"))
    groups = eventlog.read_groups(os.path.join(work, "events", log))
    bad = 0
    print(f"{'key':32s} {'jobs':>5s} {'tracker':>7s} {'wall_s':>7s} {'gap_s':>7s} {'busy_s':>7s}")
    for key in keys:
        g = groups.get(key, eventlog.GroupTotals())
        t0, t1 = windows[key]
        wall = t1 - t0
        gap = wall - eventlog.busy_s(g.job_spans, t0, t1)
        busy = eventlog.busy_s(g.job_spans, float("-inf"), float("inf"))
        ok = g.jobs == tracked[key] and abs(gap + busy - wall) <= TOLERANCE * wall
        bad += not ok
        print(
            f"{key:32s} {g.jobs:5d} {tracked[key]:7d} {wall:7.3f} {gap:7.3f} {busy:7.3f}"
            + ("" if ok else "  MISMATCH"),
            flush=True,
        )
    print(f"selfcheck: {len(keys) - bad}/{len(keys)} keys agree")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
