#!/usr/bin/env python3
"""Regenerate ``expected.json``: row count and digest of every benchmark key.

Run from the root of a checkout (needs ``duckdb`` and the ``tests`` package):

    python3 perfbench/make_expected.py

Each key runs once on the engine at its workload's scale. A key with a DuckDB
oracle must match it value for value (``tests.parity.assert_frames_match``)
before its digest is stored; a rows-only key stores its row count alone. A
key that fails is reported and left out, so ``run.py`` fails on it too.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

from run import HERE, describe, digest
from workloads import WORKLOADS


def main() -> int:
    sys.path.insert(0, os.getcwd())
    from go_batch_processor_spark.catalog import TABLE_NAMES
    from go_batch_processor_spark.registry import REGISTRY, _ensure_loaded
    from go_batch_processor_spark.session import get_spark
    from tests.parity import assert_frames_match

    fixtures = os.path.expanduser(os.environ.get("PERFBENCH_FIXTURES", "~/testdata"))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    _ensure_loaded()
    out: dict[str, dict[str, dict]] = {}
    bad = 0
    for sf in sorted({w.sf for w in WORKLOADS.values()}):
        d = os.path.join(fixtures, sf)
        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
        out[sf] = {}
        # Keys in workload order, so a cache sibling runs after its builder.
        keys = list(dict.fromkeys(k for w in WORKLOADS.values() if w.sf == sf for k in w.keys))
        for key in keys:
            spec = REGISTRY[key]
            df = spec.fn(spark, d)
            rows = df.collect()
            entry = {"rows": len(rows)}
            if spec.oracle is not None:
                try:
                    assert_frames_match(df.toPandas(), con.sql(spec.oracle).df(), name=key)
                except AssertionError as exc:
                    bad += 1
                    print(f"FAIL {sf} {key}: {describe(exc)}", flush=True)
                    continue
                entry["digest"] = digest(rows)
            out[sf][key] = entry
            print(sf, key, entry, flush=True)
        con.close()
    spark.stop()
    with open(os.path.join(HERE, "expected.json"), "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
