#!/usr/bin/env python
"""Per-key job decomposition: run one catalog key with the Spark UI on
and dump every job's wall duration + description from the UI REST API.

The bench (`bench.py`) answers "how long is the key"; this answers
"WHERE inside the key the time goes" — per-job, which for the iterative
operators maps 1:1 onto rounds/pins and for single-action keys onto the
(schema, compute) job split. Measurement-only tooling; never imported
by query paths.

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/profile_key.py KEY [KEY...]
"""

from __future__ import annotations

import calendar
import json
import os
import sys
import time
import urllib.request
from datetime import datetime


def rest_epoch(stamp: str) -> float:
    """Seconds since the epoch of a REST API time such as
    ``2024-03-10T07:00:01.250GMT``. The time is UTC, so it goes through
    ``calendar.timegm``; a local-time ``mktime`` would shift it by the
    host's offset and skew a duration that spans a DST change."""
    t = datetime.strptime(stamp.removesuffix("GMT"), "%Y-%m-%dT%H:%M:%S.%f")
    return calendar.timegm(t.timetuple()) + t.microsecond / 1e6


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    keys = sys.argv[1:]
    if not keys:
        print("usage: profile_key.py KEY [KEY...]", file=sys.stderr)
        sys.exit(2)

    from knot_another_pipeline_spark.session import get_spark
    from knot_another_pipeline_spark.catalog_queries import QUERIES

    spark = get_spark(
        app_name="knap-profile",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": "4321",
            "spark.cleaner.periodicGC.interval": "30s",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId
    base = f"http://localhost:4321/api/v1/applications/{app_id}"

    # warmup (codegen/JVM) so the first profiled key isn't inflated
    QUERIES["daily_counts"](spark, sf_dir).collect()

    for key in keys:
        fn = QUERIES[key]
        tracker = spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup() or [])
        t0 = time.perf_counter()
        n = fn(spark, sf_dir).count()
        wall = time.perf_counter() - t0
        with urllib.request.urlopen(f"{base}/jobs") as r:
            jobs = json.loads(r.read())
        new = [j for j in jobs if j["jobId"] not in before]
        new.sort(key=lambda j: j["jobId"])
        total_job = 0.0
        print(f"\n=== {key}: wall {wall:.3f}s rows={n} ===")
        for j in new:
            try:
                dur = rest_epoch(j["completionTime"]) - rest_epoch(j["submissionTime"])
            except (KeyError, ValueError):
                dur = float("nan")
            total_job += dur if dur == dur else 0.0
            desc = (j.get("description") or j.get("name") or "")[:110]
            print(
                f"  job {j['jobId']:>4} {dur:7.3f}s stages={len(j.get('stageIds', []))} "
                f"tasks={j.get('numTasks', '?'):>5} {desc}"
            )
        print(f"  jobs sum {total_job:.3f}s vs wall {wall:.3f}s "
              f"(gap = driver/planning/py4j)")
        before |= {j["jobId"] for j in new}
    spark.stop()


if __name__ == "__main__":
    main()
