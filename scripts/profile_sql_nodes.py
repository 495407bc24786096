"""Per-operator (SQL-tab) metrics for one catalog entry: run the entry
REPS times warm, then dump the LAST execution's plan-node metrics from
the UI REST API — the decisive attribution the stage view can't give
(which operator inside a 32-task stage burned the executor time).

Usage: [REPS=3] python scripts/profile_sql_nodes.py name
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from datetime import datetime, timezone


def _api(base: str, path: str):
    with urllib.request.urlopen(base + path) as r:
        return json.loads(r.read())


def _submitted_s(execution: dict) -> float:
    """Epoch seconds of an execution's submissionTime (the REST API's
    yyyy-MM-dd'T'HH:mm:ss.SSS'GMT' form)."""
    ts = datetime.strptime(execution["submissionTime"], "%Y-%m-%dT%H:%M:%S.%fGMT")
    return ts.replace(tzinfo=timezone.utc).timestamp()


def main() -> None:
    name = sys.argv[1]
    reps = int(os.environ.get("REPS", "3"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from dsacord_spark.plans.catalog import specs
    from dsacord_spark.session import get_spark

    spark = get_spark(app_name="profile-sql-nodes", master=f"local[{cpus}]",
                      shuffle_partitions=cpus,
                      extra_conf={"spark.ui.enabled": "true"})
    sc = spark.sparkContext
    base = (f"http://localhost:{sc.uiWebUrl.rsplit(':', 1)[1]}"
            f"/api/v1/applications/{sc.applicationId}")
    reg = specs()
    for rep in range(reps):
        spark.catalog.clearCache()
        last_rep_start = time.time()
        t0 = time.perf_counter()
        reg[name].fn(spark, sf_dir).count()
        print(f"rep {rep}: {time.perf_counter()-t0:.2f}s", flush=True)
    execs = _api(base, "/sql?length=1000")
    # the last rep spans possibly several executions (persist jobs etc.);
    # dump every execution whose submission happened after its start
    for e in (e for e in execs if _submitted_s(e) >= last_rep_start):
        print(f"\n== execution {e['id']}: {e.get('duration')}ms "
              f"{e.get('description','')[:80]}")
        detail = _api(base, f"/sql/{e['id']}?details=true&planDescription=false")
        for node in detail.get("nodes", []):
            mets = {m["name"]: m["value"] for m in node.get("metrics", [])}
            keep = {k: v for k, v in mets.items() if any(
                s in k for s in ("time total", "rows", "time in aggregation",
                                  "spill", "build time", "collect"))}
            if keep:
                print(f"  [{node['nodeId']:>3}] {node['nodeName'][:46]:<46} "
                      + "; ".join(f"{k}={v}" for k, v in sorted(keep.items())))


if __name__ == "__main__":
    main()
