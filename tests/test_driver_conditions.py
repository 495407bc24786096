"""The driver's correctness gate runs __spark_entry__ queries in ITS OWN
SparkSession with ITS OWN (default) confs — not through our get_spark().
This test reproduces those conditions in a subprocess (a bare
SparkSession.builder with nothing but a master) and runs the queries
most likely to depend on session conf:

- an events query (session timezone pinning + ts encoding handling both
  live in plans/registry.table, which must self-provision),
- the UDTF and pandas-UDF entries (Arrow / Python-exec paths),
- the block-matmul kNN (collect-at-build + mapInPandas),
- a decimal aggregate (ANSI / decimal behavior).

Each is value-checked against its DuckDB oracle at sf0.001 inside the
subprocess. A hidden dependency on a get_spark() conf shows up here as
a subprocess failure even while the in-process suite stays green.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

# the checkout this file belongs to, whatever its path
_REPO = str(Path(__file__).resolve().parents[1])

_SCRIPT = r"""
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4]")
    .appName("driver-conditions")
    .getOrCreate()
)
import __spark_entry__ as m
from tests.oracle_harness import run_oracle, compare

SF = "/root/testdata/sf0.001"
# The driver's correctness gate runs the FIRST 50 queries() entries in
# its own bare session — sweep exactly that window (whatever the
# history-derived rotation currently puts there), plus a hand-picked set
# of conf-sensitive paths that may sit outside it.
extra = [
    "window_tumbling_hour",      # events: tz + ts encoding via table()
    "udtf_sentence_split",       # Python UDTF path
    "udaf_grouped_median",       # grouped-agg pandas UDF path
    "knn_label_accuracy",        # collect-at-build + mapInPandas
    "pricing_summary",           # decimal aggregate
    # a bare session writes INT96 parquet timestamps (no footer stats):
    # sessionize_bounded must hit its agg fallback for the sentinel probe
    "session_stateful",
    "stream_join_interval",      # bounded-stream runner under default confs
    "dedup_components",          # driver union-find small-graph path
    "decontaminate_bloom",       # bit_or/shift Column algebra under bare conf
    "embed_label_centroids",     # nested HOF lambdas + struct sort_array fold
]
window = list(m.queries())[:50]
names = window + [n for n in extra if n not in window]
osql = m.oracle_sql()
for name in names:
    if osql.get(name) is None:
        assert m.queries()[name](spark, SF).count() >= 0, name
        print(name, "OK rows-only")
        continue
    df = m.queries()[name](spark, SF)
    cols, rows = run_oracle(m.oracle_sql()[name], SF)
    problems = compare(df, cols, rows)
    assert not problems, f"{name}: {problems[:3]}"
    print(name, "OK", len(rows))
# rows-only kernels under a bare session (Arrow confs unset)
for name in ["multimodal_video_meta", "multimodal_audio_meta"]:
    assert m.queries()[name](spark, SF).count() > 0, name
    print(name, "OK rows-only")
print("DRIVER-CONDITIONS-PASS")
"""


def test_catalog_runs_in_bare_default_session():
    res = subprocess.run(
        [sys.executable, "-c", _SCRIPT, _REPO],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=_REPO,
    )
    assert res.returncode == 0, res.stdout[-2000:] + res.stderr[-4000:]
    assert "DRIVER-CONDITIONS-PASS" in res.stdout
