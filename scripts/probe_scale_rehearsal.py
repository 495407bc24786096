"""100x-corpus probe rehearsal (r9 methodology, r10 pruning A/B).

Fixes the probe batch at ~500 docs and grows the indexed corpus 1x /
10x / 100x with disjoint-id, distinct-text replicas, then times the
persisted-index probes (min of 2 runs after clearCache) with scan
pruning ON vs OFF. The r9 finding was probe x2.1 at corpus x100 with
byte-identical matches — candidate and verify work stayed batch-sized
and the residual was the corpus-linear band/shingle/summary scans; the
r10 IN-filter pushdown + single-column bucket pruning exists to flatten
exactly that residual. Run from the repo root:

    python scripts/probe_scale_rehearsal.py [sf_dir]

Prints one JSON line per (family, factor, prune) cell plus a summary.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from dsacord_spark.operators.dedup import (
        SIMHASH_BITS,
        build_hamming_index,
        build_minhash_index,
        probe_hamming_index,
        probe_minhash_index,
        simhash_signatures,
    )
    from dsacord_spark.session import get_spark

    spark = get_spark(app_name="probe-rehearsal")
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    batch = d.filter(F.col("doc_id") % 10 == 0)
    base = d.filter(F.col("doc_id") % 10 != 0)
    batch_sig = simhash_signatures(batch, "doc_id", "text")
    results = []
    for factor in (1, 10, 100):
        # disjoint ids, distinct text so the index genuinely grows
        corpus = base
        for i in range(1, factor):
            corpus = corpus.union(
                base.select(
                    (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                    F.concat(
                        F.col("text"), F.lit(f" replica-{i}")
                    ).alias("text"),
                )
            )
        for fam in ("minhash", "simhash"):
            t = f"t_reh_{fam}"
            t0 = time.perf_counter()
            if fam == "minhash":
                build_minhash_index(
                    corpus, "doc_id", "text", t, n=3, n_perm=32, bands=8,
                    buckets=64,
                )
            else:
                csig = simhash_signatures(corpus, "doc_id", "text").persist()
                build_hamming_index(
                    csig, "doc", "simhash", t, n_bands=4,
                    hash_bits=SIMHASH_BITS, buckets=64,
                )
                csig.unpersist()
            build_s = time.perf_counter() - t0
            from dsacord_spark.operators.dedup import _PRUNE_AUTO_MIN_BYTES
            from dsacord_spark.sinks.parquet import table_files

            idx_bytes = sum(
                table_files(spark, f"{t}_{s}")[1]
                for s in (("bands", "shingles") if fam == "minhash"
                          else ("bands", "summary"))
            )
            for prune in (True, False):
                times, n_dups = [], None
                for _rep in range(2):
                    spark.catalog.clearCache()
                    t1 = time.perf_counter()
                    if fam == "minhash":
                        out = probe_minhash_index(
                            spark, t, batch, "doc_id", "text", prune=prune,
                        )
                    else:
                        out = probe_hamming_index(
                            spark, t, batch_sig, "doc", "simhash",
                            prune=prune,
                        )
                    n_dups = out.filter(F.col("is_dup")).count()
                    times.append(round(time.perf_counter() - t1, 2))
                cell = {
                    "family": fam, "factor": factor, "prune": prune,
                    "build_s": round(build_s, 1),
                    "probe_s_min": min(times), "probe_runs": times,
                    "dups": n_dups,
                    "index_mib": round(idx_bytes / (1 << 20), 1),
                    "auto_would_prune": idx_bytes >= _PRUNE_AUTO_MIN_BYTES,
                }
                results.append(cell)
                print(json.dumps(cell), flush=True)
            for s in (("bands", "shingles", "meta") if fam == "minhash"
                      else ("summary", "bands", "meta")):
                spark.sql(f"DROP TABLE IF EXISTS {t}_{s}")
    summary = {}
    for fam in ("minhash", "simhash"):
        for prune in (True, False):
            cells = {c["factor"]: c["probe_s_min"] for c in results
                     if c["family"] == fam and c["prune"] == prune}
            summary[f"{fam}_prune_{prune}"] = {
                "x1": cells.get(1), "x10": cells.get(10),
                "x100": cells.get(100),
                "growth_100x": (
                    round(cells[100] / cells[1], 2)
                    if cells.get(1) and cells.get(100) else None
                ),
            }
    print(json.dumps({"summary": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
