"""Many-file Iceberg commit rehearsal (r12, VERDICT #5).

The commit path is O(#files) DRIVER work by design (footer stats +
manifest rows + manifest-list rewrite) — this measures it at the
file counts a real bulk backfill produces, instead of asserting it
in prose:

1. append a DataFrame forced into N tiny parquet files (default
   6000 via ``repartition(N)``) — stage wall (distributed write +
   driver footer reads) and commit wall (manifest Avro + manifest
   list + metadata JSON) timed separately;
2. verify the manifest FAN-OUT engaged (``MANIFEST_MAX_ENTRIES``
   chunks, none above the cap);
3. re-plan the table (every manifest opened) and count records;
4. append a SECOND small batch and time its commit — the marginal
   commit must scale with the NEW files plus the manifest-LIST
   rewrite (one row per existing manifest), never with total table
   files.

Usage: python tools/rehearse_commit.py [n_files] [sf_dir]
Prints one JSON line; exits non-zero if fan-out failed or the second
commit rewrote history.
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_tools_spark.session import get_spark  # noqa: E402


def main() -> int:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 6000
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    from hadoop_tools_spark.sources.iceberg import IcebergReader, IcebergTable

    spark = get_spark("commit-rehearsal")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    n_rows = orders.count()
    path = "/tmp/spark_graft_scratch/rehearse_commit"
    import shutil

    shutil.rmtree(path, ignore_errors=True)

    # empty-create, then one big timed append of n_files tiny files
    tbl = IcebergTable.create(spark, path, orders.limit(0), overwrite=True)

    big = orders.repartition(n_files)
    t0 = time.time()
    entries = tbl._stage(spark, big)
    t_stage = time.time() - t0
    t0 = time.time()
    tbl.commit([(entries, 0, 0)])
    t_commit = time.time() - t0

    meta_dir = os.path.join(path, "metadata")
    manifests = [f for f in os.listdir(meta_dir) if "-m" in f
                 and f.endswith(".avro")]
    manifest_bytes = sum(
        os.path.getsize(os.path.join(meta_dir, f)) for f in manifests
    )
    md_bytes = max(
        os.path.getsize(os.path.join(meta_dir, f))
        for f in os.listdir(meta_dir) if f.endswith(".metadata.json")
    )

    # read-back: plan opens every manifest; counts must reconcile
    rd = IcebergReader(path)
    t0 = time.time()
    plan = rd.plan()
    t_plan = time.time() - t0
    plan_rows = sum(d["record_count"] for d in plan["data"])

    # marginal commit: 8 more files on top of n_files existing
    t0 = time.time()
    tbl.append(spark, orders.limit(800).repartition(8))
    t_second = time.time() - t0

    rd2 = IcebergReader(path)
    total_rows = sum(
        d["record_count"] for d in rd2.plan()["data"]
    )

    cap = IcebergTable.MANIFEST_MAX_ENTRIES
    expected_fanout = -(-len(entries) // cap)
    out = {
        "n_files": len(entries),
        "n_rows": n_rows,
        "stage_s": round(t_stage, 2),
        "commit_s": round(t_commit, 2),
        "plan_s": round(t_plan, 2),
        "second_commit_s": round(t_second, 2),
        "manifests": len(manifests),
        "manifest_fanout_expected": expected_fanout,
        "manifest_bytes": manifest_bytes,
        "metadata_json_bytes": md_bytes,
        "manifest_bytes_per_file": round(manifest_bytes / len(entries), 1),
        "py_rss_mb": round(
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1),
        "rows_reconcile": plan_rows == n_rows,
        "rows_after_second": total_rows,
    }
    print(json.dumps(out))
    if len(manifests) < expected_fanout:
        print("FAIL: manifest fan-out did not engage", file=sys.stderr)
        return 1
    if not out["rows_reconcile"] or total_rows != n_rows + 800:
        print("FAIL: row counts do not reconcile", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
