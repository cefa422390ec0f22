"""Z-order layout + snapshot table semantics (operators/layout.py,
sources/snapshots.py). Oracle parity covers the key values; these
prove the *layout* and *versioning* properties themselves.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F


def _file_stats(path, xcol, ycol):
    """Per-parquet-file (x, y) bounding boxes from row-group stats."""
    boxes = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        meta = pq.ParquetFile(os.path.join(path, f)).metadata
        cols = {meta.row_group(0).column(i).path_in_schema: i
                for i in range(meta.row_group(0).num_columns)}
        xmn = ymn = float("inf")
        xmx = ymx = float("-inf")
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            xs = g.column(cols[xcol]).statistics
            ys = g.column(cols[ycol]).statistics
            xmn, xmx = min(xmn, xs.min), max(xmx, xs.max)
            ymn, ymx = min(ymn, ys.min), max(ymx, ys.max)
        boxes.append((xmn, xmx, ymn, ymx))
    return boxes


def _files_matching_y(boxes, ylo, yhi):
    return sum(1 for _, _, ymn, ymx in boxes if not (ymx < ylo or ymn > yhi))


def test_zorder_prunes_second_dimension(spark, sf_dir, tmp_path):
    """The point of z-order: min/max file stats prune predicates on
    BOTH clustered dimensions. A single-column x-sort leaves every
    file's y-span near-full, so a y-range predicate must open every
    file; the z-ordered layout skips most of them."""
    from hadoop_tools_spark.operators.layout import write_zordered

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    b = orders.agg(
        F.min("o_totalprice"), F.max("o_totalprice")
    ).collect()[0]
    ymn, ymx = b[0], b[1]
    ylo, yhi = ymn, ymn + (ymx - ymn) * 0.1  # narrow 10% y-slice

    zpath = str(tmp_path / "zorder")
    spath = str(tmp_path / "singlesort")
    write_zordered(orders, zpath, "o_custkey", "o_totalprice", n_files=32)
    (
        orders.repartitionByRange(32, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite").parquet(spath)
    )

    zhit = _files_matching_y(
        _file_stats(zpath, "o_custkey", "o_totalprice"), ylo, yhi)
    shit = _files_matching_y(
        _file_stats(spath, "o_custkey", "o_totalprice"), ylo, yhi)
    # x-sorted layout: every file intersects the y-slice; z-order
    # skips at least half of the files
    assert shit >= 30, shit
    assert zhit <= shit // 2, (zhit, shit)


def test_zvalue_locality(spark, sf_dir):
    """Adjacent z-values differ in few low bucket bits: check the
    round-trip de-interleave reproduces the buckets (bijectivity)."""
    from hadoop_tools_spark.operators.layout import zorder_layout

    rows = zorder_layout(spark, sf_dir).limit(500).collect()
    for r in rows:
        x = y = 0
        for i in range(8):
            x |= ((r.zval >> (2 * i)) & 1) << i
            y |= ((r.zval >> (2 * i + 1)) & 1) << i
        assert (x, y) == (r.xb, r.yb)


def test_snapshot_time_travel_and_isolation(spark, sf_dir, tmp_path):
    from hadoop_tools_spark.sources.snapshots import SnapshotTable

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    tbl = SnapshotTable(str(tmp_path / "snap"))
    v0 = tbl.create(orders.filter("o_orderkey % 2 = 0"))
    n0 = tbl.read(spark).count()
    v1 = tbl.append(orders.filter("o_orderkey % 2 = 1"))
    assert (v0, v1) == (0, 1)
    # historic snapshot unchanged after append
    assert tbl.read(spark, version=0).count() == n0
    assert tbl.read(spark, version=1).count() == orders.count()
    # overwrite publishes new file set; old versions still readable
    v2 = tbl.overwrite(orders.limit(10))
    assert v2 == 2
    assert tbl.read(spark, version=2).count() == 10
    assert tbl.read(spark, version=1).count() == orders.count()
    assert tbl.versions() == [0, 1, 2]


def test_snapshot_crash_leaves_no_partial_commit(spark, sf_dir, tmp_path):
    """Staged data files without a published manifest are invisible."""
    from hadoop_tools_spark.sources.snapshots import SnapshotTable

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(100)
    tbl = SnapshotTable(str(tmp_path / "snap2"))
    tbl.create(orders)
    # simulate a writer crash: stage files, never publish
    tbl._stage(orders, "99999")
    assert tbl.latest_version() == 0
    assert tbl.read(spark).count() == 100


def test_mv_incremental_merge_algebra(spark, sf_dir):
    """Merged partials equal the direct aggregate for every measure."""
    from hadoop_tools_spark.operators.layout import mv_incremental

    got = {r.o_orderpriority: r for r in mv_incremental(spark, sf_dir).collect()}
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    direct = spark.read.parquet(f"{sf_dir}/orders.parquet").groupBy(
        "o_orderpriority"
    ).agg(
        F.count("*").alias("cnt"),
        (F.sum(cents) / 100.0).alias("total"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )
    for r in direct.collect():
        g = got[r.o_orderpriority]
        assert (g.cnt, g.min_price, g.max_price) == (
            r.cnt, r.min_price, r.max_price
        )
        # integer-cents partials: merged == direct EXACTLY (the old
        # float-sum formulation drifted up to 0.02 between the two)
        assert g.total == r.total


def test_snapshot_concurrent_commit_no_lost_update(spark, sf_dir, tmp_path):
    """Two writers racing on the same version: put-if-absent makes one
    publish fail and rebase, so BOTH appends land (no lost update) —
    the clobbering-rename design would silently drop one."""
    from hadoop_tools_spark.sources.snapshots import (
        CommitConflict,
        SnapshotTable,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey"
    )
    tbl = SnapshotTable(str(tmp_path / "race"))
    tbl.create(orders.limit(10))

    # simulate the race: writer A stages + publishes v1 directly...
    files_a = tbl._stage(orders.limit(5), "a")
    base = tbl._manifest(0)["files"]
    tbl._publish(base + files_a, 1)
    # ...writer B (who also read latest=0) tries the same version
    files_b = tbl._stage(orders.limit(7), "b")
    with pytest.raises(CommitConflict):
        tbl._publish(base + files_b, 1)
    # B rebases exactly as append() does and lands on v2
    tbl._publish(tbl._manifest(1)["files"] + files_b, 2)
    assert tbl.read(spark, version=2).count() == 10 + 5 + 7

    # the public append() API does the retry loop itself
    tbl.append(orders.limit(3))
    assert tbl.read(spark).count() == 25


def test_snapshot_compaction_packs_files_keeps_history(
    spark, sf_dir, tmp_path
):
    """OPTIMIZE: many small files -> few packed files as a new
    version; row multiset identical; historic versions untouched."""
    from hadoop_tools_spark.sources.snapshots import SnapshotTable, compact

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    tbl = SnapshotTable(str(tmp_path / "opt"))
    # 6 tiny commits -> many small files
    tbl.create(orders.filter("o_orderkey % 6 = 0").repartition(3))
    for m in range(1, 6):
        tbl.append(orders.filter(f"o_orderkey % 6 = {m}").repartition(3))
    v_before = tbl.latest_version()
    n_files_before = len(tbl.files())
    assert n_files_before >= 12

    v_new = compact(tbl, spark, target_files=4)
    assert v_new == v_before + 1
    assert len(tbl.files()) == 4
    # same rows, bit-for-bit multiset
    a = sorted(r.o_orderkey for r in tbl.read(spark, version=v_before).collect())
    b = sorted(r.o_orderkey for r in tbl.read(spark).collect())
    assert a == b and len(a) == orders.count()
    # history intact: the pre-compaction version still reads its files
    assert len(tbl.files(v_before)) == n_files_before
    assert tbl.read(spark, version=v_before).count() == len(a)


def test_snapshot_row_deletes_merge_on_read(spark, sf_dir, tmp_path):
    """Equality-delete contract corners: the delete commit must not
    touch data files; reads at the delete version exclude the keys;
    time travel before the delete still sees them; re-inserts after
    the delete survive (strictly-older-sequence rule); compaction
    materializes the delete away (no `deletes` in the new manifest);
    the change feed between pre/post-delete versions emits exactly the
    removals."""
    from hadoop_tools_spark.sources.snapshots import SnapshotTable, compact

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    tbl = SnapshotTable(str(tmp_path / "mor"))
    tbl.create(orders.filter("o_orderkey % 2 = 0"))
    tbl.append(orders.filter("o_orderkey % 2 = 1"))
    all_keys = {r.o_orderkey for r in tbl.read(spark).select("o_orderkey").collect()}

    doomed = orders.filter("o_orderkey % 5 = 0").select("o_orderkey")
    doomed_keys = {r.o_orderkey for r in doomed.collect()}
    v2 = tbl.delete_where(doomed)
    assert v2 == 2
    # data files untouched: same file list as v1, plus a deletes entry
    assert tbl._manifest(2)["files"] == tbl._manifest(1)["files"]
    assert len(tbl._manifest(2)["deletes"]) >= 1

    # read at the delete version excludes exactly the doomed keys
    got2 = {r.o_orderkey for r in tbl.read(spark).select("o_orderkey").collect()}
    assert got2 == all_keys - doomed_keys
    # time travel BEFORE the delete still sees them
    got1 = {
        r.o_orderkey
        for r in tbl.read(spark, version=1).select("o_orderkey").collect()
    }
    assert got1 == all_keys

    # change feed v1 -> v2: removals only, exactly the doomed rows
    old, new = tbl.read(spark, version=1), tbl.read(spark, version=2)
    removed = old.exceptAll(new)
    added = new.exceptAll(old)
    assert added.count() == 0
    assert {
        r.o_orderkey for r in removed.select("o_orderkey").collect()
    } == doomed_keys

    # re-insert a subset of the deleted keys: they must SURVIVE the
    # pending delete (its sequence is older than theirs)
    reinsert = orders.filter("o_orderkey % 5 = 0 AND o_orderkey % 2 = 0")
    tbl.append(reinsert)
    back = {r.o_orderkey for r in reinsert.select("o_orderkey").collect()}
    got3 = {r.o_orderkey for r in tbl.read(spark).select("o_orderkey").collect()}
    assert got3 == (all_keys - doomed_keys) | back

    # compaction materializes the delete: rows identical, deletes gone
    v4 = compact(tbl, spark)
    assert "deletes" not in tbl._manifest(v4)
    a = sorted(r.o_orderkey for r in tbl.read(spark, version=3).collect())
    b = sorted(r.o_orderkey for r in tbl.read(spark, version=4).collect())
    assert a == b


def test_snapshot_upsert_single_commit(spark, sf_dir, tmp_path):
    """upsert = new data files + an equality-delete of their keys in
    ONE manifest version: updated keys take the new payload, new keys
    insert, untouched keys survive — and the staged rows themselves
    are immune to their own delete (same sequence, strict comparison)."""
    from pyspark.sql import functions as F

    from hadoop_tools_spark.sources.snapshots import SnapshotTable

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    ).limit(200)
    tbl = SnapshotTable(str(tmp_path / "ups"))
    tbl.create(orders.filter("o_orderkey % 2 = 0"))
    v_before = tbl.latest_version()

    changes = (
        orders.filter("o_orderkey % 4 = 0")  # updates (already present)
        .unionAll(orders.filter("o_orderkey % 2 = 1").limit(10))  # inserts
        .withColumn("o_totalprice", F.lit(-1.0))
    )
    v = tbl.upsert(changes, ["o_orderkey"])
    assert v == v_before + 1  # exactly one version advance

    got = {r.o_orderkey: r.o_totalprice for r in tbl.read(spark).collect()}
    chg = {r.o_orderkey for r in changes.select("o_orderkey").collect()}
    base = {
        r.o_orderkey: r.o_totalprice
        for r in orders.filter("o_orderkey % 2 = 0").collect()
    }
    assert set(got) == set(base) | chg
    for k, price in got.items():
        assert price == (-1.0 if k in chg else base[k]), k


def test_snapshot_upsert_survives_lost_cas_race(spark, sf_dir, tmp_path):
    """r9 review regression: commit sequences must come from the
    MANIFEST (group_seq), not the staged dir name. An upsert that
    loses a CAS race publishes at a LATER version than its dir name
    was minted for; with dir-name-derived sequences its own equality
    delete (seq = real version) strictly exceeded its data's stale
    sequence and erased the entire upsert payload on read."""
    from pyspark.sql import functions as F

    from hadoop_tools_spark.sources.snapshots import SnapshotTable

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    ).limit(100)
    tbl = SnapshotTable(str(tmp_path / "race_ups"))
    tbl.create(orders.filter("o_orderkey % 2 = 0"))

    # interleave a racing append between the upsert's stage and its
    # first publish attempt: the first publish call first steals the
    # version for the racer, so the upsert's CAS loses and rebases
    orig_publish = tbl._publish
    state = {"raced": False}

    def racy(files, version, extra=None):
        if not state["raced"]:
            state["raced"] = True
            prev = tbl._manifest(version - 1)
            orig_publish(
                list(prev["files"]), version,
                extra={
                    "stats": prev.get("stats", {}),
                    "group_seq": prev.get("group_seq", {}),
                },
            )
        return orig_publish(files, version, extra)

    tbl._publish = racy
    changes = orders.filter("o_orderkey % 4 = 0").withColumn(
        "o_totalprice", F.lit(-7.0)
    )
    v = tbl.upsert(changes, ["o_orderkey"])
    tbl._publish = orig_publish
    # create=0, racer stole 1, upsert rebased onto 2 — while its
    # staged dir name still says "data-00001-..."
    assert v == 2

    got = {r.o_orderkey: r.o_totalprice for r in tbl.read(spark).collect()}
    chg = {r.o_orderkey for r in changes.select("o_orderkey").collect()}
    assert chg, "fixture produced no changed keys"
    # the upsert's OWN payload must survive its own delete
    for k in chg:
        assert got.get(k) == -7.0, (k, got.get(k))


def test_snapshot_delete_null_keys_delete_nothing(spark, sf_dir, tmp_path):
    """A NULL key tuple in a delete file matches no row (SQL equality
    in the anti-join) — documented convention, pinned so a future
    null-safe-equality 'fix' can't silently mass-delete."""
    from pyspark.sql import functions as F

    from hadoop_tools_spark.sources.snapshots import SnapshotTable

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    ).limit(50)
    tbl = SnapshotTable(str(tmp_path / "nulldel"))
    tbl.create(orders)
    n = tbl.read(spark).count()
    nulls = spark.range(1).select(
        F.lit(None).cast("long").alias("o_orderkey")
    )
    tbl.delete_where(nulls)
    assert tbl.read(spark).count() == n


def test_iceberg_delete_null_keys_delete_null_rows(spark, tmp_path):
    """The other side of the rule above: an Iceberg equality delete
    matches null-safe (spec), so a NULL delete key removes exactly the
    NULL-keyed rows. The snapshot table over the same rows keeps them,
    because it hands the shared merge a delete frame without its
    NULL-key rows."""
    from hadoop_tools_spark.sources.iceberg import IcebergReader, IcebergTable
    from hadoop_tools_spark.sources.snapshots import SnapshotTable

    rows = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (4, "b")], "k long, s string"
    )
    null_key = spark.createDataFrame([(None,)], "s string")
    path = str(tmp_path / "ice_nulldel")
    tbl = IcebergTable.create(spark, path, rows)
    tbl.delete_where_equal(spark, null_key)
    got = sorted(r.k for r in IcebergReader(path).read(spark).collect())
    assert got == [1, 4]

    snap = SnapshotTable(str(tmp_path / "snap_nulldel"))
    snap.create(rows)
    snap.delete_where(null_key)
    assert sorted(r.k for r in snap.read(spark).collect()) == [1, 2, 3, 4]


def test_snapshot_position_deletes_under_encoded_path(spark, tmp_path):
    """Spark reports a scan's file path percent-encoded: a table
    directory with a space must still match its position deletes, so
    10 deleted ordinals of a 100-row file leave 90 rows."""
    from hadoop_tools_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(str(tmp_path / "with space" / "posdel"))
    tbl.create(spark.range(100).repartition(1).sortWithinPartitions("id"))
    target = os.path.relpath(tbl.files(0)[0], tbl.path)
    tbl.delete_positions(
        spark.range(0, 100, 10, numPartitions=1).select(
            F.lit(target).alias("file"), F.col("id").alias("pos")
        )
    )
    got = tbl.read(spark)
    assert got.count() == 90
    assert got.filter(F.col("id") % 10 == 0).count() == 0


def test_snapshot_partitioned_commit_rejects_empty_string(spark, tmp_path):
    """Hive staging writes '' and NULL partition values to the same
    directory, so a snapshot partitioned commit fails closed on '' with
    the same ValueError the Delta and Iceberg writers raise, before
    anything is published. NULL partition values keep their home."""
    from hadoop_tools_spark.sources.snapshots import SnapshotTable

    df = spark.createDataFrame(
        [(1, "x"), (2, ""), (3, None)], "k long, p string"
    )
    tbl = SnapshotTable(str(tmp_path / "emptypart"))
    tbl.create(df.filter("k = 1"))
    with pytest.raises(ValueError, match="empty-string partition"):
        tbl.append(df.filter("k > 1"), partition_by=["p"])
    assert tbl.versions() == [0]
    tbl.append(df.filter("k = 3"), partition_by=["p"])
    got = sorted((r.k, r.p) for r in tbl.read(spark).collect())
    assert got == [(1, "x"), (3, None)]


def test_snapshot_pruned_read_applies_deletes(spark, sf_dir, tmp_path):
    """read_pruned composes file skipping with the merge-on-read
    anti-join: pruning must never resurrect deleted rows."""
    from hadoop_tools_spark.sources.snapshots import SnapshotTable
    from hadoop_tools_spark.sources.tablecore import PATH, POS, SEQ

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    m = orders.agg({"o_custkey": "max"}).collect()[0][0]
    tbl = SnapshotTable(str(tmp_path / "prdel"))
    tbl.create(orders.filter(f"o_custkey < {m // 2}"))
    tbl.append(orders.filter(f"o_custkey >= {m // 2}"))
    tbl.delete_where(
        orders.filter("o_orderkey % 3 = 0").select("o_orderkey")
    )
    lo, hi = m // 10, (3 * m) // 10
    pruned = tbl.read_pruned(spark, {"o_custkey": (lo, hi)})
    got = {
        r.o_orderkey
        for r in pruned.filter(
            f"o_custkey BETWEEN {lo} AND {hi}"
        ).select("o_orderkey").collect()
    }
    want = {
        r.o_orderkey
        for r in orders.filter(
            f"o_custkey BETWEEN {lo} AND {hi} AND o_orderkey % 3 <> 0"
        ).select("o_orderkey").collect()
    }
    assert got == want
    assert not {PATH, POS, SEQ} & set(pruned.columns)


def test_snapshot_position_deletes_bind_to_named_file(spark, sf_dir, tmp_path):
    """Position deletes name ONE immutable file: the same ordinals in
    a different file survive, time travel before the delete sees all
    rows, and equality + position deletes compose in one table."""
    from pyspark.sql import functions as F

    from hadoop_tools_spark.sources.snapshots import SnapshotTable

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    evens = orders.filter("o_orderkey % 2 = 0").limit(40)
    odds = orders.filter("o_orderkey % 2 = 1").limit(40)
    tbl = SnapshotTable(str(tmp_path / "posbind"))
    tbl.create(evens.repartition(1).sortWithinPartitions("o_orderkey"))
    tbl.append(odds.repartition(1).sortWithinPartitions("o_orderkey"))
    import os as _os

    f0 = _os.path.relpath(tbl.files(0)[0], tbl.path)
    ev_sorted = sorted(r.o_orderkey for r in evens.collect())
    od_sorted = sorted(r.o_orderkey for r in odds.collect())

    # delete ordinals 0..4 of the EVEN file only
    tbl.delete_positions(
        spark.range(0, 5).select(
            F.lit(f0).alias("file"), F.col("id").alias("pos")
        )
    )
    got = sorted(r.o_orderkey for r in tbl.read(spark).collect())
    assert got == sorted(ev_sorted[5:] + od_sorted)
    # same ordinals of the odd file untouched; time travel intact
    assert tbl.read(spark, version=1).count() == 80

    # compose with an equality delete: drop the largest odd key too
    tbl.delete_where(
        spark.createDataFrame(
            [(od_sorted[-1],)], "o_orderkey long"
        )
    )
    got2 = sorted(r.o_orderkey for r in tbl.read(spark).collect())
    assert got2 == sorted(ev_sorted[5:] + od_sorted[:-1])


def test_snapshot_bloom_point_pruning(spark, sf_dir, tmp_path):
    """Bloom point-skipping: on a hash-distributed key every file's
    min/max overlaps (range pruning keeps ALL files), but the bloom
    prunes a point lookup to ~1 chunk; missing blooms keep every
    file; results always equal the full read's filter; deletes
    compose with the bloom-pruned read."""
    from pyspark.sql import functions as F

    from hadoop_tools_spark.sources.snapshots import SnapshotTable

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    tbl = SnapshotTable(str(tmp_path / "bloom"), bloom_cols=["o_orderkey"])
    tbl.create(orders.filter("o_orderkey % 4 = 0"))
    for c in range(1, 4):
        tbl.append(orders.filter(f"o_orderkey % 4 = {c}"))
    total = len(tbl.files())
    assert total >= 4

    # a MID-RANGE key: every chunk's [min, max] spans it, so range
    # stats cannot prune (the extreme keys COULD be range-pruned —
    # only their own chunk's max reaches them)
    mx = orders.agg(F.max("o_orderkey")).collect()[0][0]
    key = (
        orders.filter(F.col("o_orderkey") <= mx // 2)
        .agg(F.max("o_orderkey"))
        .collect()[0][0]
    )
    assert len(tbl.pruned_files({"o_orderkey": (key, key)})) == total
    # the bloom prunes to far fewer files and never misses the real one
    planned = tbl.pruned_files_point("o_orderkey", key)
    assert 1 <= len(planned) <= total // 2, (len(planned), total)
    got = (
        tbl.read_point(spark, "o_orderkey", key)
        .filter(F.col("o_orderkey") == key)
        .collect()
    )
    want = orders.filter(F.col("o_orderkey") == key).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    # a column without blooms falls back to the full file list
    assert len(tbl.pruned_files_point("o_totalprice", 1.0)) == total

    # an absent key prunes everything but still returns empty cleanly
    absent = key + 1_000_003
    assert (
        tbl.read_point(spark, "o_orderkey", absent)
        .filter(F.col("o_orderkey") == absent)
        .count()
        == 0
    )

    # merge-on-read composes: delete the key, the point read drops it
    tbl.delete_where(
        spark.createDataFrame([(key,)], "o_orderkey long")
    )
    assert (
        tbl.read_point(spark, "o_orderkey", key)
        .filter(F.col("o_orderkey") == key)
        .count()
        == 0
    )


def test_snapshot_vacuum_keeps_live_delete_files(spark, sf_dir, tmp_path):
    """A delete file referenced by any RETAINED manifest must survive
    vacuum (deleting it would resurrect rows on the next merge-on-read
    pass); once no retained manifest references it, it goes."""
    import os as _os

    from hadoop_tools_spark.sources.snapshots import (
        SnapshotTable,
        compact,
        vacuum,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    ).limit(100)
    tbl = SnapshotTable(str(tmp_path / "vdel"))
    tbl.create(orders)
    tbl.delete_where(orders.filter("o_orderkey % 2 = 0").select("o_orderkey"))
    del_files = [d["file"] for d in tbl._manifest(1)["deletes"]]
    n_merged = tbl.read(spark).count()

    # retain v0 (pre-delete) and v1 (delete pending): delete file live
    vacuum(tbl, keep_last=2, orphan_grace_s=0)
    for f in del_files:
        assert _os.path.exists(_os.path.join(tbl.path, f)), f
    assert tbl.read(spark, version=1).count() == n_merged

    # compact (materializes), then retain only post-compaction: the
    # delete file is no longer referenced and the sweep removes it
    compact(tbl, spark)
    tbl.append(orders.limit(1))
    vacuum(tbl, keep_last=2, orphan_grace_s=0)
    for f in del_files:
        assert not _os.path.exists(_os.path.join(tbl.path, f)), f
    assert tbl.read(spark).count() == n_merged + 1


def test_snapshot_vacuum_retention(spark, sf_dir, tmp_path):
    """vacuum keeps the last N versions readable, removes expired
    manifests, unreferenced data files, and crash orphans — and a
    packed post-compaction table loses its small-file history."""
    from hadoop_tools_spark.sources.snapshots import (
        SnapshotTable,
        compact,
        vacuum,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey"
    )
    tbl = SnapshotTable(str(tmp_path / "vac"))
    tbl.create(orders.filter("o_orderkey % 3 = 0").repartition(2))
    tbl.append(orders.filter("o_orderkey % 3 = 1").repartition(2))
    tbl.append(orders.filter("o_orderkey % 3 = 2").repartition(2))
    compact(tbl, spark, target_files=2)
    tbl._stage(orders.limit(5), "orphan")  # crashed writer leftovers
    n_total = orders.count()

    import os as _os

    def on_disk():
        return {
            _os.path.relpath(_os.path.join(dirpath, f), tbl.path)
            for sub in _os.listdir(tbl.path)
            if sub.startswith("data-")
            for dirpath, _dirs, files in _os.walk(
                _os.path.join(tbl.path, sub)
            )
            for f in files
            if f.endswith(".parquet")
        }

    # default grace: expired manifests go now, but the fresh
    # never-referenced orphan is retained (it could be a concurrent
    # writer mid-commit) — and v2's keep_prev chain still references
    # the early small files, so they stay live too
    vacuum(tbl, keep_last=2)
    assert tbl.versions() == [2, 3]
    assert tbl.read(spark, version=3).count() == n_total
    assert tbl.read(spark, version=2).count() == n_total
    live = set(tbl._manifest(2)["files"]) | set(tbl._manifest(3)["files"])
    survivors = on_disk()
    assert live < survivors  # live kept, young orphan still present
    assert all("orphan" in p for p in survivors - live)

    # grace 0: the orphan sweep completes
    vacuum(tbl, keep_last=2, orphan_grace_s=0)
    assert on_disk() == live


def test_snapshot_vacuum_keeps_live_partitioned_commits(
    spark, sf_dir, tmp_path
):
    """Regression (review finding): a RETAINED partitioned commit
    nests its parquet under col=value dirs; vacuum's walk must see
    them (a one-level scan deleted the whole live commit dir)."""
    from pyspark.sql import functions as F

    from hadoop_tools_spark.sources.snapshots import SnapshotTable, vacuum

    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey", "o_orderdate")
        .withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM"))
        .drop("o_orderdate")
        .limit(200)
    )
    tbl = SnapshotTable(str(tmp_path / "pvac"))
    tbl.create(orders.filter("o_orderkey % 2 = 0"))
    tbl.append(orders.filter("o_orderkey % 2 = 1"), partition_by=["o_month"])
    tbl.append(orders.limit(7))
    n_v1 = tbl.read(spark, version=1).count()

    deleted = vacuum(tbl, keep_last=2, orphan_grace_s=0)
    assert tbl.versions() == [1, 2]
    # the partitioned commit's files survived and still read in full
    assert tbl.read(spark, version=1).count() == n_v1
    assert all("o_month=" not in p for p in deleted)


def test_snapshot_stats_prune_files(spark, sf_dir, tmp_path):
    """Manifest data skipping: per-file min/max stats written at commit
    time must let a selective predicate PLAN fewer files, and the
    pruned read must still return exactly the full read's matching
    rows (pruning is a plan property, never a result property)."""
    from hadoop_tools_spark.sources.snapshots import SnapshotTable

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    m = orders.agg(F.max("o_custkey")).collect()[0][0]
    tbl = SnapshotTable(str(tmp_path / "t"))
    q = [0, m // 4, m // 2, (3 * m) // 4, m + 1]
    tbl.create(orders.filter(F.col("o_custkey") < q[1]))
    for k in range(1, 4):
        tbl.append(orders.filter(
            (F.col("o_custkey") >= q[k]) & (F.col("o_custkey") < q[k + 1])
        ))

    total = len(tbl.files())
    # predicate inside the SECOND quartile only: commits 1, 3, 4 are
    # provably out of range, so at most ~1/4 of the files survive
    lo, hi = q[1], q[2] - 1
    pruned = tbl.pruned_files({"o_custkey": (lo, hi)})
    assert 0 < len(pruned) <= total // 2, (len(pruned), total)

    got = sorted(
        r.o_orderkey
        for r in tbl.read_pruned(spark, {"o_custkey": (lo, hi)})
        .filter(F.col("o_custkey").between(lo, hi)).collect()
    )
    want = sorted(
        r.o_orderkey
        for r in tbl.read(spark)
        .filter(F.col("o_custkey").between(lo, hi)).collect()
    )
    assert got == want and got

    # a predicate outside every file's range prunes ALL files and the
    # read degrades to an empty frame with the table schema
    none = tbl.read_pruned(spark, {"o_custkey": (m + 100, m + 200)})
    assert none.count() == 0
    assert set(none.columns) == {"o_orderkey", "o_custkey", "o_totalprice"}

    # stats survive appends: the latest manifest carries stats for
    # every live file (conservative {} allowed only for legacy)
    man = tbl._manifest(tbl.latest_version())
    assert set(man["stats"]) == set(man["files"])
    assert all("o_custkey" in s for s in man["stats"].values())


def test_snapshot_pruning_is_conservative_without_stats(
    spark, sf_dir, tmp_path
):
    """A manifest written before stats existed (or a column with no
    usable stats) must never prune — missing evidence keeps the file."""
    import json
    import os

    from hadoop_tools_spark.sources.snapshots import SnapshotTable

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    ).limit(100)
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.create(orders)
    # strip the stats like a legacy manifest would look
    mpath = os.path.join(tbl.manifest_dir, "v0.json")
    with open(mpath) as fh:
        man = json.load(fh)
    man.pop("stats", None)
    os.unlink(mpath)
    with open(mpath, "w") as fh:
        json.dump(man, fh)
    assert tbl.pruned_files({"o_custkey": (10**9, 10**9 + 1)}) == tbl.files()


def test_pruned_read_keeps_schema_of_fully_pruned_commit(
    spark, sf_dir, tmp_path
):
    """r8 review finding: if stats pruning eliminates EVERY file of a
    schema-evolved commit, the evolved columns must still exist in the
    pruned read's schema (as NULLs), or a caller's filter on them
    throws AnalysisException and pruning changes results."""
    from hadoop_tools_spark.sources.snapshots import SnapshotTable

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.create(
        o.filter(F.col("o_custkey") < 50).select("o_orderkey", "o_custkey")
    )
    # evolved commit adds o_totalprice AND lives in a disjoint key range
    tbl.append(
        o.filter(F.col("o_custkey") >= 100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )

    pruned = tbl.read_pruned(spark, {"o_custkey": (0, 40)})
    assert "o_totalprice" in pruned.columns
    # the filter a caller would apply on the evolved column must work
    n = pruned.filter(
        F.col("o_custkey").between(0, 40) & F.col("o_totalprice").isNull()
    ).count()
    assert n == pruned.filter(F.col("o_custkey").between(0, 40)).count() > 0


def test_snapshot_refs_wap_lifecycle(spark, sf_dir, tmp_path):
    """Branch/tag refs: staging commits stay invisible to main until
    a metadata-only fast-forward publishes them; tags never move."""
    import pytest

    from hadoop_tools_spark.sources.snapshots import (
        RefImmutable,
        SnapshotTable,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    tbl = SnapshotTable(str(tmp_path / "refs"))
    tbl.create(orders.filter("o_orderkey % 3 = 0"))
    tbl.set_ref("main", 0)
    tbl.set_ref("wap", 0)
    tbl.set_ref("base", 0, kind="tag")
    n0 = tbl.read_ref(spark, "main").count()

    tbl.append(orders.filter("o_orderkey % 3 = 1"))
    tbl.set_ref("wap", 1)
    # staging advanced; main is isolated
    assert tbl.read_ref(spark, "main").count() == n0
    assert tbl.read_ref(spark, "wap").count() > n0

    tbl.fast_forward("main", "wap")
    assert tbl.ref_version("main") == 1
    assert (
        tbl.read_ref(spark, "main").count()
        == tbl.read_ref(spark, "wap").count()
    )
    # the tag still pins the original snapshot, and cannot move
    assert tbl.read_ref(spark, "base").count() == n0
    with pytest.raises(RefImmutable):
        tbl.set_ref("base", 1, kind="tag")
    # moving a branch backward is not a fast-forward
    with pytest.raises(ValueError, match="backward"):
        tbl.fast_forward("wap", "base")


def test_snapshot_ref_cas_race_loses_loudly(spark, sf_dir, tmp_path):
    """Two writers racing to move one ref: the loser gets RefConflict
    (never a silent lost update) and a retry against the fresh state
    succeeds."""
    import pytest

    from hadoop_tools_spark.sources.snapshots import (
        RefConflict,
        SnapshotTable,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(50)
    tbl = SnapshotTable(str(tmp_path / "refs_race"))
    tbl.create(orders)
    tbl.append(orders.limit(10))
    tbl.set_ref("main", 0)

    # simulate the racing writer: its r1 record lands first
    racer = SnapshotTable(tbl.path)
    racer.set_ref("main", 1)
    # stale writer (saw seq 0) computes next_seq=1 and must conflict:
    # replay its sequence by removing our knowledge is impossible via
    # the public API, so drive set_ref and assert it either advances
    # past the racer or conflicts — here the racer already took r1,
    # and a fresh set_ref correctly appends r2 (reads latest first).
    rec = tbl.set_ref("main", 1)
    assert rec["seq"] == 2
    # a true stale write (duplicate seq) conflicts at the link layer
    import json as _json
    import os as _os

    d = _os.path.join(tbl.refs_dir, "main")
    tmp = _os.path.join(d, "r2.json.tmp-test")
    with open(tmp, "w") as fh:
        _json.dump({"name": "main", "kind": "branch", "version": 0,
                    "seq": 2}, fh)
    with pytest.raises(FileExistsError):
        _os.link(tmp, _os.path.join(d, "r2.json"))
    _os.unlink(tmp)
    # and the produced exception type at the API layer is RefConflict:
    # monkey-patch _ref_records to return a stale view
    stale = SnapshotTable(tbl.path)
    stale._ref_records = lambda name: [0, 1]  # type: ignore[method-assign]
    with pytest.raises(RefConflict):
        stale.set_ref("main", 1)


def test_snapshot_ref_guards(spark, sf_dir, tmp_path):
    """Refs reject path-hostile names and unpublished versions."""
    import pytest

    from hadoop_tools_spark.sources.snapshots import SnapshotTable

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(20)
    tbl = SnapshotTable(str(tmp_path / "refs_guard"))
    tbl.create(orders)
    with pytest.raises(ValueError, match="invalid ref name"):
        tbl.set_ref("../escape", 0)
    with pytest.raises(ValueError, match="invalid ref name"):
        tbl.set_ref("", 0)
    with pytest.raises(FileNotFoundError, match="unpublished"):
        tbl.set_ref("main", 7)
    tbl.set_ref("main", 0)
    with pytest.raises(ValueError, match="branch, not a"):
        # can't silently retype a branch into a tag
        tbl.set_ref("main", 0, kind="tag")


def test_snapshot_vacuum_keeps_ref_pinned_versions(spark, sf_dir, tmp_path):
    """A tagged version outside keep_last survives the retention sweep
    (refs are retention pins), and its read stays intact."""
    from hadoop_tools_spark.sources.snapshots import SnapshotTable, vacuum

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    tbl = SnapshotTable(str(tmp_path / "refs_vac"))
    tbl.create(orders.filter("o_orderkey % 4 = 0"))
    n0 = tbl.read(spark).count()
    for c in (1, 2, 3):
        tbl.append(orders.filter(f"o_orderkey % 4 = {c}"))
    tbl.set_ref("base", 0, kind="tag")

    deleted = vacuum(tbl, keep_last=1, orphan_grace_s=0.0)
    # v0 (tagged) and v3 (latest) retained; v1/v2 manifests expired
    assert tbl.versions() == [0, 3]
    assert tbl.read(spark, version=0).count() == n0
    assert tbl.read_ref(spark, "base").count() == n0
    assert tbl.read(spark, version=3).count() == orders.count()
    # nothing v0 references was deleted: appends share no files, and
    # v3 references v0's files too (cumulative manifests) — so the
    # sweep deleted nothing here; assert it did not break either read
    assert all(not f.startswith("data-00000") for f in deleted)


def test_snapshot_ref_review_hardening(spark, sf_dir, tmp_path):
    """r9s2 review pins: '.'/'..' names rejected (path escape), a
    ghost ref dir (crash between makedirs and link) doesn't break
    refs()/vacuum(), and a racy fast-forward loses LOUDLY via the
    expected-seq CAS instead of silently moving the branch backward."""
    import os

    import pytest

    from hadoop_tools_spark.sources.snapshots import (
        RefConflict,
        SnapshotTable,
        vacuum,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    tbl = SnapshotTable(str(tmp_path / "refs_hard"))
    tbl.create(orders.filter("o_orderkey % 2 = 0"))
    tbl.append(orders.filter("o_orderkey % 2 = 1"))
    tbl.set_ref("main", 0)
    tbl.set_ref("feature", 1)

    for bad in (".", ".."):
        with pytest.raises(ValueError, match="invalid ref name"):
            tbl.set_ref(bad, 0)

    # ghost dir: crashed writer left no record — refs() skips it
    os.makedirs(os.path.join(tbl.refs_dir, "ghost"), exist_ok=True)
    assert "ghost" not in tbl.refs()
    vacuum(tbl, keep_last=2, orphan_grace_s=3600.0)  # must not raise

    # TOCTOU fast-forward: reader validated against main@seq0, but a
    # racer moves main first — the pinned expected_seq must conflict
    racer = SnapshotTable(tbl.path)
    cur = tbl.ref("main")
    racer.set_ref("main", 1)  # racer advances main (r1)
    with pytest.raises(RefConflict):
        tbl.set_ref("main", tbl.ref_version("feature"),
                    expected_seq=cur["seq"])
    # the ref still points where the RACER put it — no silent move
    assert tbl.ref_version("main") == 1


def test_snapshot_upsert_single_retry_conflict_is_loud(
    spark, sf_dir, tmp_path
):
    """upsert(max_retries=1): a CAS conflict raises instead of
    silently rebasing — the streaming sink's zombie-writer contract."""
    import pytest

    from hadoop_tools_spark.sources.snapshots import (
        CommitConflict,
        SnapshotTable,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    ).limit(100)
    tbl = SnapshotTable(str(tmp_path / "ups1"))
    tbl.create(orders)

    real_publish = SnapshotTable._publish
    raced = {"done": False}

    def racing_publish(self, files, version, extra=None):
        # first publish attempt: simulate a zombie landing v1 first
        if not raced["done"]:
            raced["done"] = True
            real_publish(
                SnapshotTable(tbl.path),
                tbl._manifest(0)["files"], version,
                extra={"zombie": True},
            )
        return real_publish(self, files, version, extra=extra)

    SnapshotTable._publish = racing_publish
    try:
        with pytest.raises(CommitConflict):
            tbl.upsert(orders.limit(10), ["o_orderkey"], max_retries=1)
    finally:
        SnapshotTable._publish = real_publish
    # default retry budget still rebases fine
    v = tbl.upsert(orders.limit(10), ["o_orderkey"])
    assert v == tbl.latest_version()


def test_cluster_compact_enables_pruning(spark, sf_dir, tmp_path):
    """Clustering compaction: hash-distributed layout prunes nothing
    on a range predicate; after compact(cluster_by) the same stats
    machinery keeps only the files whose disjoint range intersects —
    and the row results are identical before/after."""
    from hadoop_tools_spark.sources.snapshots import SnapshotTable, compact

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tbl = SnapshotTable(str(tmp_path / "clus"))
    tbl.create(orders.filter("o_orderkey % 4 = 0"))
    for c in (1, 2, 3):
        tbl.append(orders.filter(f"o_orderkey % 4 = {c}"))
    pre_v = tbl.latest_version()
    iv = {"o_custkey": (100, 300)}
    pre_files = tbl.pruned_files(iv, version=pre_v)
    assert len(pre_files) == len(tbl.files(pre_v)), (
        "hash layout should prune nothing"
    )

    compact(tbl, spark, target_files=8, cluster_by=["o_custkey"])
    post_files = tbl.pruned_files(iv)
    assert len(tbl.files()) == 8
    assert len(post_files) < len(tbl.files()) / 2, (
        f"clustered layout should prune most files: {len(post_files)}/8"
    )
    # results identical across layouts
    got_pre = sorted(
        (r.o_orderkey, r.o_custkey)
        for r in tbl.read_pruned(spark, iv, version=pre_v)
        .filter("o_custkey BETWEEN 100 AND 300")
        .collect()
    )
    got_post = sorted(
        (r.o_orderkey, r.o_custkey)
        for r in tbl.read_pruned(spark, iv)
        .filter("o_custkey BETWEEN 100 AND 300")
        .collect()
    )
    assert got_pre == got_post and got_pre


def test_change_feed_replay_reproduces_state(spark, sf_dir, tmp_path):
    """Incremental CDF consumption: a consumer that checkpoints only
    its last-consumed version and applies each (v, v+1] feed in order
    (remove then add) reproduces every snapshot state exactly —
    across append, upsert, and merge-on-read delete commits — and a
    coarser checkpoint cadence (one big (0, latest] feed) lands on
    the same final state."""
    from collections import Counter

    from hadoop_tools_spark.sources.snapshots import (
        SnapshotTable,
        table_changes,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    tbl = SnapshotTable(str(tmp_path / "cdf"))
    tbl.create(orders.filter("o_orderkey % 3 = 0"))
    tbl.append(orders.filter("o_orderkey % 3 = 1"))
    tbl.upsert(
        orders.filter("o_orderkey % 6 = 0").withColumn(
            "o_totalprice", F.col("o_totalprice") * 0 + 1.0
        ),
        ["o_orderkey"],
    )
    tbl.delete_where(
        orders.filter("o_orderkey % 9 = 1").select("o_orderkey")
    )

    def snap(df):
        return Counter(
            (r.o_orderkey, round(r.o_totalprice, 2)) for r in df.collect()
        )

    state = Counter()
    latest = tbl.latest_version()
    for v in range(0, latest + 1):
        feed = (
            table_changes(tbl, spark, v - 1, v).collect()
            if v > 0
            else [
                type("R", (), {"change": "+", "o_orderkey": k,
                               "o_totalprice": p})
                for (k, p), n in snap(tbl.read(spark, version=0)).items()
                for _ in range(n)
            ]
        )
        for r in feed:
            key = (r.o_orderkey, round(r.o_totalprice, 2))
            if r.change == "+":
                state[key] += 1
            else:
                state[key] -= 1
                if state[key] == 0:
                    del state[key]
        assert state == snap(tbl.read(spark, version=v)), f"v{v}"

    # coarse checkpoint: one (0, latest] feed from the v0 state
    coarse = snap(tbl.read(spark, version=0))
    for r in table_changes(tbl, spark, 0, latest).collect():
        key = (r.o_orderkey, round(r.o_totalprice, 2))
        if r.change == "+":
            coarse[key] += 1
        else:
            coarse[key] -= 1
            if coarse[key] == 0:
                del coarse[key]
    assert coarse == state


def test_set_ref_expected_seq_must_equal_head(spark, sf_dir, tmp_path):
    """CAS means *equals the current head*: an expected_seq AHEAD of
    the latest record must RefConflict instead of publishing a gapped
    r{K} that silently becomes the ref head (r10 ADVICE fix), and a
    stale one conflicts as before; exactly-head advances."""
    import os

    import pytest

    from hadoop_tools_spark.sources.snapshots import (
        RefConflict,
        SnapshotTable,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(20)
    tbl = SnapshotTable(str(tmp_path / "refs_cas"))
    tbl.create(orders)
    tbl.append(orders.limit(5))
    tbl.set_ref("main", 0)  # r0
    tbl.set_ref("main", 1)  # r1 — head seq is now 1
    with pytest.raises(RefConflict):
        tbl.set_ref("main", 1, expected_seq=5)  # ahead → would gap
    with pytest.raises(RefConflict):
        tbl.set_ref("main", 1, expected_seq=0)  # stale → lost race
    rec = tbl.set_ref("main", 1, expected_seq=1)  # exact head wins
    assert rec["seq"] == 2
    published = sorted(
        int(f[1:-5])
        for f in os.listdir(os.path.join(tbl.refs_dir, "main"))
        if f.startswith("r") and f.endswith(".json")
    )
    assert published == [0, 1, 2]  # contiguous: no gapped record


def test_upsert_rejects_reserved_extra_keys(spark, sf_dir, tmp_path):
    """``extra`` merges last into the manifest, so reserved commit
    metadata keys must be rejected, not silently clobbered (r10
    ADVICE fix) — a caller-supplied ``deletes`` would otherwise wipe
    the equality-delete list and resurrect retired rows."""
    import pytest

    from hadoop_tools_spark.sources.snapshots import SnapshotTable

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(20)
    tbl = SnapshotTable(str(tmp_path / "upsert_reserved"))
    tbl.create(orders)
    for bad in ({"deletes": []}, {"files": []}, {"stats": {}}):
        with pytest.raises(ValueError, match="may not override"):
            tbl.upsert(orders.limit(5), ["o_orderkey"], extra=bad)
    # benign extra still lands in the manifest
    v = tbl.upsert(orders.limit(5), ["o_orderkey"],
                   extra={"batch_id": 7})
    assert tbl._manifest(v)["batch_id"] == 7


def test_bloom_int64_fast_path_consistency(tmp_path):
    """The vectorized int64 bloom (murmur3 double-hashing, r13 opt)
    must be deterministic, build/probe-consistent (no false
    negatives by construction), and tagged so md5 blooms from older
    manifests and non-int columns still probe via the md5 path."""
    import numpy as np

    from hadoop_tools_spark.sources.snapshots import SnapshotTable

    vals = np.array([0, 1, -1, 5000, 2**62, -(2**62)], dtype=np.int64)
    m, k = 640, 4
    p1 = SnapshotTable._bloom_positions_int64(vals, m, k)
    p2 = SnapshotTable._bloom_positions_int64(vals, m, k)
    assert all((a == b).all() for a, b in zip(p1, p2))  # deterministic
    assert all((pos >= 0).all() and (pos < m).all() for pos in p1)

    # build a bloom the way _collect_blooms does and probe every value
    bits = np.zeros(m // 8, dtype=np.uint8)
    for pos in p1:
        np.bitwise_or.at(
            bits, pos >> 3,
            np.left_shift(np.uint8(1), (pos & 7).astype(np.uint8)),
        )
    bloom = {"m": m, "k": k, "fn": "mm3_64", "bits": bits.tobytes().hex()}
    tbl = SnapshotTable.__new__(SnapshotTable)  # no table needed
    for v in vals.tolist():
        assert tbl._bloom_maybe_contains(bloom, v)  # never a miss
    # a non-int probe of an int bloom stays conservative (keeps file)
    assert tbl._bloom_maybe_contains(bloom, "not-an-int")

    # legacy md5 blooms (no fn tag) still probe via the md5 path
    legacy = {"m": 64, "k": 2, "bits": "ff" * 8}
    assert tbl._bloom_maybe_contains(legacy, 123)


def test_snapshot_group_schema_cache_reuses_and_isolates(spark, sf_dir, tmp_path):
    """_read_files caches each immutable commit group's inferred
    schema per (commit dir, mergeSchema, exact file set): a repeated
    read reuses the schema (skipping footer inference) with identical
    results, while a pruned subset or a different mergeSchema mode
    gets its own entry and can never reuse a mismatched schema."""
    from hadoop_tools_spark.sources.snapshots import SnapshotTable

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    tbl = SnapshotTable(str(tmp_path / "schemacache"))
    # first commit holds TWO files so a pruned subset below is a
    # proper subset of its group
    tbl.create(orders.filter("o_orderkey % 2 = 0").repartition(2))
    tbl.append(orders.filter("o_orderkey % 2 = 1"))

    first = tbl.read(spark)
    n_entries = len(tbl._group_schema_cache)
    assert n_entries >= 2  # one per commit group
    again = tbl.read(spark)
    # cache hit: no new entries, same schema, same contents
    assert len(tbl._group_schema_cache) == n_entries
    assert again.schema == first.schema
    assert again.count() == first.count()

    # a subset of one group's files must key separately
    files = tbl.files()
    subset = files[:1]
    tbl._read_files(spark, subset)
    assert len(tbl._group_schema_cache) > n_entries

    # mergeSchema mode keys separately from the plain read
    before = len(tbl._group_schema_cache)
    tbl._read_files(spark, files, merge_schema=True)
    assert len(tbl._group_schema_cache) > before


def test_snapshot_schema_sidecar_matches_inference(spark, sf_dir, tmp_path):
    """r14: unpartitioned flat-typed commit groups record their
    read-back schema in a ``_schema.json`` sidecar at stage time, so
    even the FIRST read of the group skips footer inference. The
    recorded schema must be byte-identical to what inference yields,
    partitioned groups must NOT record one (dir-name type re-inference
    could drift), and a fresh table instance reading sidecar-less vs
    sidecar-ed groups must return identical rows."""
    import os

    from pyspark.sql import functions as F

    from hadoop_tools_spark.sources.snapshots import SnapshotTable

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    tbl = SnapshotTable(str(tmp_path / "sidecar"))
    tbl.create(orders.filter("o_orderkey % 2 = 0"))
    group = sorted(
        g for g in os.listdir(tbl.path) if g.startswith("data-")
    )[0]
    sidecar = os.path.join(tbl.path, group, "_schema.json")
    assert os.path.exists(sidecar)
    # recorded == inferred, including field order and nullability
    inferred = spark.read.option(
        "basePath", os.path.join(tbl.path, group)
    ).parquet(os.path.join(tbl.path, group)).schema
    reader_schema = tbl.read(spark).schema
    assert reader_schema == inferred
    # partitioned commits skip the sidecar
    tbl.append(
        orders.filter("o_orderkey % 2 = 1").withColumn(
            "bucket", (F.col("o_orderkey") % 3).cast("int")
        ),
        partition_by=["bucket"],
    )
    part_group = [
        g for g in sorted(os.listdir(tbl.path))
        if g.startswith("data-") and g != group
    ][0]
    assert not os.path.exists(
        os.path.join(tbl.path, part_group, "_schema.json")
    )
    # a FRESH instance (empty instance cache) reads the mixed table
    # correctly: sidecar group pinned, partitioned group inferred
    fresh = SnapshotTable(tbl.path)
    rows = fresh.read(spark, merge_schema=True)
    assert rows.count() == orders.count()
